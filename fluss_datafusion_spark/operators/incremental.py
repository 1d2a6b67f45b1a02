"""Incremental deduplication against a persisted LSH index.

At 100 TB you do not re-run global dedup for every ingest batch: the
corpus's MinHash band-bucket assignment is computed ONCE, persisted as a
parquet index, and each new batch (a) probes the index for
batch-vs-corpus candidates and (b) dedups within itself — cost is
O(batch), never O(corpus).  No reference analog (the reference is a SQL
CLI over Fluss storage); this is the north-star extension surface.

Index layout (parquet at ``path``):
- ``buckets/``:  (__id__, __band__, __bucket__) — the LSH assignment
  (the same banding minhash_lsh_pairs uses, identical fixed seeds).
- ``shingles/``: (__id__, __sh__ array<string>) — per-doc shingle sets
  for exact verification of candidates.

Probing shuffles on (band, bucket) — the index side is pre-bucketed by
parquet partitioning; the verify stage joins shingles for CANDIDATE ids
only (never a corpus-wide broadcast — same discipline as
minhash_lsh_pairs post-r1).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_datafusion_spark.functions.text import word_shingles
from fluss_datafusion_spark.operators.dedup import (
    _attach_cached_deps,
    _bucket_local_pairs,
    minhash_band_buckets,
    release_candidate_cache,
)
from fluss_datafusion_spark.session import spread_small_scan


# Bump when the index layout or the shingle/minhash derivation changes:
# ensure_dedup_index treats a marker with a different format token as
# stale and rebuilds, so an index persisted by older code can never be
# silently probed with new semantics.
# v2: one-permutation hashing over rolling-polynomial token-hash
# shingles replaced the affine-permutation kernel — bucket values are
# incompatible, so v1 indexes must rebuild (probing them with the new
# kernel would silently miss every duplicate pair).
INDEX_FORMAT = "v2"


def _index_marker_path(path: str) -> str:
    return os.path.join(path, "_BUILT")


def _index_token(source_id, k: int, num_perm: int, rows_per_band: int) -> str:
    """``source_id``: the corpus identity — a row count (int) or an
    opaque snapshot/fingerprint string."""
    return (
        f"{INDEX_FORMAT}|k={k}|perm={num_perm}|rpb={rows_per_band}|n={source_id}"
    )


def ensure_dedup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
    source_id: Optional[str] = None,
) -> bool:
    """Build the corpus dedup index at ``path`` ONLY if it is absent or
    stale — the separation the 100 TB ingest story is about: the corpus
    index is a one-time (plus append) artifact, and per-batch probe cost
    must never pay the build.  Staleness = the ``_BUILT`` marker is
    missing or its token (format version + parameters + corpus
    identity) differs.  Returns True when a build actually ran.

    ``source_id`` is the corpus identity for the token — a snapshot /
    version id, or a source-file fingerprint; without it the fallback is
    one count() over ``df`` (a scan the probe path should not pay per
    batch, so callers on a versioned store should always pass one)."""
    token = _index_token(
        source_id if source_id is not None else df.count(),
        k, num_perm, rows_per_band,
    )
    marker = _index_marker_path(path)
    try:
        with open(marker, "r", encoding="utf-8") as fh:
            if fh.read() == token:
                return False
    except OSError:
        pass
    write_dedup_index(
        df, id_col, text_col, path, k, num_perm, rows_per_band, _token=token
    )
    return True


def write_dedup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
    source_id=None,
    _token: Optional[str] = None,
) -> None:
    """Materialize the corpus dedup index (bucket assignment + shingle
    sets) at ``path``.  The shingle sets — the expensive interpreted
    expression — are computed ONCE and written as the shingle store;
    the bucket assignment derives from the cheaper token-hash pass
    (minhash_band_buckets — the exact kernel probes use).  Both outputs are
    written partition-parallel; re-running overwrites atomically per
    subdirectory."""
    # Range-cluster the shingle store on the doc id WHEN the input is
    # below full-core parallelism (the spread_small_scan guard, but
    # range instead of round-robin: same narrow pre-shingle shuffle,
    # same parallelism, and per-file id bounds become DISJOINT — the
    # verify-store prune (r12) can then drop files untouched by a
    # batch's candidate ids).  A 100 TB input is past the guard and
    # keeps its natural (typically id-clustered) layout; within-file
    # sort tightens row-group stats either way.  Worst case is wide
    # bounds = full read — never wrong.
    base = df.select(
        F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__")
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < parallelism:
        base = base.repartitionByRange(parallelism, "__id__")
    sh = base.select(
        "__id__", word_shingles(F.col("__t__"), k).alias("__sh__")
    ).filter(F.size("__sh__") > 0)

    # The two stores are independent outputs of the raw corpus: write
    # them as CONCURRENT jobs (threads share the SparkSession), the
    # same shape write_hamming_index already uses — the build pays
    # max(write), not sum, whenever neither scan saturates the cores
    # (r13 interleaved A/B at sf0.1: 3.78 -> 2.76 s median; at full
    # cluster saturation the scheduler interleaves and it is never
    # slower than sequential).  The marker still lands strictly LAST.
    def _write_shingles():
        spath = os.path.join(path, "shingles")
        sh.sortWithinPartitions("__id__").write.mode("overwrite").parquet(
            spath
        )
        _harvest_store_manifest(spath)

    def _write_buckets():
        # r7: buckets derive from the TOKEN-hash kernel
        # (minhash_band_buckets) — the same function probes use, so
        # index and probe bucket values agree by construction.  This is
        # a second linear text scan, but the token pass costs ~1/3 of
        # the shingle pass it replaced (no k-gram string concatenation),
        # so the build is net cheaper.
        buckets = minhash_band_buckets(
            df, id_col, text_col, k, num_perm, rows_per_band
        )
        bpath = os.path.join(path, "buckets")
        # range-cluster on the probe key + harvest a skipping manifest
        # so every ingest batch's probe can drop untouched store files
        # driver-side (r11; see _pruned_store_read)
        buckets.repartitionByRange("__bucket__", "__band__").write.mode(
            "overwrite"
        ).parquet(bpath)
        _harvest_store_manifest(bpath)

    _parallel_writes(_write_shingles, _write_buckets)
    # Stamp completion LAST so a crashed build never leaves a marker a
    # later ensure_dedup_index would trust.  ``source_id`` (snapshot /
    # fingerprint) must match what probers pass to ensure_dedup_index;
    # the count() fallback is for unversioned sources only.
    token = _token or _index_token(
        source_id if source_id is not None else df.count(),
        k, num_perm, rows_per_band,
    )
    with open(_index_marker_path(path), "w", encoding="utf-8") as fh:
        fh.write(token)


def incremental_dedup_pairs(
    new_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    max_bucket_size: int = 256,
    keep_markers: bool = False,
) -> DataFrame:
    """Near-dup pairs touching the new batch: batch-vs-index and
    batch-vs-batch, exactly verified at ``threshold``.  Pairs wholly
    inside the already-indexed corpus are NOT re-emitted (they were
    found when their batches arrived).

    Returns (id_a, id_b, jaccard) with id_a < id_b; requires globally
    unique ids across index and batch (the ingest pipeline's invariant).
    With ``keep_markers`` the result also carries (a_new, b_new)
    booleans — whether each endpoint is a batch document — so callers
    like ``dedup_ingest_sink`` derive their drop rule without re-joining
    the pair set against the batch ids.

    Scale shape: the batch's buckets are tiny; joining them to the index
    buckets shuffles on (band, bucket) and only index rows in TOUCHED
    buckets survive the join.  Candidate verification joins shingle sets
    for candidate ids only — batch shingles from the in-flight batch,
    corpus shingles loaded by id from the index (parquet bloom/minmax
    prune untouched files).  The mega-bucket guard caps degenerate
    buckets exactly like the batch-global operator.
    """
    spark = new_docs.sparkSession
    # The batch's shingle+minhash banding is the expensive interpreted
    # pipeline and feeds BOTH the touched-bucket probe and the pairing
    # union — persist so it runs once (batch-sized, released with the
    # candidate cache via _attach_cached_deps).  (Caching the raw
    # shingle arrays instead, to share them with the verify stage, was
    # measured a wash: the full-batch array materialization costs what
    # the candidate-only re-shingle saves, and candidates ≪ batch.)
    new_buckets = minhash_band_buckets(
        new_docs, id_col, text_col, k, num_perm, rows_per_band
    ).persist()
    # manifest-pruned store read (r11): the bucket-clustered store
    # drops untouched files driver-side before the semi-join below
    idx_buckets = _pruned_store_read(
        spark,
        os.path.join(index_path, "buckets"),
        new_buckets.select("__band__", "__bucket__"),
        ["__band__", "__bucket__"],
    )

    # Restrict the index to buckets the batch actually touches, then pair
    # bucket-locally over the union (new ids see old ids AND each other).
    # ``touched`` is O(batch x bands) — broadcast it so the (corpus-
    # sized at 100 TB) index bucket table is filtered where it is read,
    # never shuffled.  LEFT SEMI, not inner: semi-join tolerates
    # duplicate keys on the broadcast side, so no distinct() shuffle is
    # needed over the batch's bucket assignment first.
    touched = F.broadcast(new_buckets.select("__band__", "__bucket__"))
    idx_touched = idx_buckets.join(touched, ["__band__", "__bucket__"], "left_semi")
    all_buckets = new_buckets.unionByName(idx_touched)
    # Keep the persisted handle: the marker joins below derive a NEW
    # DataFrame, and unpersist() only releases the exact plan it is
    # called on — attaching the derived frame would leak the cache.
    raw_candidates = _bucket_local_pairs(
        all_buckets, ["__band__", "__bucket__"], max_bucket_size,
        "incremental_bucket_guard",
    )
    candidates = raw_candidates

    # Drop corpus-internal pairs: keep pairs with >=1 endpoint in the
    # batch.  Expressed as two equi left-joins + an OR filter, NOT a
    # single OR-of-equalities semi-join — Catalyst can only plan the
    # latter as a BroadcastNestedLoopJoin (|candidates| x |batch|
    # comparisons); the marker form hash-joins on each endpoint.
    # Derived from the PERSISTED bucket assignment, not a second batch
    # scan: ids without shingles have no buckets and so can never be
    # candidate endpoints — same id set, no parquet re-read.
    new_ids = new_buckets.select(F.col("__id__").alias("__nid__")).distinct()
    candidates = (
        candidates.join(
            F.broadcast(
                new_ids.select(
                    F.col("__nid__").alias("id_a"), F.lit(True).alias("__a_new__")
                )
            ),
            "id_a",
            "left",
        )
        .join(
            F.broadcast(
                new_ids.select(
                    F.col("__nid__").alias("id_b"), F.lit(True).alias("__b_new__")
                )
            ),
            "id_b",
            "left",
        )
        .filter(F.col("__a_new__").isNotNull() | F.col("__b_new__").isNotNull())
        .select(
            "id_a",
            "id_b",
            F.col("__a_new__").isNotNull().alias("a_new"),
            F.col("__b_new__").isNotNull().alias("b_new"),
        )
    )

    cand_ids = F.broadcast(
        candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("__id__")
        ).distinct()
    )
    # Semi-join each side down to candidate ids BEFORE shingling the
    # batch (Catalyst does not push a semi-join below the interpreted
    # zip_with shingle projection — shingle-then-filter would shingle
    # the whole batch a second time); the index side is pre-shingled
    # parquet, so its semi-join just filters the scan early.
    new_sh = (
        new_docs.select(F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__"))
        .join(cand_ids, "__id__", "left_semi")
        .select("__id__", word_shingles(F.col("__t__"), k).alias("__sh__"))
    )
    # manifest-pruned verify read (r12): candidate ids are batch-bounded,
    # so the shingle store — the index's heaviest column — serves the
    # verify join from only the files whose id bounds admit a candidate
    idx_sh = _pruned_store_read(
        spark,
        os.path.join(index_path, "shingles"),
        candidates.select(F.explode(F.array("id_a", "id_b")).alias("__id__")),
        ["__id__"],
        min_files=_VERIFY_PRUNE_MIN_FILES,
    )
    # Persist the candidate-bound shingle union: it is broadcast for
    # BOTH endpoints of the verify join, and without materialization the
    # two broadcast builds each re-run the semi-joins, the batch
    # re-shingle, and the index shingle scan (plan aliasing defeats
    # exchange reuse here — measured, not assumed).  Candidate-bound =
    # small by the same argument that lets it broadcast at all.
    sh = new_sh.unionByName(idx_sh.join(cand_ids, "__id__", "left_semi")).persist()
    sa, sb = F.broadcast(sh).alias("sa"), F.broadcast(sh).alias("sb")
    verified = (
        candidates.join(sa, F.col("id_a") == F.col("sa.__id__"))
        .join(sb, F.col("id_b") == F.col("sb.__id__"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sa.__sh__", "sb.__sh__"))
            / F.size(F.array_union("sa.__sh__", "sb.__sh__")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "id_a",
            "id_b",
            "jaccard",
            *(["a_new", "b_new"] if keep_markers else []),
        )
    )
    return _attach_cached_deps(verified, raw_candidates, new_buckets, sh)


def append_to_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
) -> None:
    """Extend an existing dedup index with new (already-deduplicated)
    documents — parquet append, no rewrite of existing files.  The batch
    is shingled once into a (bounded, batch-sized) cache feeding both
    the shingle append and the bucket derivation — append mode can't use
    the write-then-read-back trick (reading the store back would rescan
    every earlier batch's files)."""
    sh = (
        # no spread (r13): the shingle pass lands in a persist consumed
        # by two branches — round-robin widening a batch-sized input
        # adds a shuffle plus 32-wide cache partitions for every
        # downstream task wave.  Interleaved A/B: ns_dedup_incremental
        # 7.0-7.3 -> 5.0-5.6 s, ns_dedup_idx_build 4.1-5.0 -> 3.7-4.5 s.
        df
        .select(
            F.col(id_col).alias("__id__"),
            word_shingles(F.col(text_col), k).alias("__sh__"),
        )
        .filter(F.size("__sh__") > 0)
        .persist()
    )
    try:
        # token-hash kernel: must match the probes (see write_dedup_index).
        # The two stores are independent outputs: concurrent jobs (r10)
        def _append_buckets():
            bpath = os.path.join(path, "buckets")
            from fluss_datafusion_spark.catalog.catalog import (
                _parquet_files,
            )

            try:
                before = _parquet_files(bpath)
            except Exception:
                before = set()
            minhash_band_buckets(
                df, id_col, text_col, k, num_perm, rows_per_band
            ).sortWithinPartitions("__bucket__").write.mode(
                "append"
            ).parquet(bpath)
            _harvest_store_manifest(bpath, before=before)

        def _append_shingles():
            spath = os.path.join(path, "shingles")
            from fluss_datafusion_spark.catalog.catalog import (
                _parquet_files,
            )

            try:
                before = _parquet_files(spath)
            except Exception:
                before = set()
            sh.sortWithinPartitions("__id__").write.mode(
                "append"
            ).parquet(spath)
            _harvest_store_manifest(spath, before=before)

        _parallel_writes(_append_shingles, _append_buckets)
        # Keep the build marker's corpus count current so a later
        # ensure_dedup_index doesn't see a stale token and rebuild over
        # the appended index.
        marker = _index_marker_path(path)
        try:
            with open(marker, "r", encoding="utf-8") as fh:
                head, _, n = fh.read().rpartition("|n=")
            if head and n.isdigit():
                with open(marker, "w", encoding="utf-8") as fh:
                    fh.write(f"{head}|n={int(n) + df.count()}")
        except OSError:
            pass
    finally:
        sh.unpersist()


def curation_ingest_transform(
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    min_quality: float = 0.3,
):
    """Batch-transform factory for ``dedup_ingest_sink``: composite
    quality filter (drop) + PII redaction (rewrite ``text_col`` in
    place), the standard pre-dedup curation stage.  Pure expressions
    and one repetition-metrics join per batch — no UDFs, batch-bounded
    cost."""
    from fluss_datafusion_spark.operators.curation import pii_redact, quality_filter

    def _transform(batch_df: DataFrame) -> DataFrame:
        keep = quality_filter(
            batch_df, id_col, text_col,
            min_tokens=min_tokens, min_quality=min_quality,
        ).filter(F.col("keep")).select(id_col)
        kept = batch_df.join(keep, id_col, "left_semi")
        red = pii_redact(kept, text_col)
        return red.select(
            *[
                F.col(f"{text_col}_redacted").alias(text_col)
                if c == text_col
                else F.col(c)
                for c in batch_df.columns
            ]
        )

    return _transform


def dedup_ingest_sink(
    stream_docs: DataFrame,
    catalog,
    table: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.4,
    transform=None,
    metrics: Optional[list] = None,
):
    """The end-to-end continuous ingest pipeline: per micro-batch,

    0. (optional) apply ``transform`` — a (DataFrame) -> DataFrame
       curation stage run before dedup (quality filtering, PII
       redaction, schema fixes; ``curation_ingest_transform`` builds
       the standard one).  Rows it drops never reach the index;
    1. probe the persisted LSH index for near-dups (batch-vs-corpus and
       batch-vs-batch, exact-verified at ``threshold``);
    2. drop every batch document that pairs with an already-indexed
       document (the corpus copy always wins, regardless of id order —
       ids only need to be globally unique, not ingest-ordered), and
       for batch-internal pairs drop the greater id (greedy
       first-seen-wins; a chain a<b<c may keep c if its only partner b
       was itself dropped, which matches "dedup against what the corpus
       actually contains");
    3. upsert the survivors into the PK table through the catalog's
       log-structured writer;
    4. append the survivors' buckets + shingle sets to the index, so the
       NEXT batch dedups against them too.

    State lives in the index and the table — the streaming query itself
    is stateless, so the pipeline restarts cleanly from the checkpoint.
    ``metrics`` (optional list) records per batch:
    {batch_id, n_in, n_filtered, n_dropped, n_kept}.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from fluss_datafusion_spark.catalog.catalog import _RMW_LOCAL_CAP

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        import contextlib

        with contextlib.ExitStack() as stack:
            # the batch frame feeds three consumers (bucket assignment,
            # shingle verify, the survivors anti-join) — persist always;
            # the n_raw / n_in COUNT jobs exist only for metrics records
            # and their early-outs, so metrics-off batches skip both
            # (r13, two job floors per micro-batch; an empty batch flows
            # through the cached empty probe for pennies)
            raw_df = batch_df.persist()
            stack.callback(raw_df.unpersist)
            if metrics is not None:
                n_raw = raw_df.count()
                if n_raw == 0:
                    return
            batch_df = transform(raw_df) if transform else raw_df
            if batch_df is not raw_df:
                batch_df = batch_df.persist()
                stack.callback(batch_df.unpersist)
            if metrics is not None:
                n_in = batch_df.count()
                if n_in == 0:
                    metrics.append(
                        {
                            "batch_id": batch_id,
                            "n_in": n_raw,
                            "n_filtered": n_raw,
                            "n_dropped": 0,
                            "n_kept": 0,
                        }
                    )
                    return
            pairs = incremental_dedup_pairs(
                batch_df, index_path, id_col, text_col, threshold=threshold,
                keep_markers=True,
            )
            # Every pair touches the batch (incremental_dedup_pairs
            # guarantees it) and carries (a_new, b_new) endpoint markers
            # already — no re-join against the batch ids here.  If one
            # endpoint is already indexed, the OTHER endpoint is the
            # batch doc — drop it whichever id is greater (the corpus
            # copy must win; batch ids are only globally unique, not
            # monotone with ingest order).  Pairs wholly inside the
            # batch fall back to greater-id-drops.
            drop = pairs.select(
                F.when(~F.col("b_new"), F.col("id_a"))
                .when(~F.col("a_new"), F.col("id_b"))
                .otherwise(F.greatest("id_a", "id_b"))
                .alias(id_col)
            ).distinct()
            survivors = batch_df.join(drop, id_col, "left_anti").persist()
            n_kept = survivors.count()  # one job materializes the cache
            if n_kept:
                # engine upsert + index append are independent outputs
                # of the SAME cached frame: overlap them (r10 — see
                # _parallel_writes for the replay-safety argument).
                # n_kept is exact (the cache was just materialized), so
                # a small batch's upsert goes driver-local — the capped
                # collect is a cache read, never a second execution
                _parallel_writes(
                    lambda: catalog.insert(
                        table,
                        survivors,
                        collect_local=n_kept <= _RMW_LOCAL_CAP,
                    ),
                    lambda: append_to_index(
                        survivors, id_col, text_col, index_path
                    ),
                )
            release_candidate_cache(pairs)
            if metrics is not None:
                metrics.append(
                    {
                        "batch_id": batch_id,
                        "n_in": n_raw,
                        "n_filtered": n_raw - n_in,
                        "n_dropped": n_in - n_kept,
                        "n_kept": n_kept,
                    }
                )
            survivors.unpersist()

    return (
        stream_docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# -- incremental HAMMING (perceptual-hash) dedup ------------------------------

# Bump when the fingerprint kernel or band layout changes (same contract
# as INDEX_FORMAT above): a marker with a different token rebuilds.
HAMMING_INDEX_FORMAT = "v1"


def _hamming_token(source_id, n_bands: int, key_blocks: int = 1) -> str:
    # key_blocks joins the token only when non-default, so every v1
    # index marker stays valid; a widened-key rebuild changes the token
    # and forces stale narrow-key indexes to rebuild (the INDEX_FORMAT
    # discipline).
    kb = f"|kb={key_blocks}" if key_blocks != 1 else ""
    return f"hamming-{HAMMING_INDEX_FORMAT}|bands={n_bands}{kb}|n={source_id}"


def _hamming_bands(
    hashes: DataFrame, n_bands: int, key_blocks: int = 1
) -> DataFrame:
    """(__id__, __band__, __slice__) key assignment of 64-bit
    fingerprints — dedup.hamming_band_keys, the same derivation
    dedup.hamming_near_dup_pairs uses, so index and probe bucket values
    agree by construction (incl. the widened block-combination keys for
    past-2^16-fingerprint corpora)."""
    from fluss_datafusion_spark.operators.dedup import hamming_band_keys

    return hashes.select(
        "__id__",
        F.posexplode(
            F.array(*hamming_band_keys(n_bands, key_blocks))
        ).alias("__band__", "__slice__"),
    )


# probe-side file pruning of the bucket stores (r11, the ROADMAP
# candidate generalized from the fork-presence probe): stores are
# range-clustered on their key columns at write time and carry a
# skipping manifest, so a batch's touched-key IN-lists drop whole store
# files DRIVER-SIDE before the scan plans.  Pruning only engages when
# the store has enough files to matter and the touched set is
# statement-sized; unknown (e.g. crash-appended) files are always kept
# — the same soundness contract as every other prune site.
_PROBE_PRUNE_MIN_FILES = 4
_PROBE_PRUNE_MAX_KEYS = 20_000
# Verify stores (shingles / hashes) pay an EXTRA bounded collect to
# learn the candidate ids at probe-construction time — an added job per
# micro-batch.  That job only pays for itself when enough files can
# drop: measured at sf0.1 scene-ingest (small store, ~8 files) the
# always-on verify prune cost ~1 s per entry, while the 1600-file SCALE
# store keeps 4 files per probe.  Below this many files the verify read
# stays a plain scan (the bucket-store prune keeps its lower bar — its
# touched keys are collected anyway).
_VERIFY_PRUNE_MIN_FILES = 16

# bounded observability for the prune regime (r12): every
# _pruned_store_read appends one record — {store, files, kept,
# engaged} — so harnesses (tools/scale_stress.py) and tests can commit
# files-kept/files-dropped evidence without instrumenting call sites.
# deque(maxlen) keeps long-running streaming sinks from accumulating.
import collections as _collections

prune_stats_log = _collections.deque(maxlen=16)


def _log_prune(store_path: str, n_files, n_kept, engaged: bool) -> None:
    try:
        prune_stats_log.append(
            {
                "store": os.path.basename(os.path.dirname(store_path))
                + "/" + os.path.basename(store_path),
                "files": n_files,
                "kept": n_kept,
                "engaged": engaged,
            }
        )
    except Exception:
        pass


def _harvest_store_manifest(store_path: str, before=None) -> None:
    """(Re)harvest footer bounds for an index store — full rebuild when
    ``before`` is None (overwrite), else add only the new files
    (append).  Best-effort: a failed harvest leaves pruning degraded,
    never wrong (prune keeps unknown files)."""
    from fluss_datafusion_spark.catalog import skipping
    from fluss_datafusion_spark.catalog.catalog import _parquet_files

    try:
        files = _parquet_files(store_path)
        if before is None:
            skipping.rebuild(store_path, sorted(files))
        else:
            new = sorted(files - before)
            if new:
                skipping.add_files(store_path, new)
    except Exception:
        pass


def _pruned_store_read(
    spark, store_path: str, touched: DataFrame, key_cols,
    min_files: int = _PROBE_PRUNE_MIN_FILES,
) -> DataFrame:
    """Read an index store restricted (at FILE granularity) to rows
    that might carry the batch's touched keys.  Exactness is the
    caller's bucket equi-join; this only drops files whose footer
    bounds/blooms prove no touched key inside.  Falls back to the full
    read when there is no manifest, few files, a non-int key, or an
    oversized touched set (one tiny collect job derives the IN-lists —
    the touched frame is batch-sized by the probe contract)."""
    from fluss_datafusion_spark.catalog import skipping
    from fluss_datafusion_spark.catalog.catalog import _parquet_files

    full = spark.read.parquet(store_path)
    try:
        files = sorted(_parquet_files(store_path))
        if len(files) < min_files or not skipping.load(
            store_path
        ):
            _log_prune(store_path, len(files), len(files), False)
            return full
        # collect RAW rows with an early-out limit and dedup driver-side:
        # a distinct() here is a full shuffle of the batch's key
        # assignment paid on EVERY probe, including the bulk batches
        # whose touched sets blanket the key space and get discarded
        # anyway (measured +0.5-1.0 s per probe at sf0.1); limit without
        # distinct is a local early-out over the persisted batch cache
        # Arrow transfer, not row pickling: bulk batches hit the cap and
        # this early-out collect is pure overhead for them — 20k rows
        # through toPandas cost ~5x less than .collect() (r12, the
        # decomposition's named gap)
        pdf = touched.limit(_PROBE_PRUNE_MAX_KEYS + 1).toPandas()
        if len(pdf) == 0 or len(pdf) > _PROBE_PRUNE_MAX_KEYS:
            _log_prune(store_path, len(files), len(files), False)
            return full
        conjuncts = []
        for c in key_cols:
            vals = set(pdf[c].tolist())
            if not all(
                isinstance(v, int) and not isinstance(v, bool)
                for v in vals
            ):
                _log_prune(store_path, len(files), len(files), False)
                return full
            lits = ", ".join(str(v) for v in sorted(vals))
            conjuncts.append(f"{c} IN ({lits})")
        kept = skipping.prune(store_path, files, " AND ".join(conjuncts))
    except Exception:
        return full
    _log_prune(store_path, len(files), len(kept), True)
    if not kept:
        # bounds/blooms prove NO store file carries a touched key
        return full.limit(0)
    if len(kept) == len(files):
        return full
    return spark.read.schema(full.schema).parquet(*kept)


def _parallel_writes(*thunks) -> None:
    """Run independent Spark write jobs concurrently (threads share the
    session; the scheduler interleaves their stages).  Small-batch
    ingest pipelines are WRITE-FLOOR dominated — several tiny outputs
    of one cached frame each paying plan + job + committer serially —
    so overlapping them buys back most of the floor (r10, VERDICT r9
    item 9).  Exceptions propagate after all writes settle, so a
    failure can't orphan a straggler thread mid-job."""
    import concurrent.futures as cf

    with cf.ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        errs = []
        for f in futs:
            try:
                f.result()
            except Exception as exc:  # settle all before raising
                errs.append(exc)
        if errs:
            # chain the WHOLE tail of secondary failures (not just the
            # second) so a multi-thunk loss (e.g. a shared executor
            # dying under all jobs) keeps every diagnostic in the
            # traceback (ADVICE r10 + r11)
            for cause, exc in zip(errs[1:], errs):
                exc.__cause__ = cause
            raise errs[0]


def write_hamming_index(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    path: str,
    n_bands: int = 4,
    source_id=None,
    key_blocks: int = 1,
) -> None:
    """Materialize a perceptual-hash dedup index: ``hashes/`` (id,
     64-bit fingerprint — the verify store) and ``buckets/`` (id, band,
    slice — the probe store), marker stamped LAST.  The image twin of
    ``write_dedup_index``: at 100 TB the corpus is fingerprinted once
    (decode + dHash, the expensive Arrow pass) and every ingest batch
    probes in O(batch)."""
    # persist the NARROW (id, hash) projection: both store writes (and
    # previously the marker's count) consume it, and without a cache
    # each one re-executes the full input plan — for fingerprint inputs
    # that is the decode-heavy Arrow pass, the single most expensive
    # piece of the build (r13).  16 bytes/row bounds the cache at any
    # corpus size; the expensive payload bytes are NOT cached.
    hashes = df.select(
        F.col(id_col).alias("__id__"), F.col(hash_col).alias("__h__")
    ).persist()

    # the two stores are independent outputs of one input: write them
    # as CONCURRENT jobs (threads share the SparkSession) so the build
    # pays max(write), not sum — the marker still lands strictly LAST
    def _write_buckets():
        # range-cluster on the probe key so per-file footer bounds are
        # tight, then harvest a skipping manifest: every ingest batch's
        # probe can then drop untouched store files driver-side (r11)
        bpath = os.path.join(path, "buckets")
        _hamming_bands(hashes, n_bands, key_blocks).repartitionByRange(
            "__slice__", "__band__"
        ).write.mode("overwrite").parquet(bpath)
        _harvest_store_manifest(bpath)

    def _write_hashes():
        hpath = os.path.join(path, "hashes")
        # disjoint per-file id bounds for the verify-store prune (r12):
        # range-cluster below full-core parallelism, natural layout
        # past it — see write_dedup_index's shingle-store note
        h = hashes
        parallelism = h.sparkSession.sparkContext.defaultParallelism
        if h.rdd.getNumPartitions() < parallelism:
            h = h.repartitionByRange(parallelism, "__id__")
        h.sortWithinPartitions("__id__").write.mode(
            "overwrite"
        ).parquet(hpath)
        _harvest_store_manifest(hpath)

    try:
        _parallel_writes(_write_hashes, _write_buckets)
    finally:
        hashes.unpersist()
    if source_id is None:
        # the token's n is the input row count — exactly the hashes
        # store's row count (no filter between df and the store), so
        # read it from the just-written parquet footers instead of
        # paying a THIRD execution of the (decode-heavy) input plan
        # via df.count() (r13: each store write already executed it
        # once; measured one full fingerprint pass saved per build)
        try:
            import pyarrow.parquet as _pq

            from fluss_datafusion_spark.catalog.catalog import (
                _parquet_files,
            )

            source_id = sum(
                _pq.read_metadata(f).num_rows
                for f in _parquet_files(os.path.join(path, "hashes"))
            )
        except Exception:
            source_id = df.count()
    token = _hamming_token(source_id, n_bands, key_blocks)
    with open(_index_marker_path(path), "w", encoding="utf-8") as fh:
        fh.write(token)


# Batches at or under this many fingerprint rows append to the hamming
# index DRIVER-SIDE: one collect of the (id, hash, band-keys) frame, two
# pyarrow part files — instead of two distributed write jobs through the
# committer.  Same small-delta rationale (and the same cap) as the
# catalog's collect-local seam; past the cap the distributed appends run
# unchanged, so 100 TB-scale batches never collect.
_HAMMING_LOCAL_APPEND_CAP = 10_000


def _local_append_hamming(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    path: str,
    n_bands: int,
    key_blocks: int,
) -> bool:
    """Driver-local small-batch append to both hamming stores: the band
    keys are evaluated by the SAME hamming_band_keys expressions the
    distributed path posexplodes (one collect — exactness by
    construction, no Python twin of the bit arithmetic), each store
    gets one pyarrow part file written under the store's EXISTING
    parquet schema, and the skipping manifest is extended for the new
    files only.  Returns False (caller falls back to the distributed
    appends) when either store is missing or its schema can't be read,
    or when collecting, building or writing fails (e.g. a null hash) —
    never raises; a file written before a failure is removed, so the
    fallback does not append it twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluss_datafusion_spark.catalog.catalog import (
        _parquet_files,
        _write_parquet_atomic,
    )
    from fluss_datafusion_spark.operators.dedup import hamming_band_keys

    bpath = os.path.join(path, "buckets")
    hpath = os.path.join(path, "hashes")
    written = []
    try:
        bfiles = _parquet_files(bpath)
        hfiles = _parquet_files(hpath)
        # pin the collected values to the stores' existing physical
        # schemas so appended files stay byte-compatible with the
        # distributed writer's output
        bschema = pq.read_schema(next(iter(sorted(bfiles))))
        hschema = pq.read_schema(next(iter(sorted(hfiles))))
        # two selects: the band keys read __h__ from the projection
        # below, never from an input column that happens to share the
        # name (a lateral alias would resolve to the input's)
        rows = (
            df.select(
                F.col(id_col).alias("__id__"), F.col(hash_col).alias("__h__")
            )
            .select(
                "__id__",
                "__h__",
                F.array(*hamming_band_keys(n_bands, key_blocks)).alias(
                    "__keys__"
                ),
            )
            .limit(_HAMMING_LOCAL_APPEND_CAP + 1)
            .collect()
        )
        if len(rows) > _HAMMING_LOCAL_APPEND_CAP:
            return False
        ids = [r["__id__"] for r in rows]
        hs = [r["__h__"] for r in rows]
        b_ids, b_bands, b_slices = [], [], []
        for r in rows:
            for band, sl in enumerate(r["__keys__"]):
                b_ids.append(r["__id__"])
                b_bands.append(band)
                b_slices.append(sl)
        # sort the bucket rows by slice so the appended file's footer
        # bounds stay tight for probe pruning (mirrors the distributed
        # path's sortWithinPartitions("__slice__"))
        order = sorted(range(len(b_slices)), key=lambda i: (b_slices[i],))
        btab = pa.table(
            {
                "__id__": [b_ids[i] for i in order],
                "__band__": [b_bands[i] for i in order],
                "__slice__": [b_slices[i] for i in order],
            }
        ).select(bschema.names).cast(bschema)
        horder = sorted(range(len(ids)), key=lambda i: (ids[i],))
        htab = pa.table(
            {
                "__id__": [ids[i] for i in horder],
                "__h__": [hs[i] for i in horder],
            }
        ).select(hschema.names).cast(hschema)
        for store, tab in ((bpath, btab), (hpath, htab)):
            written.append(_write_parquet_atomic(tab, store))
    except Exception:
        for fpath in written:
            try:
                os.remove(fpath)
            except OSError:
                pass
        return False
    _harvest_store_manifest(bpath, before=bfiles)
    _harvest_store_manifest(hpath, before=hfiles)
    return True


def append_to_hamming_index(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    path: str,
    n_bands: int = 4,
    key_blocks: int = 1,
    known_count: Optional[int] = None,
) -> None:
    """Pure parquet appends to both stores — no read-modify-write, so
    appended == rebuilt exactly (the BM25/ANN index discipline).
    ``key_blocks`` must match the index build (the marker token pins
    it).

    ``known_count``: callers that already counted the batch (ingest
    sinks materialize their survivors cache with a count) pass it so a
    small batch appends DRIVER-SIDE — one collect of the cached frame
    and two pyarrow part files instead of two write jobs (see
    _local_append_hamming); large/unknown batches keep the distributed
    appends."""
    if (
        known_count is not None
        and 0 < known_count <= _HAMMING_LOCAL_APPEND_CAP
        and _local_append_hamming(
            df, id_col, hash_col, path, n_bands, key_blocks
        )
    ):
        return
    hashes = df.select(
        F.col(id_col).alias("__id__"), F.col(hash_col).alias("__h__")
    )
    # concurrent independent appends (see write_hamming_index); a crash
    # between them leaves a partial append, which the foreachBatch
    # replay re-appends wholesale — duplicate index entries are benign
    # (candidate pairs dedup by id), exactly as with sequential writes
    def _append_buckets():
        bpath = os.path.join(path, "buckets")
        from fluss_datafusion_spark.catalog.catalog import _parquet_files

        try:
            before = _parquet_files(bpath)
        except Exception:
            before = set()
        # batch-sized: sort within the (few) incoming partitions so the
        # appended files' slice bounds stay tight for probe pruning
        _hamming_bands(hashes, n_bands, key_blocks).sortWithinPartitions(
            "__slice__"
        ).write.mode("append").parquet(bpath)
        _harvest_store_manifest(bpath, before=before)

    def _append_hashes():
        hpath = os.path.join(path, "hashes")
        from fluss_datafusion_spark.catalog.catalog import _parquet_files

        try:
            before = _parquet_files(hpath)
        except Exception:
            before = set()
        hashes.sortWithinPartitions("__id__").write.mode("append").parquet(
            hpath
        )
        _harvest_store_manifest(hpath, before=before)

    _parallel_writes(_append_hashes, _append_buckets)


def incremental_hamming_pairs(
    new_df: DataFrame,
    index_path: str,
    id_col: str,
    hash_col: str,
    max_hamming: int = 2,
    n_bands: int = 4,
    max_bucket_size: int = 256,
    keep_markers: bool = False,
    key_blocks: int = 1,
) -> DataFrame:
    """Near-duplicate fingerprint pairs touching the new batch:
    batch-vs-index and batch-vs-batch, verified with an exact popcount;
    index-internal pairs are NOT re-emitted (found when their batches
    arrived).  Returns (id_a, id_b, ham[, a_new, b_new]) with
    id_a < id_b and ham <= max_hamming; requires globally unique ids.

    Same scale shape as ``incremental_dedup_pairs``: the batch's band
    assignment is tiny and broadcast-semi-joins the (corpus-sized)
    index bucket store down to TOUCHED buckets where it is read; pair
    expansion is bucket-local with the deterministic mega-bucket guard;
    the verify join loads index fingerprints for candidate ids only.
    Recall is pigeonhole-exact for max_hamming <= n_bands - key_blocks
    (pass key_blocks=2 past ~2^16 distinct fingerprints — see
    dedup.hamming_band_keys)."""
    # Probing with a different key derivation than the index was built
    # with silently misses every cross-batch pair (the INDEX_FORMAT-v2
    # lesson) — refuse on a marker whose (bands, kb) prefix disagrees.
    marker = _index_marker_path(index_path)
    try:
        with open(marker, "r", encoding="utf-8") as fh:
            token = fh.read()
    except OSError:
        token = None
    if token is not None:
        prefix = _hamming_token("", n_bands, key_blocks).rsplit("|n=", 1)[0]
        if not token.startswith(prefix + "|n="):
            raise ValueError(
                f"hamming index at {index_path} was built as "
                f"'{token.rsplit('|n=', 1)[0]}' but the probe derives "
                f"'{prefix}' keys — rebuild the index or match "
                "n_bands/key_blocks"
            )
    spark = new_df.sparkSession
    new_hashes = new_df.select(
        F.col(id_col).alias("__id__"), F.col(hash_col).alias("__h__")
    ).persist()
    new_bands = _hamming_bands(new_hashes, n_bands, key_blocks)
    # manifest-pruned store read (r11): the slice-clustered store drops
    # untouched files driver-side; the broadcast semi-join below stays
    # the exactness filter (per-column bounds admit the cross-product)
    idx_bands = _pruned_store_read(
        spark,
        os.path.join(index_path, "buckets"),
        new_bands.select("__band__", "__slice__"),
        ["__band__", "__slice__"],
    )
    touched = F.broadcast(new_bands.select("__band__", "__slice__"))
    idx_touched = idx_bands.join(
        touched, ["__band__", "__slice__"], "left_semi"
    )
    all_bands = new_bands.unionByName(idx_touched)
    raw_candidates = _bucket_local_pairs(
        all_bands,
        ["__band__", "__slice__"],
        max_bucket_size,
        "incremental_hamming_guard",
    )
    new_ids = new_hashes.select(F.col("__id__").alias("__nid__")).distinct()
    candidates = (
        raw_candidates.join(
            F.broadcast(
                new_ids.select(
                    F.col("__nid__").alias("id_a"), F.lit(True).alias("__a__")
                )
            ),
            "id_a",
            "left",
        )
        .join(
            F.broadcast(
                new_ids.select(
                    F.col("__nid__").alias("id_b"), F.lit(True).alias("__b__")
                )
            ),
            "id_b",
            "left",
        )
        .filter(F.col("__a__").isNotNull() | F.col("__b__").isNotNull())
        .select(
            "id_a",
            "id_b",
            F.col("__a__").isNotNull().alias("a_new"),
            F.col("__b__").isNotNull().alias("b_new"),
        )
    )
    cand_ids = F.broadcast(
        candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("__id__")
        ).distinct()
    )
    # manifest-pruned verify read (r12): same file-drop discipline as
    # the bucket store, keyed by the batch-bounded candidate ids
    idx_hashes = _pruned_store_read(
        spark,
        os.path.join(index_path, "hashes"),
        candidates.select(F.explode(F.array("id_a", "id_b")).alias("__id__")),
        ["__id__"],
        min_files=_VERIFY_PRUNE_MIN_FILES,
    )
    hashes = new_hashes.unionByName(
        idx_hashes.join(cand_ids, "__id__", "left_semi")
    ).persist()
    ha = F.broadcast(
        hashes.withColumnsRenamed({"__id__": "id_a", "__h__": "__ha__"})
    )
    hb = F.broadcast(
        hashes.withColumnsRenamed({"__id__": "id_b", "__h__": "__hb__"})
    )
    verified = (
        candidates.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("ham", F.expr("bit_count(__ha__ ^ __hb__)").cast("int"))
        .filter(F.col("ham") <= max_hamming)
        .select(
            "id_a",
            "id_b",
            "ham",
            *(["a_new", "b_new"] if keep_markers else []),
        )
    )
    return _attach_cached_deps(verified, raw_candidates, new_hashes, hashes)


def media_ingest_sink(
    stream_media: DataFrame,
    catalog,
    table: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 2,
    n_bands: int = 4,
    transform=None,
    metrics: Optional[list] = None,
    fingerprint=None,
    hash_col: str = "dhash",
    key_blocks: int = 1,
):
    """Continuous MEDIA ingest with perceptual dedup — the image twin of
    ``dedup_ingest_sink``, and modality-generic: ``fingerprint`` is any
    (DataFrame[media_id, payload]) -> DataFrame[media_id, ...,
    decoded_ok] Arrow pass producing a 64-bit ``hash_col``
    (image_dhash_stats by default; multimodal.audio_fingerprint with
    hash_col='afp' gives the audio pipeline on the same index
    machinery).  Per micro-batch:

    0. (optional) apply ``transform`` — a (DataFrame) -> DataFrame
       payload-level curation stage (size gates, scene-cut gating,
       format allowlists) run before fingerprinting;
    1. decode + fingerprint every payload in ONE Arrow-batched pass
       (functions/multimodal.image_dhash_stats — payload bytes never
       leave the executors) and drop undecodable rows: they reach
       neither the table nor the index, and count as filtered;
    2. probe the persisted Hamming index for perceptual near-dups
       (incremental_hamming_pairs: batch-vs-corpus via touched-bucket
       semi-join and batch-vs-batch, exact popcount verify at
       ``max_hamming``) — O(batch) probe cost, never O(corpus);
    3. drop rule identical to the text sink: the already-indexed corpus
       copy always wins; batch-internal pairs drop the greater id;
    4. upsert the survivors' FINGERPRINT RECORDS (id, width, height,
       dhash, ahash) into the PK table.  At 100 TB the payload bytes
       stay in the source object store — the engine table is the
       dedup-authoritative metadata, not a second copy of the corpus;
    5. append the survivors' fingerprints to the index so the NEXT
       batch dedups against them too.

    State lives in the index + the table; the streaming query itself is
    stateless, so the pipeline restarts cleanly from the checkpoint.
    ``metrics`` (optional list) records per batch: {batch_id, n_in,
    n_filtered, n_dropped, n_kept} — n_in counts RAW sink rows
    (payloads); n_filtered = raw rows − fingerprint rows, i.e.
    transform drops plus undecodable payloads for one-row-per-payload
    hooks, and NEGATIVE for row-expanding hooks (a scene hook emits
    several rows per video); n_dropped/n_kept are at fingerprint-row
    grain."""
    from fluss_datafusion_spark.functions.multimodal import image_dhash_stats

    fp_fn = fingerprint if fingerprint is not None else image_dhash_stats

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        import contextlib

        with contextlib.ExitStack() as stack:
            # metrics-off fast shape (r13): the n_raw / n_in counts exist
            # only for the metrics records and their empty-batch
            # early-outs — without metrics an empty batch flows through
            # the (cached, empty) probe for pennies, so skipping the two
            # count jobs saves two per-micro-batch job floors.  The raw
            # persist is kept only while something reads the batch twice
            # (a transform, or the metrics count + the fingerprint pass).
            if metrics is not None or transform is not None:
                raw_df = batch_df.persist()
                stack.callback(raw_df.unpersist)
            else:
                raw_df = batch_df
            n_raw = raw_df.count() if metrics is not None else None
            if n_raw == 0 and metrics is not None:
                return
            cur = transform(raw_df) if transform else raw_df
            fp_raw = fp_fn(
                cur.select(
                    F.col(id_col).alias("media_id"),
                    F.col(payload_col).alias("payload"),
                )
            ).filter(F.col("decoded_ok"))
            keep = [
                c
                for c in fp_raw.columns
                if c not in ("media_id", "decoded_ok")
            ]
            fp = fp_raw.select(
                F.col("media_id").alias(id_col), *keep
            ).persist()
            stack.callback(fp.unpersist)
            if metrics is not None:
                n_in = fp.count()
                if n_in == 0:
                    metrics.append(
                        {
                            "batch_id": batch_id,
                            "n_in": n_raw,
                            "n_filtered": n_raw,
                            "n_dropped": 0,
                            "n_kept": 0,
                        }
                    )
                    return
            pairs = incremental_hamming_pairs(
                fp,
                index_path,
                id_col,
                hash_col,
                max_hamming=max_hamming,
                n_bands=n_bands,
                keep_markers=True,
                key_blocks=key_blocks,
            )
            drop = pairs.select(
                F.when(~F.col("b_new"), F.col("id_a"))
                .when(~F.col("a_new"), F.col("id_b"))
                .otherwise(F.greatest("id_a", "id_b"))
                .alias(id_col)
            ).distinct()
            survivors = fp.join(drop, id_col, "left_anti").persist()
            n_kept = survivors.count()  # one job materializes the cache
            if n_kept:
                # the engine upsert and the index append are independent
                # outputs of the SAME cached frame: overlap them (r10 —
                # the batch pays max(write), not sum; see _parallel_writes
                # for the replay-safety argument).  n_kept is exact (the
                # cache was materialized by the count above), so a small
                # batch takes both driver-local write paths — the
                # "probe" collects are cache reads, never a second
                # execution (r13).
                _parallel_writes(
                    lambda: catalog.insert(
                        table, survivors,
                        collect_local=n_kept <= _HAMMING_LOCAL_APPEND_CAP,
                    ),
                    lambda: append_to_hamming_index(
                        survivors, id_col, hash_col, index_path,
                        n_bands=n_bands, key_blocks=key_blocks,
                        known_count=n_kept,
                    ),
                )
            release_candidate_cache(pairs)
            if metrics is not None:
                metrics.append(
                    {
                        "batch_id": batch_id,
                        "n_in": n_raw,
                        "n_filtered": n_raw - n_in,
                        "n_dropped": n_in - n_kept,
                        "n_kept": n_kept,
                    }
                )
            survivors.unpersist()

    return (
        stream_media.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def wap_ingest_sink(
    stream_df: DataFrame,
    catalog,
    table: str,
    branch: str,
    checkpoint: str,
    violation_predicate: str,
    publish_every: int = 1,
    metrics: Optional[list] = None,
):
    """Streaming Write-Audit-Publish: continuous gated ingestion on a
    staging BRANCH (the Iceberg WAP pattern as a foreachBatch sink).
    Per micro-batch:

    1. WRITE the raw batch to the staging branch — main readers never
       see unaudited rows, and the raw batch stays replayable in the
       branch history ($history / time travel on the branch log);
    2. AUDIT: quarantine rows matching ``violation_predicate`` with a
       branch-scoped DELETE.  Previously published rows are clean by
       induction (only audited rows ever publish), so the overlay scan
       only ever tombstones the new batch's violators — the predicate
       must be evaluable per row (the expectations-module rule forms);
    3. PUBLISH every ``publish_every`` batches: FAST FORWARD moves the
       audited files into the main log under their original seq stamps
       (zero rewrite).  A concurrent main writer surfaces as
       ConcurrentWriteConflict — in the WAP discipline main takes
       writes only through publications, so the conflict means a
       protocol violation, not a retry case.

    The streaming query itself is stateless (state = the branch), so it
    restarts cleanly from the checkpoint.  ``metrics`` records per
    batch: {batch_id, n_in, n_quarantined, published (bool)}.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()  # pin a replayed source
        n_in = catalog.insert(table, batch_df, branch=branch)
        n_q = catalog.delete_where(
            table, violation_predicate, branch=branch
        )
        published = (int(batch_id) + 1) % max(1, int(publish_every)) == 0
        if published:
            catalog.fast_forward(table, branch)
        if metrics is not None:
            metrics.append(
                {
                    "batch_id": int(batch_id),
                    "n_in": int(n_in),
                    "n_quarantined": int(n_q),
                    "published": bool(published),
                }
            )

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
