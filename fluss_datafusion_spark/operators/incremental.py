"""Incremental near-duplicate detection against a persisted banded index.

At 100 TB you do not re-run global dedup for every ingest batch: the
corpus's band assignment is computed ONCE and persisted as a parquet
index, and each new batch (a) probes the index for batch-vs-corpus
candidates and (b) pairs within itself — cost is O(batch), never
O(corpus).  No reference analog (the reference is a SQL CLI over Fluss
storage); this is the north-star extension surface.

Two indexes, one layout at ``path``:

- text near-dups, MinHash LSH (``write_dedup_index`` /
  ``incremental_dedup_pairs`` / ``append_to_index`` /
  ``dedup_ingest_sink``): ``buckets/`` holds (__id__, __band__,
  __bucket__) from minhash_band_buckets (the banding minhash_lsh_pairs
  uses, identical fixed seeds); the verify store ``shingles/`` holds
  (__id__, __sh__ array<string>), and candidates are kept at exact
  shingle Jaccard >= threshold;
- media near-dups, Hamming bands (``write_hamming_index`` /
  ``incremental_hamming_pairs`` / ``append_to_hamming_index`` /
  ``media_ingest_sink``): ``buckets/`` holds (__id__, __band__,
  __slice__) from dedup.hamming_band_keys; the verify store ``hashes/``
  holds (__id__, __h__ 64-bit fingerprint), and candidates are kept at
  popcount(xor) <= max_hamming.

Each index also has a ``_BUILT`` marker token (format, parameters and
corpus identity), written last and atomically.

Both are the same candidate-then-verify mechanism, written once in
``_BandedIndex`` (build, driver-local and distributed append, probe)
and ``_ingest_sink``; ``_LshIndex`` and ``_HammingIndex`` carry only
what differs — the band-key column, the band function and the verify
store with its score — and the sinks pass their batch preparation.
Probing shuffles on (band, key) — the index side is range-clustered
on the key and pruned by a skipping manifest; the verify stage joins
verify rows for CANDIDATE ids only (never a corpus-wide broadcast —
same discipline as minhash_lsh_pairs post-r1).
"""

from __future__ import annotations

import math
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


# Bump when the index layout or the shingle/minhash derivation changes:
# ensure_dedup_index treats a marker with a different format token as
# stale and rebuilds, so an index persisted by older code can never be
# silently probed with new semantics.
# v2: one-permutation hashing over rolling-polynomial token-hash
# shingles replaced the affine-permutation kernel — bucket values are
# incompatible, so v1 indexes must rebuild (probing them with the new
# kernel would silently miss every duplicate pair).
INDEX_FORMAT = "v2"

# Bump when the fingerprint kernel or band layout changes (same contract
# as INDEX_FORMAT above): a marker with a different token rebuilds.
HAMMING_INDEX_FORMAT = "v1"


def _index_marker_path(path: str) -> str:
    return os.path.join(path, "_BUILT")


def _index_token(source_id, k: int, num_perm: int, rows_per_band: int) -> str:
    """``source_id``: the corpus identity — a row count (int) or an
    opaque snapshot/fingerprint string."""
    return (
        f"{INDEX_FORMAT}|k={k}|perm={num_perm}|rpb={rows_per_band}|n={source_id}"
    )


def _hamming_token(source_id, n_bands: int, key_blocks: int = 1) -> str:
    # key_blocks joins the token only when non-default, so every v1
    # index marker stays valid; a widened-key rebuild changes the token
    # and forces stale narrow-key indexes to rebuild (the INDEX_FORMAT
    # discipline).
    kb = f"|kb={key_blocks}" if key_blocks != 1 else ""
    return f"hamming-{HAMMING_INDEX_FORMAT}|bands={n_bands}{kb}|n={source_id}"


def _write_marker(path: str, token: str) -> None:
    """Replace the ``_BUILT`` marker atomically (temp file, then
    rename): a failure mid-write leaves the previous token, never an
    empty marker that would force a rebuild or fail every probe."""
    marker = _index_marker_path(path)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(token)
    os.replace(tmp, marker)


def _bump_index_marker(path: str, n_rows: int) -> None:
    """Add ``n_rows`` to the ``_BUILT`` marker's corpus count so a later
    ensure_dedup_index doesn't see a stale token and rebuild over the
    appended index."""
    marker = _index_marker_path(path)
    try:
        with open(marker, "r", encoding="utf-8") as fh:
            head, _, n = fh.read().rpartition("|n=")
        if head and n.isdigit():
            _write_marker(path, f"{head}|n={int(n) + n_rows}")
    except OSError:
        pass


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


def _write_store(frame: DataFrame, path: str, store: str, append=False):
    """Write one index store and extend its skipping manifest: an
    overwrite re-harvests every file, an append only the files it
    added (see _harvest_store_manifest)."""
    from fluss_datafusion_spark.catalog.catalog import _parquet_files

    spath = os.path.join(path, store)
    before = None
    if append:
        try:
            before = _parquet_files(spath)
        except Exception:
            before = set()
    frame.write.mode("append" if append else "overwrite").parquet(spath)
    _harvest_store_manifest(spath, before=before)


class _BandedIndex:
    """One banded candidate-then-verify index at ``path``: ``buckets/``
    (__id__, __band__, <key>) is the probe store, ``<store>/`` (__id__,
    <col>) the verify store.  Build, append and probe are written once
    here, over a batch's (__id__, <raw>) projection; a subclass supplies
    what the two indexes differ in — the band-key column, the band
    function (``bands`` distributed, ``local_bands`` driver-side) and
    the verify store with its score."""

    key: str  # band-key column of buckets/
    raw: str  # value column of the (__id__, raw) batch projection
    store: str  # verify store directory
    col: str  # its value column
    score_col: str  # verify score column of probe results
    guard: str  # _bucket_local_pairs observe() metric name
    # the projection is narrow enough to cache (16-byte fingerprints,
    # not text): it then feeds both store writes of a build, which would
    # each re-run a decode-heavy input plan (r13), and every probe branch
    narrow = False
    grows_marker = False  # appends add their row count to the token

    def __init__(self, id_col: str, val_col: str):
        self.id_col, self.val_col = id_col, val_col

    def base(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.id_col).alias("__id__"),
            F.col(self.val_col).alias(self.raw),
        )

    def input_rows(self, df: DataFrame, path: str) -> int:
        """The token's corpus count when the build is given no
        ``source_id``."""
        return df.count()

    def verify(self, base: DataFrame) -> DataFrame:
        """(__id__, <col>) verify rows of a projection."""
        return base

    def stored(self, rows: DataFrame) -> DataFrame:
        """The verify rows the store keeps."""
        return rows

    def build(self, df: DataFrame, path: str, source_id=None, token=None):
        base = self.base(df)
        if self.narrow:
            base = base.persist()
        # Range-cluster the verify store on the id below full-core
        # parallelism (the spread_small_scan guard, but range instead of
        # round-robin): per-file id bounds become DISJOINT, so the
        # verify-store prune (r12) drops files no candidate touches.  A
        # 100 TB input is past the guard and keeps its natural layout.
        clustered = base
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < parallelism:
            clustered = base.repartitionByRange(parallelism, "__id__")
        # Independent stores, CONCURRENT jobs: the build pays max(write),
        # not sum (r13 A/B at sf0.1: 3.78 -> 2.76 s median).  Buckets are
        # range-clustered on the probe key for the probe prune (r11).
        try:
            _parallel_writes(
                lambda: _write_store(
                    self.stored(self.verify(clustered))
                    .sortWithinPartitions("__id__"),
                    path, self.store,
                ),
                lambda: _write_store(
                    self.bands(base).repartitionByRange(self.key, "__band__"),
                    path, "buckets",
                ),
            )
        finally:
            if self.narrow:
                base.unpersist()
        # Stamp completion LAST so a crashed build never leaves a marker
        # a later ensure_dedup_index would trust.
        if token is None:
            token = self.token(
                source_id if source_id is not None
                else self.input_rows(df, path)
            )
        _write_marker(path, token)

    def append(self, df: DataFrame, path: str, local: bool = False) -> None:
        if local and self.append_local(df, path):
            return
        base = self.base(df)
        # Concurrent appends (r10); a crash between them leaves a
        # partial append that the foreachBatch replay re-appends whole —
        # duplicate index entries are benign (pairs dedup by id).  No
        # spread (r13); sorting within the few batch partitions keeps
        # the appended files' footer bounds tight for both prunes.
        _parallel_writes(
            lambda: _write_store(
                self.stored(self.verify(base)).sortWithinPartitions("__id__"),
                path, self.store, append=True,
            ),
            lambda: _write_store(
                self.bands(base).sortWithinPartitions(self.key),
                path, "buckets", append=True,
            ),
        )
        if self.grows_marker:
            _bump_index_marker(path, df.count())

    def append_local(self, df: DataFrame, path: str) -> bool:
        """Driver-local small-batch append to both stores: one capped
        collect (_collect_capped, the catalog seam's row cap) of the
        SAME JVM expressions the distributed path evaluates, band keys
        from the band function's driver-side form, then one part file
        per store through _append_store_files — same filters and sort
        keys as the distributed writer.  Returns False (the caller runs
        the distributed appends) past the row cap, when a store is
        missing or empty, or when collecting, building or writing fails
        (e.g. a null fingerprint); never raises."""
        import numpy as np

        from fluss_datafusion_spark.catalog.catalog import _collect_capped

        try:
            # two selects: the collected columns read the projection,
            # never an input column that happens to share a name
            rows = _collect_capped(
                self.base(df).select("__id__", *self.local_cols())
            )
            if rows is None:
                return False
            kept, banded, keys = self.local_bands(rows)
            kept = sorted(kept, key=lambda r: r["__id__"])
            # bucket rows sorted by key (stable) so the file's footer
            # bounds stay tight for probe pruning
            n_bands = keys.shape[1]
            order = np.argsort(keys.ravel(), kind="stable")
            stores = [
                (
                    os.path.join(path, self.store),
                    {
                        "__id__": [r["__id__"] for r in kept],
                        self.col: [r[self.col] for r in kept],
                    },
                ),
                (
                    os.path.join(path, "buckets"),
                    {
                        "__id__": [banded[i]["__id__"] for i in order // n_bands],
                        "__band__": order % n_bands,
                        self.key: keys.ravel()[order],
                    },
                ),
            ]
        except Exception:
            return False
        if not _append_store_files(stores):
            return False
        if self.grows_marker:
            _bump_index_marker(path, len(rows))
        return True

    def probe(
        self,
        new_df: DataFrame,
        index_path: str,
        within,
        max_bucket_size: int,
        keep_markers: bool,
    ) -> DataFrame:
        # Probing with a different derivation than the index was built
        # with silently misses every cross-batch pair (the
        # INDEX_FORMAT-v2 lesson): refuse a marker whose parameter
        # prefix disagrees.  A missing marker still probes.
        try:
            with open(
                _index_marker_path(index_path), "r", encoding="utf-8"
            ) as fh:
                built = fh.read()
        except OSError:
            built = None
        derives = self.token("").rsplit("|n=", 1)[0]
        if built is not None and not built.startswith(derives + "|n="):
            raise ValueError(
                f"index at {index_path} was built as "
                f"'{built.rsplit('|n=', 1)[0]}' but the probe derives "
                f"'{derives}' keys — rebuild the index or probe with "
                "its parameters"
            )
        spark = new_df.sparkSession
        base = self.base(new_df)
        # Persist (batch-sized, released via _attach_cached_deps) what
        # every branch reads: the narrow fingerprint projection, or the
        # text banding, the expensive interpreted pipeline.
        if self.narrow:
            new = base = base.persist()
            new_bands = self.bands(base)
        else:
            new = new_bands = self.bands(base).persist()
        keys = ["__band__", self.key]
        # manifest-pruned store read (r11), then restrict the index to
        # keys the batch touches and pair bucket-locally over the union
        # (new ids see old ids AND each other).  ``touched`` is O(batch
        # x bands): broadcast, the corpus-sized store is filtered where
        # it is read, never shuffled; LEFT SEMI tolerates duplicate keys
        # on the broadcast side, so no distinct() shuffle first.
        idx_bands = _pruned_store_read(
            spark, os.path.join(index_path, "buckets"),
            new_bands.select(*keys), keys,
        )
        touched = F.broadcast(new_bands.select(*keys))
        all_bands = new_bands.unionByName(
            idx_bands.join(touched, keys, "left_semi")
        )
        # Keep the persisted handle: the marker joins below derive a NEW
        # DataFrame, and unpersist() only releases the exact plan it is
        # called on — attaching the derived frame would leak the cache.
        raw_candidates = _bucket_local_pairs(
            all_bands, keys, max_bucket_size, self.guard
        )
        # Drop index-internal pairs: keep pairs with >=1 endpoint in the
        # batch, as two broadcast equi left-joins + an OR filter, NOT an
        # OR-of-equalities semi-join (a BroadcastNestedLoopJoin).  Ids
        # come from the persisted frame, not a second batch scan.
        new_ids = new.select(F.col("__id__").alias("__nid__")).distinct()
        candidates = raw_candidates
        for side in ("a", "b"):
            candidates = candidates.join(
                F.broadcast(
                    new_ids.select(
                        F.col("__nid__").alias(f"id_{side}"),
                        F.lit(True).alias(f"__{side}_new__"),
                    )
                ),
                f"id_{side}",
                "left",
            )
        a_new, b_new = (F.col(f"__{s}_new__").isNotNull() for s in "ab")
        candidates = candidates.filter(a_new | b_new).select(
            "id_a", "id_b", a_new.alias("a_new"), b_new.alias("b_new")
        )
        cand = candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("__id__")
        )
        cand_ids = F.broadcast(cand.distinct())
        # manifest-pruned verify read (r12): candidate ids are
        # batch-bounded, so only files whose id bounds admit one are read
        idx_verify = _pruned_store_read(
            spark, os.path.join(index_path, self.store), cand, ["__id__"],
            min_files=_VERIFY_PRUNE_MIN_FILES,
        )
        # Text semi-joins the batch to candidate ids BEFORE shingling
        # (Catalyst does not push a semi-join below the interpreted
        # zip_with projection).  The candidate-bound union is persisted:
        # it is broadcast for BOTH endpoints, and plan aliasing defeats
        # exchange reuse (measured).
        batch_rows = base if self.narrow else base.join(
            cand_ids, "__id__", "left_semi"
        )
        verify = (
            self.verify(batch_rows)
            .unionByName(idx_verify.join(cand_ids, "__id__", "left_semi"))
            .persist()
        )
        va, vb = F.broadcast(verify).alias("va"), F.broadcast(verify).alias("vb")
        verified = (
            candidates.join(va, F.col("id_a") == F.col("va.__id__"))
            .join(vb, F.col("id_b") == F.col("vb.__id__"))
            .withColumn(
                self.score_col,
                self.score(F.col(f"va.{self.col}"), F.col(f"vb.{self.col}")),
            )
            .filter(within(F.col(self.score_col)))
            .select(
                "id_a", "id_b", self.score_col,
                *(["a_new", "b_new"] if keep_markers else []),
            )
        )
        return _attach_cached_deps(verified, raw_candidates, new, verify)


class _LshIndex(_BandedIndex):
    """Text: MinHash LSH buckets over word shingles, verified by exact
    shingle-set Jaccard."""

    key, raw, store, col = "__bucket__", "__t__", "shingles", "__sh__"
    score_col, guard = "jaccard", "incremental_bucket_guard"
    grows_marker = True

    def __init__(self, id_col, text_col, k, num_perm, rows_per_band):
        super().__init__(id_col, text_col)
        self.k, self.num_perm, self.rows_per_band = k, num_perm, rows_per_band

    def token(self, source_id) -> str:
        return _index_token(source_id, self.k, self.num_perm, self.rows_per_band)

    def bands(self, base: DataFrame) -> DataFrame:
        # the token-hash kernel (r7): the one derivation builds, appends
        # and probes share, so bucket values agree by construction
        return minhash_band_buckets(
            base, "__id__", "__t__", self.k, self.num_perm, self.rows_per_band
        )

    def _shingles(self):
        return word_shingles(F.col("__t__"), self.k).alias("__sh__")

    def verify(self, base: DataFrame) -> DataFrame:
        return base.select("__id__", self._shingles())

    def stored(self, rows: DataFrame) -> DataFrame:
        # documents under k words have no shingles and no buckets
        return rows.filter(F.size("__sh__") > 0)

    def local_cols(self):
        from fluss_datafusion_spark.functions.text import tokens

        # the per-token xxhash64 array minhash_band_buckets feeds in
        return [
            self._shingles(),
            F.transform(
                tokens(F.lower(F.col("__t__"))), lambda t: F.xxhash64(t)
            ).alias("__th__"),
        ]

    def local_bands(self, rows):
        from fluss_datafusion_spark.operators.dedup import _band_values

        # the distributed filters: size(__sh__) > 0 for the shingle
        # store, size(__th__) >= k for the bucket store
        th = [r for r in rows if len(r["__th__"] or ()) >= self.k]
        packed = _band_values(
            [r["__th__"] for r in th], self.k, self.num_perm,
            self.rows_per_band,
        )
        return [r for r in rows if r["__sh__"]], th, packed

    def score(self, a, b):
        return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


class _HammingIndex(_BandedIndex):
    """Media: banded 64-bit fingerprint keys, verified by an exact
    popcount of the xor."""

    key, raw, store, col = "__slice__", "__h__", "hashes", "__h__"
    score_col, guard = "ham", "incremental_hamming_guard"
    narrow = True

    def __init__(self, id_col, hash_col, n_bands, key_blocks):
        super().__init__(id_col, hash_col)
        self.n_bands, self.key_blocks = n_bands, key_blocks

    def token(self, source_id) -> str:
        return _hamming_token(source_id, self.n_bands, self.key_blocks)

    def bands(self, base: DataFrame) -> DataFrame:
        return _hamming_bands(base, self.n_bands, self.key_blocks)

    def input_rows(self, df: DataFrame, path: str) -> int:
        # the hashes store keeps every input row: read the count from
        # its footers, not a THIRD run of the decode-heavy input plan
        try:
            import pyarrow.parquet as pq

            from fluss_datafusion_spark.catalog.catalog import _parquet_files

            return sum(
                pq.read_metadata(f).num_rows
                for f in _parquet_files(os.path.join(path, "hashes"))
            )
        except Exception:
            return df.count()

    def local_cols(self):
        from fluss_datafusion_spark.operators.dedup import hamming_band_keys

        # the SAME key expressions the distributed path posexplodes —
        # exactness by construction, no Python twin of the bit arithmetic
        return [
            "__h__",
            F.array(*hamming_band_keys(self.n_bands, self.key_blocks)).alias(
                "__keys__"
            ),
        ]

    def local_bands(self, rows):
        import numpy as np

        # a null fingerprint has null keys: the int64 array refuses it
        keys = np.array([r["__keys__"] for r in rows], dtype=np.int64)
        return rows, rows, keys.reshape(
            len(rows), math.comb(self.n_bands, self.key_blocks)
        )

    def score(self, a, b):
        return F.bit_count(a.bitwiseXOR(b)).cast("int")


def _ingest_sink(
    stream: DataFrame,
    catalog,
    table: str,
    checkpoint: str,
    id_col: str,
    transform,
    metrics: Optional[list],
    prepare,
    probe,
    append,
):
    """The stateless foreachBatch body both ingest sinks share: per
    micro-batch, optional ``transform``, ``prepare`` (identity for
    text, the fingerprint pass for media), ``probe`` for pairs carrying
    (a_new, b_new), the drop rule, then the upsert and ``append`` of
    the survivors as overlapped writes.  ``probe`` / ``append`` are the
    public wrappers, called through the module globals."""
    import contextlib

    from fluss_datafusion_spark.catalog.catalog import _LOCAL_ROW_CAP

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        with contextlib.ExitStack() as stack:
            # every cache — and the probe's candidate caches — is
            # released on the stack, so a failing write leaks none of
            # them into the session
            def cached(df):
                df = df.persist()
                stack.callback(df.unpersist)
                return df

            def record(n_in, n_kept):
                metrics.append(
                    {
                        "batch_id": batch_id,
                        "n_in": n_raw,
                        "n_filtered": n_raw - n_in,
                        "n_dropped": n_in - n_kept,
                        "n_kept": n_kept,
                    }
                )

            # The n_raw / n_in COUNT jobs exist only for metrics records
            # and their early-outs, so metrics-off batches skip both
            # (r13, two job floors per micro-batch; an empty batch flows
            # through the cached empty probe for pennies).  The raw
            # batch is persisted only while something reads it twice (a
            # transform, or the metrics count); the prepared frame feeds
            # the probe and the survivors anti-join, so always.
            if metrics is not None or transform is not None:
                raw = cached(batch_df)
            else:
                raw = batch_df
            if metrics is not None:
                n_raw = raw.count()
                if n_raw == 0:
                    return
            batch = prepare(transform(raw) if transform else raw)
            if not batch.is_cached:
                batch = cached(batch)
            if metrics is not None:
                n_in = batch.count()
                if n_in == 0:
                    record(0, 0)
                    return
            pairs = probe(batch)
            stack.callback(release_candidate_cache, pairs)
            # Every pair touches the batch and carries (a_new, b_new)
            # endpoint markers.  If one endpoint is already indexed, the
            # OTHER endpoint is the batch doc — drop it whichever id is
            # greater (the corpus copy must win; batch ids are only
            # globally unique, not monotone with ingest order).  Pairs
            # wholly inside the batch fall back to greater-id-drops.
            drop = pairs.select(
                F.when(~F.col("b_new"), F.col("id_a"))
                .when(~F.col("a_new"), F.col("id_b"))
                .otherwise(F.greatest("id_a", "id_b"))
                .alias(id_col)
            ).distinct()
            survivors = cached(batch.join(drop, id_col, "left_anti"))
            n_kept = survivors.count()  # one job materializes the cache
            if n_kept:
                # the engine upsert and the index append are independent
                # outputs of the SAME cached frame: overlap them (r10 —
                # see _parallel_writes for the replay-safety argument).
                # n_kept is exact, so a small batch takes both
                # driver-local write paths — their capped collects are
                # cache reads, never a second execution (r13)
                local = n_kept <= _LOCAL_ROW_CAP
                _parallel_writes(
                    lambda: catalog.insert(table, survivors, local=local),
                    lambda: append(survivors, local),
                )
            if metrics is not None:
                record(n_in, n_kept)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


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
    _LshIndex(id_col, text_col, k, num_perm, rows_per_band).build(
        df, path, source_id, _token
    )


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
    return _LshIndex(id_col, text_col, k, num_perm, rows_per_band).probe(
        new_docs, index_path, lambda s: s >= threshold, max_bucket_size,
        keep_markers,
    )


def append_to_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
    local: bool = False,
) -> None:
    """Extend an existing dedup index with new (already-deduplicated)
    documents — parquet append, no rewrite of existing files.  The
    shingle append and the bucket derivation run as two concurrent
    jobs over the batch — append mode can't use the
    write-then-read-back trick (reading the store back would rescan
    every earlier batch's files).

    ``local=True``: callers that already counted a non-empty batch at
    or under the row cap (ingest sinks materialize their survivors cache
    with a count) append it DRIVER-SIDE — one collect of the cached
    frame and one pyarrow part file per store instead of two write jobs
    and a count (see _BandedIndex.append_local); large/unknown batches, and a
    local append that declines, keep the distributed appends."""
    _LshIndex(id_col, text_col, k, num_perm, rows_per_band).append(
        df, path, local
    )


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
    return _ingest_sink(
        stream_docs, catalog, table, checkpoint, id_col, transform, metrics,
        prepare=lambda batch: batch,
        probe=lambda batch: incremental_dedup_pairs(
            batch, index_path, id_col, text_col, threshold=threshold,
            keep_markers=True,
        ),
        append=lambda survivors, local: append_to_index(
            survivors, id_col, text_col, index_path, local=local
        ),
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


def _append_store_files(stores) -> bool:
    """The write half of every driver-local index append: ``stores`` is
    a list of (store path, {column: values}) pairs.  Each table is cast
    to its store's EXISTING parquet schema (so appended files stay
    byte-compatible with the distributed writer's output), written as
    one part file through _write_parquet_atomic, and the skipping
    manifest is extended for the new files only.  A store with no new
    rows gets no file.  Returns False when a store is missing or empty,
    or when casting or writing fails; a file written before the failure
    is removed first, so the caller's distributed fallback does not
    append its rows twice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluss_datafusion_spark.catalog.catalog import (
        _parquet_files,
        _write_parquet_atomic,
    )

    planned, written = [], []
    try:
        for store, cols in stores:
            before = _parquet_files(store)
            schema = pq.read_schema(min(before))  # empty store: raises
            tab = pa.table(cols).select(schema.names).cast(schema)
            planned.append((store, before, tab))
        for store, _, tab in planned:
            if tab.num_rows:
                written.append(_write_parquet_atomic(tab, store))
    except Exception:
        for fpath in written:
            try:
                os.remove(fpath)
            except OSError:
                pass
        return False
    for store, before, _ in planned:
        _harvest_store_manifest(store, before=before)
    return True


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
    _HammingIndex(id_col, hash_col, n_bands, key_blocks).build(
        df, path, source_id
    )


def append_to_hamming_index(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    path: str,
    n_bands: int = 4,
    key_blocks: int = 1,
    local: bool = False,
) -> None:
    """Pure parquet appends to both stores — no read-modify-write, so
    appended == rebuilt exactly (the BM25/ANN index discipline).
    ``key_blocks`` must match the index build (the marker token pins
    it).

    ``local=True``: callers that already counted a non-empty batch at
    or under the row cap (ingest sinks materialize their survivors cache
    with a count) append it DRIVER-SIDE — one collect of the cached
    frame and two pyarrow part files instead of two write jobs (see
    _BandedIndex.append_local); large/unknown batches keep the distributed
    appends."""
    _HammingIndex(id_col, hash_col, n_bands, key_blocks).append(
        df, path, local
    )


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
    return _HammingIndex(id_col, hash_col, n_bands, key_blocks).probe(
        new_df, index_path, lambda s: s <= max_hamming, max_bucket_size,
        keep_markers,
    )


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

    def _fingerprint(cur: DataFrame) -> DataFrame:
        fp = fp_fn(
            cur.select(
                F.col(id_col).alias("media_id"),
                F.col(payload_col).alias("payload"),
            )
        ).filter(F.col("decoded_ok"))
        keep = [c for c in fp.columns if c not in ("media_id", "decoded_ok")]
        return fp.select(F.col("media_id").alias(id_col), *keep)

    return _ingest_sink(
        stream_media, catalog, table, checkpoint, id_col, transform, metrics,
        prepare=_fingerprint,
        probe=lambda batch: incremental_hamming_pairs(
            batch, index_path, id_col, hash_col, max_hamming=max_hamming,
            n_bands=n_bands, keep_markers=True, key_blocks=key_blocks,
        ),
        append=lambda survivors, local: append_to_hamming_index(
            survivors, id_col, hash_col, index_path, n_bands=n_bands,
            key_blocks=key_blocks, local=local,
        ),
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
