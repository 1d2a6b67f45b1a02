"""Deduplication operators for training-data pipelines.

Five families, all shuffle-planned by Catalyst and scale-safe:

- exact:       hash-groupBy on a content fingerprint — one shuffle.
- n-gram Jaccard: exact all-pairs within blocking keys — the *oracle*
  path; quadratic within a block, so only usable with tight blocking.
- MinHash+LSH: the scale path — signatures (narrow), band buckets
  (shuffle on bucket), candidate pairs (bucket-local), exact verify on
  the candidates only.  Linear-ish in corpus size; this is the one you
  run at 100 TB.
- SimHash:     64-bit signature via per-bit token votes; equal-signature
  grouping finds near-identical docs in ONE aggregation (no pair join).
- shared spans: cross-document EXACT >= k-token runs (ExactSubstr, Lee
  et al. 2022) via rolling-hash windows + one equality shuffle + a
  gaps-and-islands merge — the passage-level complement of MinHash.

All hashing uses Spark's xxhash64 with fixed literal seeds, so results
are deterministic across runs and clusters.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_datafusion_spark.functions.text import fingerprint, word_shingles
from fluss_datafusion_spark.session import spread_small_scan
# cosine_fast: Arrow-batched numpy kernel, bit-identical to the JVM
# fold (dim-order accumulation) but 10-100x faster per row.
from fluss_datafusion_spark.functions.vector import cosine_fast as cosine


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per normalized-content fingerprint."""
    return (
        df.withColumn("__fp__", fingerprint(F.col(text_col)))
        .groupBy("__fp__")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .drop("__fp__")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.4,
    block_cols: Optional[List[str]] = None,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard near-duplicate pairs via an inverted
    index — NOT an all-pairs scan.

    J(A,B) >= threshold > 0 requires at least one shared shingle, so the
    exact result is reachable from the shingle->doc inverted index alone:
    self-join the index on the shingle, count shared shingles per doc
    pair (that count IS |A∩B|), then jaccard = inter/(|A|+|B|-inter).
    No array intersections, no quadratic pair enumeration — cost is
    sum_s f_s^2 over shingle doc-frequencies f_s instead of n^2 docs.

    Scale posture: the index join shuffles on the shingle hash (uniform),
    the pair count gets map-side combine, and doc sizes ride along INSIDE
    the inverted index rows (one extra long per posting) so no per-doc
    side table ever needs to be joined back — per-doc state is O(corpus)
    and must never be broadcast.  A boilerplate-heavy corpus would
    concentrate f_s^2 in a few hot shingles — cap them with max_df
    (drops shingles appearing in more than max_df docs; standard
    practice, slightly lowers recall for pairs that ONLY share
    boilerplate).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    assert threshold > 0, "inverted-index jaccard requires threshold > 0"
    block_cols = block_cols or []
    # Round-robin repartition BEFORE shingling: the zip_with shingle
    # expression is interpreted (no codegen) and dominates — it must be
    # spread across all cores even when the input is one small file.
    df = spread_small_scan(df)
    sh = df.select(
        F.col(id_col).alias("__id__"),
        *[F.col(c).alias(f"__b{i}__") for i, c in enumerate(block_cols)],
        word_shingles(F.col(text_col), k).alias("__sh__"),
    ).filter(F.size("__sh__") > 0)

    # Each posting carries its doc's shingle count: the pair groupBy can
    # then recover |A| and |B| with min() aggregates (constant per group)
    # instead of joining a per-doc side table back in.
    inv = sh.select(
        "__id__",
        F.size("__sh__").alias("__n__"),
        *[F.col(f"__b{i}__") for i in range(len(block_cols))],
        F.explode("__sh__").alias("__s__"),
    )
    if max_df:
        # hot is bounded by corpus_size/max_df distinct shingles — small
        # by construction, so the broadcast is safe at any corpus size.
        hot = inv.groupBy("__s__").count().filter(F.col("count") > max_df)
        inv = inv.join(F.broadcast(hot.select("__s__")), "__s__", "left_anti")

    a, b = inv.alias("a"), inv.alias("b")
    cond = (F.col("a.__s__") == F.col("b.__s__")) & (
        F.col("a.__id__") < F.col("b.__id__")
    )
    for i in range(len(block_cols)):
        cond = cond & (F.col(f"a.__b{i}__") == F.col(f"b.__b{i}__"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("__inter__"),
            F.min("a.__n__").alias("__na__"),
            F.min("b.__n__").alias("__nb__"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("__inter__")
            / (F.col("__na__") + F.col("__nb__") - F.col("__inter__")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
) -> DataFrame:
    """One-sided near-dup pairs by shingle CONTAINMENT —
    ``|A∩B| / min(|A|, |B|)`` — the subset/quote detector Jaccard
    misses: a short document fully quoted inside a long one has
    containment 1.0 but Jaccard ≈ |A|/|B|, far below any dedup
    threshold (Broder 1997 distinguishes resemblance from containment
    for exactly this reason).

    Same inverted-index shape as ``ngram_jaccard_pairs`` — shared-shingle
    counting with doc sizes riding inside the postings, shuffle on the
    shingle key, map-side-combined pair counts, optional ``max_df``
    hot-shingle cap — only the final scoring ratio differs, so the scale
    posture is identical.  Returns (id_a, id_b, containment) with
    id_a < id_b.
    """
    assert threshold > 0, "inverted-index containment requires threshold > 0"
    df = spread_small_scan(df)
    sh = df.select(
        F.col(id_col).alias("__id__"),
        word_shingles(F.col(text_col), k).alias("__sh__"),
    ).filter(F.size("__sh__") > 0)
    inv = sh.select(
        "__id__",
        F.size("__sh__").alias("__n__"),
        F.explode("__sh__").alias("__s__"),
    )
    if max_df:
        hot = inv.groupBy("__s__").count().filter(F.col("count") > max_df)
        inv = inv.join(F.broadcast(hot.select("__s__")), "__s__", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__s__") == F.col("b.__s__"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .groupBy(F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("__inter__"),
            F.min("a.__n__").alias("__na__"),
            F.min("b.__n__").alias("__nb__"),
        )
    )
    return (
        inter.withColumn(
            "containment",
            F.col("__inter__") / F.least("__na__", "__nb__"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_perm: int = 128
) -> DataFrame:
    """(id, array<bigint> signature): per permutation i,
    sig[i] = min over shingles of pi_i(xxhash64(shingle)).

    Classic one-strong-hash design: each shingle is hashed ONCE with
    xxhash64 (whole-stage codegen), and the num_perm permutations are
    affine maps (a_i*h + b_i) mod p with p = 2^31-1 (Mersenne prime;
    a_i, b_i, h < p keeps every product below 2^62, safe under ANSI
    overflow checking).  The per-permutation mins are plain codegen'd MIN
    aggregates, so the groupBy gets full map-side combine: shuffle volume
    is exactly one signature row per document regardless of document
    length — the same bytes the signature itself occupies.  Deterministic:
    a_i/b_i come from a fixed-seed generator, xxhash64 uses its fixed
    default seed.
    """
    import random

    p = (1 << 31) - 1
    rng = random.Random(42)
    coef = [(rng.randrange(1, p), rng.randrange(p)) for _ in range(num_perm)]
    exploded = (
        spread_small_scan(df)
        .select(
            F.col(id_col).alias("__id__"), word_shingles(F.col(text_col), k).alias("__sh__")
        )
        .filter(F.size("__sh__") > 0)
        .select("__id__", F.explode("__sh__").alias("__s__"))
        .withColumn("__h__", F.pmod(F.xxhash64("__s__"), F.lit(p).cast("long")))
    )
    aggs = [
        F.min(
            F.pmod(
                F.col("__h__") * F.lit(a).cast("long") + F.lit(b).cast("long"),
                F.lit(p).cast("long"),
            )
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(coef)
    ]
    sig = exploded.groupBy("__id__").agg(*aggs)
    return sig.select(
        "__id__", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("__sig__")
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, bucket) LSH bucket assignment via an Arrow-batched
    numpy kernel: per doc, hash every shingle ONCE map-side (xxhash64 →
    pmod p), split each hash into (bin, value) and take per-bin minima —
    one-permutation hashing with hashed-probe optimal densification
    (r7; see _oph_pack) — then combine each band's rows_per_band
    mins INJECTIVELY into one long (sig < 2^31, so rows_per_band=2 packs
    into sig0*2^31+sig1 < 2^62 — no collision, strictly fewer
    false-positive candidates than hashing the band).

    Zero-shuffle by construction: the per-doc hash array is built with a
    ``transform`` over the shingle array inside the scan's map stage
    (min over a multiset equals min over the set, so no dedup/groupBy is
    needed), and the numpy kernel maps over those same partitions.  The
    first shuffle in any consumer is the bucket groupBy — nothing
    upstream moves, at any corpus size.  Versus the agg-min path
    (minhash_signatures): identical buckets, but no 128-column codegen'd
    aggregate (whose plan compilation dominates short-doc corpora) and
    no signature shuffle at all.
    """
    # r7 token fast path: the corpus-wide pass hashes TOKENS (one
    # interpreted xxhash64 per token, no k-gram string concatenation —
    # word_shingles' zip_with concat chain was the measured bottleneck
    # at 10x/100x scale, not the min computation), and the numpy kernel
    # combines each k consecutive token hashes into a shingle hash with
    # a vectorized rolling polynomial before the OPH scatter.  Exactly
    # one linear scan of the text, ~3x less interpreted-expression work
    # per doc.  Repartition BEFORE hashing so a single small input file
    # still spreads across all cores.
    from fluss_datafusion_spark.functions.text import tokens as _tokens

    toks = (
        spread_small_scan(df)
        .select(
            F.col(id_col).alias("__id__"),
            F.transform(
                _tokens(F.lower(F.col(text_col))), lambda t: F.xxhash64(t)
            ).alias("__th__"),
        )
        .filter(F.size("__th__") >= k)
    )
    return _band_buckets_from_token_hashes(toks, k, num_perm, rows_per_band)


def _oph_pack(np, doc_idx, hashes, n_docs: int, num_perm: int):
    """Shared OPH core: per-doc per-bin minima over (doc_idx, hash)
    pairs (hash in [0, 2^31)), densified, packed into num_perm/2
    injective band values per doc.  Batch-vectorized — one scatter-min
    plus bounded hashed-probe gathers, no per-document loop.

    Densification is OPTIMAL (Shrivastava, ICML 2017), not rotation:
    an empty bin i probes bins hash(i, t) for t = 1, 2, ... and copies
    the first FILLED bin's value, mixed with (i, t).  Rotation
    (nearest-filled-to-the-right) is catastrophically wrong for SPARSE
    sets — docs with n << num_perm shingles share whole empty-bin
    WINDOWS, so ONE common shingle densifies identically across its
    entire gap and a 500k-doc corpus produced 21.8M candidate pairs for
    25.6k true ones (measured, x100 tile).  Hashed probes break the
    spatial correlation: two docs agree on a densified bin only if the
    same probe attempt lands on a bin whose values agree — the unbiased
    estimator the paper proves.  The probe sequence is a pure function
    of (bin, attempt), identical for every doc and every run.

    ``num_perm`` must be a power of two: the per-attempt probe stride
    is odd, a unit mod 2^m, so every probe walk visits all bins within
    num_perm attempts.  For moduli sharing a factor with the stride,
    a sparse doc could exit the loop with the empty sentinel left in
    its signature (all such docs then share band values, exploding
    false candidates) — so non-powers-of-two are rejected, and a
    post-densification assert guards the zero-shingle case (callers
    must filter size >= k before the kernel)."""
    if num_perm <= 0 or num_perm & (num_perm - 1):
        raise ValueError(
            f"num_perm must be a power of two (probe-coverage guarantee); "
            f"got {num_perm}"
        )
    m31 = np.int64((1 << 31) - 1)
    mix = np.int64(0x9E3779B1)  # (bin, attempt) mixer (golden-ratio odd)
    empty = np.int64(1 << 62)
    bins = hashes % num_perm
    vals = hashes // num_perm  # < 2^31 / num_perm: packing-safe
    sig = np.full((n_docs, num_perm), empty, dtype=np.int64)
    np.minimum.at(sig, (doc_idx, bins), vals)
    filled = sig < empty
    if not filled.all():
        idx = np.arange(num_perm, dtype=np.int64)
        rows = np.where(~filled.all(axis=1))[0]
        base = sig[rows]
        dense = base.copy()
        need = base >= empty
        # probe_i(t) = (c_i + t*d) mod num_perm with d odd walks EVERY
        # bin within num_perm attempts (d is a unit mod a power of two),
        # so any row with >= 1 filled bin — guaranteed by the caller's
        # >= k-tokens filter — densifies fully inside this loop
        for t in range(1, num_perm + 1):
            if not need.any():
                break
            probe = (idx * 0x9E3779B1 + t * 0x85EBCA6B) % num_perm
            gathered = base[:, probe]
            take = need & (gathered < empty)
            if take.any():
                mixed = (gathered + (idx * 131 + t) * mix) % m31
                dense[take] = mixed[take]
                need &= ~take
        if need.any():
            # only possible for an all-empty row = a doc with zero
            # shingles, which every caller must have filtered out
            # (size >= k); failing loudly beats silently bucketing all
            # such docs together
            raise ValueError(
                f"{int(need.any(axis=1).sum())} document(s) with zero "
                f"shingles reached the OPH kernel; filter size >= k "
                f"before bucketing"
            )
        out = sig.copy()
        out[rows] = dense
        sig = out
    return sig[:, 0::2] * (1 << 31) + sig[:, 1::2]


def _shingle_hash_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(__id__, __sh__ array<long>): each doc's DISTINCT hashed word
    k-shingles — the rolling token-hash family of the bucket kernel,
    deduplicated per doc.  Set operations over these equal the
    string-shingle versions up to full-width 64-bit collisions (~2^-64
    per pair of distinct shingles inside one doc pair's union —
    negligible at any corpus size that fits a cluster).  Docs with
    < k tokens yield an empty array (same as word_shingles)."""
    import numpy as np
    import pandas as pd

    from fluss_datafusion_spark.functions.text import tokens as _tokens

    coeffs = []
    acc = 1
    for _ in range(k):
        acc = (acc * 0x9E3779B97F4A7C15) % (1 << 64)
        coeffs.append(np.uint64(acc))

    def sets_fn(it):
        for pdf in it:
            out = []
            for th in pdf["__th__"]:
                a = np.asarray(th, dtype=np.int64).astype(np.uint64)
                m = a.size - (k - 1)
                if m <= 0:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                sh = np.zeros(m, dtype=np.uint64)
                for j, c in enumerate(coeffs):
                    sh += c * a[j : j + m]
                out.append(np.unique(sh.astype(np.int64)))
            yield pd.DataFrame({"__id__": pdf["__id__"], "__sh__": out})

    toks = df.select(
        F.col(id_col).alias("__id__"),
        F.transform(
            _tokens(F.lower(F.col(text_col))), lambda t: F.xxhash64(t)
        ).alias("__th__"),
    )
    return toks.mapInPandas(sets_fn, "__id__ long, __sh__ array<long>")


def _band_buckets_from_token_hashes(
    toks: DataFrame, k: int, num_perm: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) from per-token xxhash64 arrays ``__th__``:
    shingle hashes are the rolling polynomial
    ``sum_j C^(k-j) * th[i+j]  (mod 2^64, then mod 2^31-1)`` —
    order-sensitive, computed on the flat batch array with cross-doc
    windows masked out — then the shared OPH pack.  Every consumer of
    LSH buckets (batch pairs, incremental index build AND probes,
    ingest sinks) derives them through this one kernel, so bucket
    values always agree between an index and its probes."""
    import numpy as np
    import pandas as pd

    if rows_per_band != 2:
        raise ValueError("injective band packing requires rows_per_band=2")
    # rolling-polynomial coefficients: powers of an odd 64-bit constant,
    # wrapped mod 2^64 in Python ints (numpy scalar uint64 multiply
    # warns on overflow; array ops wrap silently — keep both silent)
    coeffs = []
    acc = 1
    for _ in range(k):
        acc = (acc * 0x9E3779B97F4A7C15) % (1 << 64)
        coeffs.append(np.uint64(acc))
    m31 = np.uint64((1 << 31) - 1)

    def buckets_fn(it):
        for pdf in it:
            th_list = pdf["__th__"]
            n_docs = len(th_list)
            if n_docs == 0:
                yield pd.DataFrame({"__id__": pdf["__id__"], "__bks__": []})
                continue
            arrs = [np.asarray(h, dtype=np.int64) for h in th_list]
            counts = np.fromiter(
                (a.size for a in arrs), dtype=np.int64, count=n_docs
            )
            flat = np.concatenate(arrs).astype(np.uint64)
            doc_idx = np.repeat(np.arange(n_docs), counts)
            m = flat.size - (k - 1)
            sh = np.zeros(m, dtype=np.uint64)
            for j, c in enumerate(coeffs):
                sh += c * flat[j : j + m]  # wraps mod 2^64 (hash mixing)
            valid = doc_idx[:m] == doc_idx[k - 1 :]
            hashes = (sh[valid] % m31).astype(np.int64)
            packed = _oph_pack(np, doc_idx[:m][valid], hashes, n_docs, num_perm)
            yield pd.DataFrame(
                {"__id__": pdf["__id__"], "__bks__": list(packed)}
            )

    sig = toks.mapInPandas(buckets_fn, "__id__ long, __bks__ array<long>")
    return sig.select(
        "__id__", F.posexplode("__bks__").alias("__band__", "__bucket__")
    )


def release_candidate_cache(df: DataFrame) -> None:
    """Unpersist the candidate-pair cache(s) a dedup/similarity operator
    attached to its result DataFrame.

    ``minhash_lsh_pairs`` / ``embedding_cosine_pairs_lsh`` /
    ``incremental_dedup_pairs`` persist their bucket-local candidate
    stage (see ``_bucket_local_pairs``) because two downstream branches
    consume it within one action.  The persist outlives the action —
    Spark's cache manager holds a reference, so it is never freed by
    GC — which in a long-lived session (or a per-micro-batch ingest
    loop) accumulates cached DataFrames without bound.  Call this after
    the result has materialized (count/write/collect) to release them;
    calling it before the action simply forfeits the cache reuse, never
    correctness."""
    for cached in getattr(df, "_fds_cached_deps", ()):
        try:
            cached.unpersist()
        except Exception:
            pass


def _attach_cached_deps(df: DataFrame, *deps: DataFrame) -> DataFrame:
    """Record persisted upstream DataFrames on a result so callers (or
    ``release_candidate_cache``) can unpersist them once the result has
    materialized."""
    df._fds_cached_deps = list(deps)  # type: ignore[attr-defined]
    return df


def _bucket_local_pairs(
    buckets: DataFrame,
    group_cols: List[str],
    max_bucket_size: Optional[int],
    metric_name: str,
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs generated inside each
    bucket of a (group_cols..., __id__) assignment table.

    One map-side-combined shuffle on the bucket key, then a higher-order
    pair expansion over the sorted member list — never a self-join (a
    self-join would recompute the upstream bucket pipeline for both
    branches).  Bucket membership is tiny by construction for any sane
    LSH; ``max_bucket_size`` truncates degenerate mega-buckets (first N
    sorted ids, deterministic) and emits an ``observe()`` metric so the
    truncation is visible, bounding any bucket's fan-out at C(cap, 2).
    The result is persisted: every caller feeds it to both a verify
    probe and a semi-join bound, and the upstream pipeline — the
    expensive corpus-wide part — must execute once, not once per branch.
    """
    members = (
        buckets.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_set("__id__")).alias("__ids__"))
        .filter(F.size("__ids__") > 1)
    )
    if max_bucket_size:
        members = members.observe(
            metric_name,
            F.sum(
                (F.size("__ids__") > max_bucket_size).cast("long")
            ).alias("oversized_buckets"),
            F.max(F.size("__ids__")).alias("max_bucket_members"),
        ).withColumn("__ids__", F.slice("__ids__", 1, max_bucket_size))
    return (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(__ids__, (x, i) ->"
                    " transform(slice(__ids__, i + 2, size(__ids__)),"
                    " y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("__p__")
        )
        .select("__p__.id_a", "__p__.id_b")
        .distinct()
        .persist()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    rows_per_band: int = 2,
    threshold: float = 0.4,
    mode: str = "arrow",
    max_bucket_size: int = 256,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact verification.

    bands = num_perm / rows_per_band.  With r=2, b=64 the candidate
    recall at jaccard=0.4 is 1-(1-0.4^2)^64 ≈ 1-1.4e-5 — and because the
    hash seeds are fixed literals, the candidate set is a deterministic
    function of the data.  Candidates are verified with exact Jaccard, so
    precision is exact; only recall is (negligibly) approximate.

    Scale shape: signatures are linear; band bucketing shuffles on
    (band, bucket-hash); pairs are generated bucket-locally.  A
    degenerate boilerplate corpus (thousands of near-identical docs)
    collapses into mega-buckets whose pair expansion is O(members²) —
    ``max_bucket_size`` caps that: buckets larger than the cap are
    truncated to their first ``max_bucket_size`` sorted member ids
    (deterministic; bounds any bucket's pair fan-out at C(cap, 2) while
    keeping recall for a truncated-bucket sample — docs this similar are
    caught by exact dedup anyway).  The guard emits an ``observe()``
    metric ``lsh_bucket_guard`` (oversized_buckets, max_bucket_members)
    so truncation is visible to monitoring, not silent.

    ``mode``: 'arrow' (default) computes band buckets with the numpy
    one-permutation-hashing kernel (minhash_band_buckets — r7: one
    O(n) scatter per doc instead of a num_perm x n matmul); 'agg'
    keeps the codegen'd classic affine min-aggregate path whose shuffle
    stays bounded at num_perm longs per doc regardless of document
    length.  Candidate sets differ between kernels (same banding
    recall guarantee), but exact verification makes the RESULT pairs
    identical wherever recall holds — pinned by the equality test and
    the corpus oracle.
    """
    n_bands = num_perm // rows_per_band
    if mode == "arrow":
        buckets = minhash_band_buckets(
            df, id_col, text_col, k, num_perm, rows_per_band
        )
    elif mode == "agg":
        sig = minhash_signatures(df, id_col, text_col, k, num_perm)
        band_cols = []
        for band in range(n_bands):
            piece = F.slice("__sig__", band * rows_per_band + 1, rows_per_band)
            band_cols.append(
                F.struct(
                    F.lit(band).alias("band"), F.xxhash64(piece.cast("string")).alias("bucket")
                )
            )
        buckets = sig.select(
            "__id__", F.explode(F.array(*band_cols)).alias("__b__")
        ).select("__id__", F.col("__b__.band").alias("__band__"), F.col("__b__.bucket").alias("__bucket__"))
    else:
        raise ValueError(f"mode must be 'arrow' or 'agg', got {mode!r}")

    # Candidate pairs by grouping each (band, bucket) and expanding member
    # pairs with a higher-order function — ONE pass over the signature
    # pipeline (a self-join would recompute the signatures for both join
    # branches) and one map-side-combined shuffle on the bucket key.
    candidates = _bucket_local_pairs(
        buckets, ["__band__", "__bucket__"], max_bucket_size, "lsh_bucket_guard"
    )

    # Exact verification of candidates only.  The full corpus shingle
    # table is O(corpus) and must NEVER be broadcast — instead semi-join
    # it down to the ids that actually appear in a candidate pair (the
    # candidate set is small by construction: bucket-local, capped by the
    # mega-bucket guard) and broadcast only that filtered slice.  The
    # corpus-sized side streams through the semi-join's probe; the only
    # broadcast payload is candidate-bound.  Both verify branches
    # broadcast the IDENTICAL filtered plan (aliased, not renamed) so
    # ReuseExchange materializes it once — a renamed projection would
    # defeat plan canonicalization and compute the slice twice.
    cand_ids = (
        candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("__id__")
        ).distinct()
    )
    # Semi-join BEFORE shingling: Catalyst does not push a semi-join
    # below a projection containing the (expensive, interpreted)
    # zip_with shingle expression, so shingling first would re-shingle
    # the ENTIRE corpus just to throw most of it away.  Filtering the
    # raw (id, text) rows down to candidate ids first means the verify
    # stage shingles only the candidate-bound slice.
    # r7: verification compares HASHED shingle sets (the same rolling
    # token-hash family the bucket kernel uses) instead of k-gram
    # strings — |∩|/|∪| over distinct 64-bit shingle hashes equals the
    # string-shingle Jaccard up to hash collisions (~1e-13 per pair),
    # and skips word_shingles' interpreted concat chain, which was the
    # measured verify-stage bottleneck at 100x scale.
    shc = _shingle_hash_sets(
        df.select(F.col(id_col).alias("__id__"), F.col(text_col).alias("__t__"))
        .join(cand_ids, "__id__", "left_semi"),
        "__id__",
        "__t__",
        k,
    )
    sa, sb = F.broadcast(shc).alias("sa"), F.broadcast(shc).alias("sb")
    verified = (
        candidates.join(sa, F.col("id_a") == F.col("sa.__id__"))
        .join(sb, F.col("id_b") == F.col("sb.__id__"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sa.__sh__", "sb.__sh__"))
            / F.size(F.array_union("sa.__sh__", "sb.__sh__")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _attach_cached_deps(verified, candidates)


def hamming_band_keys(n_bands: int, key_blocks: int = 1):
    """Bucket-key expressions for banded Hamming LSH over a 64-bit
    ``__h__`` column: the hash splits into ``n_bands`` equal bit
    blocks, and each key concatenates one ``key_blocks``-subset of
    blocks (Manku-Jain-Sarma WWW 2007 §3 — their f=64 near-dup tables
    are exactly these block combinations).

    Pigeonhole: d bit-differences dirty at most d blocks, so any pair
    within Hamming distance ``n_bands - key_blocks`` shares at least
    one fully-clean subset — recall is EXACT for ``max_hamming <=
    n_bands - key_blocks``.  WHY key_blocks matters at scale: with the
    default 4x1 the keys are only 16 bits wide, so spurious candidate
    pairs grow as O(n_distinct^2 / 2^16) per band — at 50k distinct
    fingerprints that is already ~3 spurious verifies per true pair
    (SCALE x100: k16 62.7s vs k32 51.0s, decode-dominated), and every
    further 10x multiplies the spurious term 100x.  key_blocks=2
    widens keys to 32 bits (C(4,2) = 6 tables), pushing saturation to
    ~2^32 while keeping d <= 2 exact — the 100 TB regime.

    Returns the list of key Columns (caller posexplodes)."""
    from itertools import combinations

    if 64 % n_bands != 0:
        raise ValueError(f"n_bands must divide 64; got {n_bands}")
    if not 1 <= key_blocks < n_bands:
        raise ValueError(
            f"key_blocks must be in [1, n_bands); got {key_blocks}"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    slices = [
        F.shiftrightunsigned("__h__", b * width).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ]
    keys = []
    for combo in combinations(range(n_bands), key_blocks):
        v = F.lit(0).cast("long")
        for b in combo:
            v = F.shiftleft(v, width) + slices[b]
        keys.append(v)
    return keys


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_size: int = 256,
    key_blocks: int = 1,
) -> DataFrame:
    """Near-duplicate pairs over any 64-bit fingerprint column (SimHash,
    perceptual image dHash/aHash, audio spectral bits, …) by banded
    Hamming LSH: bucket-join ids sharing any block-combination key
    (see hamming_band_keys), verify candidates with an exact popcount.

    Pigeonhole guarantee: recall is EXACT for
    ``max_hamming <= n_bands - key_blocks`` (the default 4x16/kb=1
    covers distance 3); larger thresholds trade recall for fewer
    buckets, the standard Hamming-LSH dial.  PICK key_blocks=2 when
    the corpus holds more than ~2^16 distinct fingerprints — 16-bit
    keys saturate there and collision candidates grow quadratically
    (hamming_band_keys documents the measurement); 32-bit keys hold to
    ~2^32 at C(4,2)=6 tables and stay exact for distance <= 2.

    Scale shape: one map-side-combined shuffle on (band, key) with
    bucket-local pair expansion (never a self-join), then one exact
    verify join — the same posture as the MinHash/SimHash family,
    including the deterministic mega-bucket guard (flat images / empty
    documents collapse into one fingerprint; the cap bounds that
    bucket's fan-out and surfaces an observe() metric).

    Returns (id_a, id_b, ham) with id_a < id_b, ham <= max_hamming."""
    hashes = df.select(
        F.col(id_col).alias("__id__"), F.col(hash_col).alias("__h__")
    )
    # no spread (r13): band keys are codegen'd bit-slice expressions,
    # not interpreted lambdas — widening a small input to core count
    # cost more than the work (A/B ns_dedup_image_phash 1.9 -> 1.2 s)
    buckets = hashes.select(
        "__id__",
        F.posexplode(
            F.array(*hamming_band_keys(n_bands, key_blocks))
        ).alias("__band__", "__slice__"),
    )
    candidates = _bucket_local_pairs(
        buckets,
        ["__band__", "__slice__"],
        max_bucket_size,
        "hamming_bucket_guard",
    )
    ha = hashes.withColumnsRenamed({"__id__": "id_a", "__h__": "__ha__"})
    hb = hashes.withColumnsRenamed({"__id__": "id_b", "__h__": "__hb__"})
    verified = (
        candidates.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn(
            "ham",
            F.expr("bit_count(__ha__ ^ __hb__)").cast("int"),
        )
        .filter(F.col("ham") <= max_hamming)
        .select("id_a", "id_b", "ham")
    )
    return _attach_cached_deps(verified, candidates)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: explode tokens, hash each token once,
    per-bit weighted vote, reassemble.  One explode + one groupBy; the 64
    per-bit votes are plain conditional aggregates (codegen-friendly)."""
    from fluss_datafusion_spark.functions.text import tokens

    # Repartition first: the 64 per-bit partial aggregates run in the
    # map stage — on a single-file input they would serialize on one
    # task otherwise.
    toks = spread_small_scan(df).select(
        F.col(id_col).alias("__id__"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t__"),
    ).withColumn("__h__", F.xxhash64("__t__", F.lit(0)))

    votes = [
        F.sum(
            F.when(F.shiftright("__h__", bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(64)
    ]
    voted = toks.groupBy("__id__").agg(*votes)
    sig = voted.select(
        "__id__",
        sum(
            [
                F.when(F.col(f"v{bit}") > 0, F.lit(1).cast("long") * (2**bit if bit < 63 else -(2**63))).otherwise(0)
                for bit in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sig.select(F.col("__id__").alias(id_col), "simhash")


def simhash_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Documents sharing an identical 64-bit simhash (near-identical token
    multisets) — found with one aggregation, no pair join."""
    sig = simhash(df, id_col, text_col)
    return (
        sig.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    block_col: Optional[str] = None,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs by cosine similarity, blocked to
    keep the pair join bounded (block on a cluster/label/LSH-bucket key).

    Scale posture: with ``block_col`` the pair join has an equi-key, so
    Catalyst plans a SHUFFLE join on the block (both sides partition by
    ``__blk__``; the ``id_a < id_b`` predicate rides along as the join
    condition's non-equi part) — nothing corpus-sized is ever broadcast,
    and per-block quadratic cost is the user's explicit, bounded choice.
    Without a block there is no equi-key and the only plan is an
    all-pairs nested-loop over the whole table — a scale-killer that
    this operator REFUSES to plan silently: pass an LSH/IVF bucket as
    ``block_col`` (see operators/similarity.py for bucketing), or opt in
    with ``allow_all_pairs=True`` for small, test-scale inputs.

    Returns (id_a, id_b, cos) with id_a < id_b."""
    cols = [F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__")]
    if block_col:
        cols.append(F.col(block_col).alias("__blk__"))
    elif not allow_all_pairs:
        raise ValueError(
            "embedding_cosine_pairs without block_col is an all-pairs "
            "nested-loop join; block on a label/cluster/LSH-bucket column "
            "or pass allow_all_pairs=True for small inputs"
        )
    e = df.select(*cols)
    # Round-robin repartition of the PROBE side only: when Catalyst
    # auto-broadcasts the (small-by-stats) build side, the pair
    # expansion + interpreted cosine evaluation parallelizes across all
    # cores instead of running on the scan's few input partitions.  Not
    # a broadcast hint — at real scale the equi-key on __blk__ makes
    # this a plain shuffle join and the repartition merges into it.
    a, b = spread_small_scan(e).alias("a"), e.alias("b")
    cond = F.col("a.__id__") < F.col("b.__id__")
    if block_col:
        cond = (F.col("a.__blk__") == F.col("b.__blk__")) & cond
    pairs = a.join(b, cond)
    return (
        pairs.select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
            cosine(F.col("a.__v__"), F.col("b.__v__")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    dim: int = 64,
    n_planes: Optional[int] = None,
    n_tables: Optional[int] = None,
    seed: int = 42,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a natural blocking column: the
    blocks are multi-table random-hyperplane LSH buckets (the scale path
    ``embedding_cosine_pairs`` points to when it refuses all-pairs).

    A pair is a candidate if it co-buckets in ANY of the ``n_tables``
    independent plane sets — recall per pair is 1-(1-(1-θ/π)^n_planes)^L,
    ≈ 0.998 at cos 0.9 with the small-corpus defaults — then verified
    with exact cosine, so precision is exact.  Same candidate discipline
    as ``minhash_lsh_pairs``: bucket-local HOF pair expansion (no
    self-join), mega-bucket truncation guard, semi-joined
    candidate-bound broadcast for the verify stage — nothing
    corpus-sized is ever broadcast.  Returns (id_a, id_b, cos),
    id_a < id_b.

    ``n_planes``/``n_tables`` default to AUTO-SIZING from the corpus
    count (r6, caught by tools/scale_stress.py): with a fixed plane
    count the bucket population grows linearly with the corpus and the
    bucket-local pair expansion quadratically — 10x data measured 14x
    wall time.  Auto-sizing holds the expected bucket size ~constant
    (n_planes ~ log2(N/32), so candidate volume stays linear in N) and
    compensates the smaller per-table hit rate with more tables
    (capped; the measured-recall tests floor the result).  Pass
    explicit values to pin a fixed geometry.
    """
    import math

    from fluss_datafusion_spark.operators.similarity import _table_buckets_udf

    if n_planes is None or n_tables is None:
        n = df.count()
        auto_planes = max(6, math.ceil(math.log2(max(n / 32.0, 2.0))))
        if n_planes is None:
            n_planes = auto_planes
        if n_tables is None:
            # per-pair hit rate at the design threshold: p^n_planes with
            # p = 1 - theta/pi; scale the 8-table baseline (tuned at 6
            # planes) by the lost hit rate, capped to bound cost
            p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
            base, now = p ** 6, p ** n_planes
            n_tables = min(16, max(8, math.ceil(8 * base / max(now, 1e-9))))
    bucket_udf = _table_buckets_udf(dim, n_planes, n_tables, seed)
    buckets = spread_small_scan(df).select(
        F.col(id_col).alias("__id__"),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("__table__", "__bucket__"),
    )
    candidates = _bucket_local_pairs(
        buckets, ["__table__", "__bucket__"], max_bucket_size,
        "embedding_lsh_bucket_guard",
    )

    cand_ids = (
        candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("__id__")
        ).distinct()
    )
    vecs = df.select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__"))
    vc = vecs.join(cand_ids, "__id__", "left_semi")
    va, vb = F.broadcast(vc).alias("va"), F.broadcast(vc).alias("vb")
    verified = (
        candidates.join(va, F.col("id_a") == F.col("va.__id__"))
        .join(vb, F.col("id_b") == F.col("vb.__id__"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("va.__v__"), F.col("vb.__v__")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    return _attach_cached_deps(verified, candidates)


# edge lists at or under this collect for exact driver-side union-find
# (a few MB of id pairs); larger graphs run the distributed rounds
_LOCAL_CC_EDGE_CAP = 200_000


def _local_components(edges: DataFrame, src: str, dst: str):
    """r10 small-graph regime shared by both component algorithms:
    when the (already-materialized) edge list fits the driver, run
    exact union-find in Python and re-enter as a one-slice local frame
    — the fixpoint (cluster_id = min id of the component) is identical
    to min-label propagation's and to the star contraction's, with
    ZERO iterative Spark rounds.  Returns None past the cap (the
    distributed rounds are the 100 TB path); the count is one cheap
    job over checkpoint blocks."""
    if edges.count() > _LOCAL_CC_EDGE_CAP:
        return None
    rows = edges.select(src, dst).collect()
    parent: dict = {}

    def _find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = _find(a), _find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for node in parent:
        r = _find(node)
        # None sentinel, not `node + 1`: ids may be strings (entity
        # resolution / account linking graphs derive the output schema
        # from edges.schema), where arithmetic raises (ADVICE r10)
        cur = comp_min.get(r)
        if cur is None or node < cur:
            comp_min[r] = node
    out = [(node, comp_min[_find(node)]) for node in sorted(parent)]
    from pyspark.sql.types import StructField, StructType

    id_type = edges.schema[src].dataType
    spark = edges.sparkSession
    return spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1),
        StructType(
            [
                StructField("doc_id", id_type, False),
                StructField("cluster_id", id_type, False),
            ]
        ),
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = 10,
    check_every: int = 2,
) -> DataFrame:
    """Connected components over near-duplicate pairs: turns pairwise
    dedup output (id_a, id_b) into per-document cluster assignments —
    the step that converts "these pairs are similar" into an actual
    keep/drop decision (keep cluster_id = the min id, drop the rest).

    Min-label propagation as DataFrame jobs: every node starts labeled
    with itself; each round a node takes the min label across itself and
    its neighbors; converged when no label changes.  Rounds needed =
    graph diameter — near-dup clusters are overwhelmingly short chains
    (a handful of hops), so this terminates in a few rounds where a
    general graph would want the large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14).

    Scale shape:
    - The edge list is materialized ONCE up front (eager
      localCheckpoint): every round joins it, and without cutting
      lineage here each round would re-execute the upstream pairwise
      dedup pipeline — the symmetrization union would even run it twice
      per round.  This was the dominant cost before r3.
    - Each round is then one join (edges x labels, shuffle on the
      uniformly-hashed node id) + one map-side-combined min agg, over
      in-memory edge blocks.
    - Rounds are lazily localCheckpoint'd (iterative lineage otherwise
      grows without bound) and the convergence fixpoint is only
      inspected every ``check_every`` rounds: the driver round-trip +
      job launch per check costs more than an extra cheap propagation
      round, and the update is monotone so overshooting is harmless.

    Returns (doc_id, cluster_id) for every id that appears in a pair;
    singletons (docs with no near-dup) are absent — union them in as
    their own cluster if a total assignment is needed.
    """
    edges = pairs.select(
        F.col("id_a").alias("__src__"), F.col("id_b").alias("__dst__")
    ).localCheckpoint(eager=True)
    # r10 small-graph regime: near-dup PAIR sets are usually tiny
    # relative to the corpus (dedup rates are single-digit percent) —
    # see _local_components; past the cap the distributed loop below
    # runs unchanged (the 100 TB path)
    local = _local_components(edges, "__src__", "__dst__")
    if local is not None:
        return local
    # symmetric edge list so a node always sees both directions; derived
    # from the materialized edge blocks, so the union is two cheap scans
    sym = edges.union(
        edges.select(F.col("__dst__").alias("__src__"), F.col("__src__").alias("__dst__"))
    )
    labels = (
        sym.select(F.col("__src__").alias("__id__"))
        .distinct()
        .withColumn("__lbl__", F.col("__id__"))
    )
    for i in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["__dst__"] == labels["__id__"])
            .groupBy("__src__")
            .agg(F.min("__lbl__").alias("__nmin__"))
        )
        stepped = (
            labels.join(neighbor_min, labels["__id__"] == neighbor_min["__src__"], "left")
            .select(
                "__id__",
                F.least(
                    F.col("__lbl__"), F.coalesce(F.col("__nmin__"), F.col("__lbl__"))
                ).alias("__new__"),
                F.col("__lbl__").alias("__old__"),
            )
        ).localCheckpoint(eager=False)
        labels = stepped.select("__id__", F.col("__new__").alias("__lbl__"))
        # a round with zero label changes is the fixpoint (the update is
        # a deterministic function of the labels); the check's collect is
        # also the action that materializes the lazy checkpoint
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            changed = stepped.agg(
                F.max(F.col("__new__") != F.col("__old__"))
            ).collect()[0][0]
            if not changed:
                break
    return labels.select(
        F.col("__id__").alias("doc_id"), F.col("__lbl__").alias("cluster_id")
    )


def dedup_clusters_star(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the general-graph path ``dedup_clusters`` defers to:
    min-label propagation needs O(diameter) rounds, which on a long
    chain (pathological boilerplate corpora) means hundreds of joins;
    star operations contract the graph in O(log^2 n) rounds regardless
    of diameter.

    One round, expressed as two grouped aggregations over the edge list
    (no labels table at all — the EDGES are the state):

    - **large-star**: group the symmetric edge list by u, compute
      m = min(N(u) ∪ {u}), emit (v, m) for every neighbor v > u —
      strictly-larger neighbors re-attach to the neighborhood minimum;
    - **small-star**: group by u over min-canonical edges, emit (v, m)
      for every neighbor v <= u, plus (u, m) — small neighbors and u
      itself attach to the minimum.

    Both are a single explode-free groupBy(collect_set) + transform
    (neighborhoods are near-dup lists — bounded in practice; a
    boilerplate mega-hub's neighborhood is exactly the mega-bucket the
    LSH guard already caps upstream).  Convergence when the canonical
    edge multiset stops changing (checked with a cheap order-insensitive
    hash aggregate, one scalar to the driver per round).  At the
    fixpoint every node's edge points at its component minimum — the
    same (doc_id, cluster_id) contract as ``dedup_clusters``.
    """
    edges = (
        pairs.select(F.col("id_a").alias("__u__"), F.col("id_b").alias("__v__"))
        .filter(F.col("__u__") != F.col("__v__"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # small-graph regime (r10): identical fixpoint, zero star rounds
    local = _local_components(edges, "__u__", "__v__")
    if local is not None:
        return local

    def _sym(e):
        return e.union(
            e.select(F.col("__v__").alias("__u__"), F.col("__u__").alias("__v__"))
        )

    def _large_star(e):
        grouped = _sym(e).groupBy("__u__").agg(
            F.collect_set("__v__").alias("__nbrs__")
        )
        m = F.array_min(F.concat("__nbrs__", F.array("__u__")))
        out = grouped.select(
            F.explode(F.filter("__nbrs__", lambda v: v > F.col("__u__"))).alias(
                "__a__"
            ),
            m.alias("__b__"),
        )
        return out.filter(F.col("__a__") != F.col("__b__")).select(
            F.col("__a__").alias("__u__"), F.col("__b__").alias("__v__")
        ).distinct()

    def _small_star(e):
        canon = e.select(
            F.greatest("__u__", "__v__").alias("__u__"),
            F.least("__u__", "__v__").alias("__v__"),
        )
        grouped = canon.groupBy("__u__").agg(
            F.collect_set("__v__").alias("__nbrs__")
        )
        m = F.array_min("__nbrs__")  # all neighbors are < u here
        out = grouped.select(
            F.explode(F.concat("__nbrs__", F.array("__u__"))).alias("__a__"),
            m.alias("__b__"),
        )
        return out.filter(F.col("__a__") != F.col("__b__")).select(
            F.col("__a__").alias("__u__"), F.col("__b__").alias("__v__")
        ).distinct()

    def _digest(e):
        # order-insensitive edge-set fingerprint; decimal sum so the
        # +-2^63 hash values cannot overflow under ANSI arithmetic
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("__u__", "__v__").cast("decimal(20,0)")).alias("h"),
        ).collect()[0]
        return (row["n"] or 0, row["h"] or 0)

    prev = _digest(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = _digest(edges)
        if cur == prev:
            break
        prev = cur
    # fixpoint: every edge is (node, component_min); nodes that ARE the
    # minimum appear only on the right — attach them to themselves
    members = edges.select(
        F.col("__u__").alias("doc_id"), F.col("__v__").alias("cluster_id")
    )
    roots = (
        edges.select(F.col("__v__").alias("doc_id"))
        .distinct()
        .join(members.select(F.col("doc_id")), "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return members.unionByName(roots)


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    threshold: float = 0.92,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023: cluster the
    embedding space, then drop near-duplicate members within each
    cluster): returns (id, cluster, keep) for every vector — keep=false
    when a LOWER-id cluster-mate sits within ``threshold`` cosine.

    Deterministic zero-iteration clustering so the decision is exactly
    reproducible on any engine (and SQL-oracle-checkable): centroids are
    the ``n_clusters`` vectors with the smallest ids, assignment is
    argmax cosine with ties to the smaller centroid id.  (The Lloyd-
    refined quantizer in operators/similarity.py ``ivf_centroids`` drops
    in for production use; its float normalization is driver-side model
    state, which no SQL oracle can replay bit-for-bit.)

    Scale shape: the centroid table is n_clusters rows — a broadcast
    join + one window over the corpus assigns clusters in a single
    pass; the near-dup pair join then has the cluster as its equi-key
    (``embedding_cosine_pairs``' bounded shuffle-join plan, nothing
    corpus-sized broadcast).  n_clusters grows with the corpus, keeping
    per-cluster pair cost bounded — exactly SemDeDup's k~sqrt(N)
    regime.  The assignment is persisted for the two consumers (pair
    sides) and released via ``release_candidate_cache``.
    """
    from pyspark.sql import Window

    cents = F.broadcast(
        emb.select(F.col(id_col).alias("__cid__"), F.col(vec_col).alias("__cv__"))
        .orderBy("__cid__")
        .limit(n_clusters)
    )
    scored = (
        emb.select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__"))
        .crossJoin(cents)  # bounded: n_clusters rows broadcast
        .select(
            "__id__", "__v__", "__cid__",
            cosine(F.col("__v__"), F.col("__cv__")).alias("__cos__"),
        )
    )
    w = Window.partitionBy("__id__").orderBy(
        F.col("__cos__").desc(), F.col("__cid__")
    )
    assigned = (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") == 1)
        .select("__id__", F.col("__cid__").alias("__cluster__"), "__v__")
        .persist()
    )
    pairs = embedding_cosine_pairs(
        assigned.select(
            F.col("__id__").alias("m_id"),
            F.col("__v__").alias("m_vec"),
            F.col("__cluster__"),
        ),
        "m_id",
        "m_vec",
        threshold=threshold,
        block_col="__cluster__",
    )
    drops = pairs.select(F.col("id_b").alias("__id__")).distinct()
    out = (
        assigned.join(
            drops.withColumn("__drop__", F.lit(True)), "__id__", "left"
        )
        .select(
            F.col("__id__").alias(id_col),
            F.col("__cluster__").alias("cluster"),
            F.col("__drop__").isNull().alias("keep"),
        )
    )
    return _attach_cached_deps(out, assigned)


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    max_df: int = 16,
    min_span_tokens: Optional[int] = None,
) -> DataFrame:
    """Cross-document EXACT shared spans — the ExactSubstr dedup family
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022): maximal runs of >= k consecutive tokens that two
    documents share verbatim.  MinHash finds near-duplicate DOCUMENTS;
    this finds copied PASSAGES (quotes, licenses, templated sections)
    inside otherwise-different documents — the case document-level
    Jaccard misses entirely.

    Returns (id_a, id_b, a_start, b_start, n_tokens): one row per
    maximal shared run, with 1-based token offsets into each document
    and the run length in tokens (>= k; ``min_span_tokens`` raises the
    floor).  The paper dedups with a suffix array; the distributed
    re-expression is rolling-hash token windows + one equality join +
    a gaps-and-islands pass, the standard Spark shape for this:

    1. every k-token window hashes ONCE map-side (the same rolling
       polynomial over per-token xxhash64 as the MinHash kernel —
       O(n·k) vectorized numpy, no k-gram strings materialize);
    2. windows present in more than ``max_df`` documents are dropped
       before any pairing (boilerplate guard — a license header in a
       million docs must not produce a million² pair explosion; the
       guard emits an ``observe()`` metric like the LSH mega-bucket
       cap);
    3. surviving windows group by hash and expand document pairs
       bucket-locally (one map-side-combined shuffle — never a
       self-join, which would recompute the window pass per branch);
    4. matches on the same alignment diagonal (pa − pb) merge into
       maximal runs with one window pass (island = pa − row_number).

    Scale shape: one linear scan + one shuffle on the window hash
    (uniform 64-bit key) + one shuffle on (pair, diagonal) whose input
    is already match-sized, not corpus-sized.  A hash collision could
    fabricate a window match with probability ~2⁻⁶⁴ per window pair —
    negligible at any corpus size that fits a cluster (same contract as
    the hashed-shingle verify).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from fluss_datafusion_spark.functions.text import tokens as _tokens

    if min_span_tokens is None:
        min_span_tokens = k
    coeffs = []
    acc = 1
    for _ in range(k):
        acc = (acc * 0x9E3779B97F4A7C15) % (1 << 64)
        coeffs.append(np.uint64(acc))

    def windows_fn(it):
        for pdf in it:
            ids, poss, whs = [], [], []
            for doc, th in zip(pdf["__id__"], pdf["__th__"]):
                a = np.asarray(th, dtype=np.int64).astype(np.uint64)
                m = a.size - (k - 1)
                if m <= 0:
                    continue
                wh = np.zeros(m, dtype=np.uint64)
                for j, c in enumerate(coeffs):
                    wh += c * a[j : j + m]
                ids.append(np.full(m, doc, dtype=np.int64))
                poss.append(np.arange(1, m + 1, dtype=np.int64))
                whs.append(wh.astype(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "__id__": np.concatenate(ids),
                        "__pos__": np.concatenate(poss),
                        "__wh__": np.concatenate(whs),
                    }
                )

    toks = spread_small_scan(df).select(
        F.col(id_col).alias("__id__"),
        F.transform(
            _tokens(F.lower(F.col(text_col))), lambda t: F.xxhash64(t)
        ).alias("__th__"),
    )
    win = toks.mapInPandas(
        windows_fn, "__id__ long, __pos__ long, __wh__ long"
    )

    # boilerplate guard + bucket-local pair expansion in ONE aggregation:
    # group each window hash, keep buckets touching 2..max_df docs, and
    # expand cross-document (position-annotated) pairs from the sorted
    # member list — never a self-join
    members = (
        win.groupBy("__wh__")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__id__", "__pos__"))
            ).alias("__m__"),
            F.countDistinct("__id__").alias("__nd__"),
        )
        .observe(
            "shared_span_guard",
            F.sum((F.col("__nd__") > max_df).cast("long")).alias(
                "boilerplate_windows"
            ),
        )
        .filter((F.col("__nd__") >= 2) & (F.col("__nd__") <= max_df))
    )
    pairs = (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(__m__, (x, i) ->"
                    " transform(filter(slice(__m__, i + 2, size(__m__)),"
                    " y -> y.__id__ != x.__id__),"
                    " y -> struct(x.__id__ AS id_a, x.__pos__ AS pa,"
                    " y.__id__ AS id_b, y.__pos__ AS pb))))"
                )
            ).alias("__p__")
        )
        .select("__p__.id_a", "__p__.pa", "__p__.id_b", "__p__.pb")
    )

    w = Window.partitionBy("id_a", "id_b", "__diag__").orderBy("pa")
    return (
        pairs.withColumn("__diag__", F.col("pa") - F.col("pb"))
        .withColumn("__isl__", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "__diag__", "__isl__")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count(F.lit(1)) + k - 1).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_span_tokens)
        .select("id_a", "id_b", "a_start", "b_start", "n_tokens")
    )
