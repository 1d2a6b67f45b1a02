"""Vector math over ``array<float>`` embedding columns.

Everything here is built from JVM-side higher-order functions
(``zip_with`` / ``aggregate`` / ``transform``) — no Python UDFs in the
hot path, so whole-stage codegen applies and the work scales with
executors, not with the Python bridge.  All arithmetic is forced to
DOUBLE so results are reproducible against any oracle regardless of the
stored float width.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col) -> Column:
    """array<float> -> array<double> (stable accumulation)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l1_norm(a) -> Column:
    return F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + F.abs(x))


def cosine_pandas() -> "object":
    """Arrow-batched cosine kernel: numpy over (rows x dim) float64
    matrices, 10-100x the per-row interpreted ``aggregate`` lambda the
    JVM evaluates for ``cosine`` (higher-order functions do not
    whole-stage-codegen).

    BIT-IDENTICAL to ``cosine`` and to DuckDB's sequential ``list_sum``
    fold: the accumulation loops over DIMENSIONS in order (vectorized
    across rows), so every float64 add happens in the same sequence as
    the fold — np.dot's pairwise/SIMD accumulation would differ in the
    last ulp and break exact-hash oracle comparison.  float32 inputs
    widen exactly to float64; products of two float32 are exact in
    float64 (24+24 < 53 mantissa bits), so only the adds round, and they
    round identically on both engines.

    Requires rectangular input (every vector the same length, as an
    embedding column is); nulls on either side yield null.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos_impl(a, b):
        valid = a.notna() & b.notna()
        out = pd.Series(np.nan, index=a.index, dtype="float64")
        if valid.any():
            A = np.asarray(a[valid].tolist(), dtype=np.float64)
            B = np.asarray(b[valid].tolist(), dtype=np.float64)
            n, d = A.shape
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for j in range(d):  # dim-order accumulation == the fold
                dot += A[:, j] * B[:, j]
                na += A[:, j] * A[:, j]
                nb += B[:, j] * B[:, j]
            out[valid] = dot / (np.sqrt(na) * np.sqrt(nb))
        return out

    _cos_impl.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series,
    }
    return pandas_udf(_cos_impl, "double")


def cosine_fast(a, b) -> Column:
    """``cosine`` via the Arrow-batched numpy kernel (see
    ``cosine_pandas``); same values to the last bit, Python-worker
    execution.  Use in embedding-heavy operators; use ``cosine`` where
    a plan must stay UDF-free."""
    return cosine_pandas()(a, b)
