"""Hilbert-curve two-column clustering for data skipping — the
space-filling curve behind Databricks liquid clustering, as an
alternative to Morton z-order (operators/zorder.py).

Why Hilbert over Morton: consecutive Hilbert indexes are ALWAYS grid
neighbors (unit Manhattan step — test-pinned), while the Morton curve
takes long diagonal jumps at every power-of-two boundary.  Tighter
locality means each file's min/max box covers less dead space, so
range predicates prune more files at the same file count — measured in
tests/test_hilbert.py against a z-order control on the same data.

Implementation: the classic per-bit fold (Hilbert 1891; the iterative
xy2d formulation) unrolled over the 16 bit levels as a CHAIN OF
PROJECTIONS — each level is one select() computing (x', y', d') from
the previous level's columns with shift/and/CASE expressions.  Chained
projections keep every level's values named, so the plan stays LINEAR
in levels (Catalyst does not inline non-cheap multiply-referenced
exprs), whole-stage codegen evaluates the chain as straight-line JVM
code per row, and no UDF is involved.  The same loop replays in DuckDB
as a recursive CTE — the corpus entry hash-checks the index
value-by-value cross-engine.

Scale shape mirrors z-order: one tiny min/max stats agg, one
``repartitionByRange`` on the Hilbert key with per-task sort — linear
and fully parallel at any scale.  2 columns (the curve's classic form;
n-dimensional state transforms are a different algorithm — use
z-order for 3+ columns, where Morton's locality penalty shrinks
anyway).
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluss_datafusion_spark.operators.zorder import (
    BITS,
    _scale_expr,
    zorder_stats,
)


def hilbert_xy2d(x: int, y: int, bits: int = BITS) -> int:
    """(x, y) -> Hilbert index (pure Python; the test reference).

    Per level (MSB first): the two level bits pick the quadrant digit,
    (x, y) reduce into the quadrant and rotate into its frame.  The
    quadrant mask keeps (x, y) in [0, s) at every step, which is what
    makes the reflection ``s-1-x`` well-defined — bijection and
    unit-step traversal are test-pinned over full grids."""
    d = 0
    s = (1 << bits) // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        x &= s - 1
        y &= s - 1
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def with_hilbert_key(
    df: DataFrame,
    cols: Sequence[str],
    out_col: str = "__h__",
    stats: Dict[str, Tuple] | None = None,
    scaled: bool = False,
) -> DataFrame:
    """Append the Hilbert index of two clustering columns.

    ``scaled=True`` treats the columns as already being longs in
    [0, 2^BITS) (the corpus entry's exact-replay mode); otherwise they
    min-max scale exactly like z-order columns (one stats agg unless
    supplied).  The per-bit loop runs MSB -> LSB; at each level the
    quadrant digit joins ``d`` and (x, y) rotate into the quadrant's
    frame — each level one projection, all JVM expressions."""
    cols = list(cols)
    if len(cols) != 2:
        raise ValueError(
            f"hilbert clustering takes exactly 2 columns; got {cols} "
            "(use zorder for 3+)"
        )
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"hilbert columns not in table: {missing}")
    if scaled:
        x0, y0 = F.col(cols[0]).cast("long"), F.col(cols[1]).cast("long")
    else:
        if stats is None:
            stats = zorder_stats(df, cols)
        dtypes = dict(df.dtypes)
        sc = []
        for c in cols:
            cmin, cmax = stats.get(c, (0, 0))
            if cmin is None or cmax is None:
                cmin, cmax = 0, 0
            sc.append(_scale_expr(F.col(c), dtypes[c], cmin, cmax))
        x0, y0 = sc
    out = df.withColumns({"__hx__": x0, "__hy__": y0, out_col: F.lit(0).cast("long")})
    x, y, d = F.col("__hx__"), F.col("__hy__"), F.col(out_col)
    for level in range(BITS - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright(x, level).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, level).bitwiseAND(F.lit(1))
        d_new = d + F.lit(s) * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        ).cast("long")
        # reduce into the quadrant, then rotate into its frame:
        # ry == 0 swaps the axes, rx == 1 additionally reflects
        xm = x.bitwiseAND(F.lit(s - 1))
        ym = y.bitwiseAND(F.lit(s - 1))
        flip = (ry == F.lit(0)) & (rx == F.lit(1))
        x_rot = (
            F.when(flip, F.lit(s - 1) - ym)
            .when(ry == F.lit(0), ym)
            .otherwise(xm)
        )
        y_rot = (
            F.when(flip, F.lit(s - 1) - xm)
            .when(ry == F.lit(0), xm)
            .otherwise(ym)
        )
        out = out.withColumns(
            {"__hx__": x_rot, "__hy__": y_rot, out_col: d_new}
        )
    return out.drop("__hx__", "__hy__")


def with_curve_key(
    df: DataFrame, cols: Sequence[str], curve: str, out_col: str = "__z__"
) -> DataFrame:
    """Append the clustering key for the chosen space-filling curve:
    ``zorder`` (Morton interleave, 1-4 columns) or ``hilbert`` (2
    columns) — the single dispatch point OPTIMIZE uses so both curves
    share the stats/shuffle/sort machinery."""
    if curve == "hilbert":
        return with_hilbert_key(df, cols, out_col=out_col)
    if curve == "zorder":
        from fluss_datafusion_spark.operators.zorder import zorder_key

        return df.withColumn(out_col, zorder_key(df, list(cols)))
    raise ValueError(f"unknown clustering curve {curve!r}")
