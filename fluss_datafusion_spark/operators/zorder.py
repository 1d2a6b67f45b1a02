"""Z-order (Morton) multi-column clustering for data skipping.

``OPTIMIZE t ZORDER BY (c1, c2, ...)`` rewrites a table so rows close in
the interleaved-bit space of the clustering columns land in the same
files.  Parquet readers prune files/row-groups with footer min/max
stats; a single-column sort gives tight ranges for ONE column only,
while z-ordering gives moderately tight ranges for EVERY clustering
column simultaneously — the standard lakehouse layout optimization
(Delta OPTIMIZE ZORDER BY; the Morton curve of Orenstein & Merrett
1984).

All pure JVM expressions (shift/and/or over longs — whole-stage
codegen), one tiny stats agg, one range shuffle.  No reference analog
(zuston/fluss-datafusion has no layout maintenance at all); this extends
our OPTIMIZE the way Delta extends vacuum-style compaction.

Scale shape: the stats agg is a single map-side-combined min/max; the
rewrite is ONE ``repartitionByRange`` on the z-key (range exchange =
sample + shuffle, the same cost as any global sort) with files written
sorted, so the whole job is linear and fully parallel at any scale.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per clustering column (16 bits x up to 4 columns fits a long)
BITS = 16
MAX_COLS = 4


def _scale_expr(col: Column, dtype: str, cmin, cmax) -> Column:
    """Map a column into [0, 2^BITS) as a long.

    Numeric/date/timestamp columns min-max scale (range locality
    preserved -> range predicates prune).  Strings hash into the bit
    space with crc32 (no range locality — string z-entries cluster
    EQUALITY predicates only; documented behavior, same tradeoff Delta
    makes for high-cardinality strings).  Nulls map to 0 (first files).
    """
    top = (1 << BITS) - 1
    if dtype in ("string",):
        return F.coalesce(
            F.crc32(col).bitwiseAND(F.lit(top)), F.lit(0)
        ).cast("long")
    if dtype in ("date",):
        col = F.datediff(col, F.lit("1970-01-01").cast("date")).cast("double")
        cmin, cmax = float(cmin), float(cmax)
    elif dtype in ("timestamp", "timestamp_ntz"):
        col = F.unix_timestamp(col).cast("double")
        cmin, cmax = float(cmin), float(cmax)
    else:
        col = col.cast("double")
        cmin, cmax = float(cmin), float(cmax)
    if cmax <= cmin:  # constant column: every row scales to 0
        return F.lit(0).cast("long")
    scaled = F.floor(
        (col - F.lit(cmin)) * F.lit(float(top)) / F.lit(cmax - cmin)
    )
    return F.coalesce(
        F.least(F.greatest(scaled, F.lit(0)), F.lit(top)), F.lit(0)
    ).cast("long")


def interleave_bits(scaled: Sequence[Column]) -> Column:
    """Morton-interleave k BITS-bit longs into one long: bit b of input i
    lands at position b*k + i.  A flat sum of shift/and/shift terms —
    16*k leaf expressions, all inside whole-stage codegen."""
    k = len(scaled)
    z = F.lit(0).cast("long")
    for i, v in enumerate(scaled):
        for b in range(BITS):
            z = z + F.shiftleft(
                F.shiftright(v, b).bitwiseAND(F.lit(1)), b * k + i
            )
    return z


def zorder_stats(df: DataFrame, cols: Sequence[str]) -> Dict[str, Tuple]:
    """One min/max agg for the scalable columns (strings need none)."""
    aggs = []
    for c in cols:
        dtype = dict(df.dtypes)[c]
        if dtype == "string":
            continue
        expr = F.col(c)
        if dtype == "date":
            expr = F.datediff(expr, F.lit("1970-01-01").cast("date"))
        elif dtype.startswith("timestamp"):
            expr = F.unix_timestamp(expr)
        aggs.append(F.min(expr).alias(f"__min_{c}__"))
        aggs.append(F.max(expr).alias(f"__max_{c}__"))
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    return {
        c: (row[f"__min_{c}__"], row[f"__max_{c}__"])
        for c in cols
        if f"__min_{c}__" in row.asDict()
    }


def zorder_key(
    df: DataFrame, cols: Sequence[str], stats: Dict[str, Tuple] | None = None
) -> Column:
    """The z-key Column for ``cols`` over ``df`` (stats computed with one
    agg job unless supplied)."""
    if not 1 <= len(cols) <= MAX_COLS:
        raise ValueError(f"ZORDER BY takes 1..{MAX_COLS} columns; got {cols}")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"ZORDER BY columns not in table: {missing}")
    if stats is None:
        stats = zorder_stats(df, cols)
    dtypes = dict(df.dtypes)
    scaled = []
    for c in cols:
        cmin, cmax = stats.get(c, (0, 0))
        if cmin is None or cmax is None:  # all-null column
            cmin, cmax = 0, 0
        scaled.append(_scale_expr(F.col(c), dtypes[c], cmin, cmax))
    return interleave_bits(scaled)
