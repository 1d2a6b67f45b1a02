"""Table / column statistics: ANALYZE TABLE, persistence, and the
planner cash-in.

The reference exposes a ``table_stats`` information_schema view with
every value NULL (src/catalog/schema.rs:652-699 — the columns exist but
nothing computes them); we already fill the table-level numbers
(information_schema.table_stats) and this module adds the COLUMN level
plus an explicit ``ANALYZE TABLE`` command, the Spark/Delta shape:

    ANALYZE TABLE t COMPUTE STATISTICS                  -- table-level
    ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS a, b
    ANALYZE TABLE t COMPUTE STATISTICS FOR ALL COLUMNS

Computed in ONE aggregation pass over the merged snapshot (never one
job per column): per column null_count, ndv, min/max (stringified),
avg/max length for strings.  ndv uses approx_count_distinct (HLL++) —
at 100 TB an exact multi-column countDistinct would expand the
aggregate into a union of per-column shuffles; pass ``exact_ndv=True``
where small-table exactness matters (tests, dimension tables).

Stats persist to ``_stats.json`` beside the table's ``_spec.json``,
stamped with the statement seq they were computed at, so staleness is
a seq comparison — surfaced in information_schema.column_stats and
used by the read-path broadcast decision below.

Planner cash-in (``broadcast_hint_if_small``): a merge-on-read PK
table's LIVE size can be far below its file bytes (every superseded
row version still sits in the log until compaction), so Catalyst —
which estimates from file sizes — refuses to broadcast a dimension
table that actually fits.  When fresh stats say the live snapshot fits
under spark.sql.autoBroadcastJoinThreshold but the raw files do not,
``catalog.read()`` attaches an explicit broadcast hint; joins against
big fact tables then skip the shuffle Catalyst would have planned.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stats_path(catalog, spec) -> str:
    return os.path.join(catalog.table_path(spec), "_stats.json")


def load_stats(catalog, spec) -> Optional[dict]:
    path = _stats_path(catalog, spec)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def analyze_table(
    catalog,
    name: str,
    columns: Optional[List[str]] = None,
    exact_ndv: bool = False,
) -> dict:
    """Compute and persist statistics; returns the stats dict.

    ``columns=None`` -> all columns; ``[]`` -> table-level only."""
    spec = catalog.get_table(name)
    snapshot = catalog.read(name)
    if columns is None:
        cols = [c.name for c in spec.columns]
    else:
        known = {c.name for c in spec.columns}
        for c in columns:
            if c not in known:
                raise ValueError(f"unknown column {c!r} in ANALYZE of {name}")
        cols = list(columns)

    aggs = [F.count(F.lit(1)).alias("__rows__")]
    for c in cols:
        col = F.col(c)
        aggs.append(F.sum(col.isNull().cast("long")).alias(f"__nulls__{c}"))
        ndv = (
            F.countDistinct(col) if exact_ndv else F.approx_count_distinct(col)
        )
        aggs.append(ndv.alias(f"__ndv__{c}"))
        aggs.append(F.min(col).cast("string").alias(f"__min__{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max__{c}"))
        if spec.column(c).type_name.upper().startswith(("STRING", "VARCHAR", "CHAR")):
            aggs.append(F.avg(F.length(col)).alias(f"__avglen__{c}"))
            aggs.append(F.max(F.length(col)).alias(f"__maxlen__{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__avglen__{c}"))
            aggs.append(F.lit(None).cast("long").alias(f"__maxlen__{c}"))
    row = snapshot.agg(*aggs).collect()[0]

    col_stats: Dict[str, dict] = {}
    for c in cols:
        col_stats[c] = {
            "null_count": int(row[f"__nulls__{c}"]),
            "ndv": int(row[f"__ndv__{c}"]),
            "min": row[f"__min__{c}"],
            "max": row[f"__max__{c}"],
            "avg_len": (
                round(float(row[f"__avglen__{c}"]), 2)
                if row[f"__avglen__{c}"] is not None
                else None
            ),
            "max_len": (
                int(row[f"__maxlen__{c}"])
                if row[f"__maxlen__{c}"] is not None
                else None
            ),
        }

    from fluss_datafusion_spark.catalog.catalog import _parquet_files

    path = catalog.table_path(spec)
    files = _parquet_files(path)
    file_bytes = sum(os.path.getsize(f) for f in files)
    # raw log rows (incl. superseded versions/tombstones): a parquet
    # metadata-only count — the denominator of the live-fraction
    # estimate the broadcast decision uses.
    raw_rows = (
        catalog._log_df(spec).count() if spec.has_primary_key else int(row["__rows__"])
    )
    stats = {
        "seq": catalog.current_seq(name) if spec.has_primary_key else None,
        "row_count": int(row["__rows__"]),
        "raw_rows": int(raw_rows),
        "file_bytes": int(file_bytes),
        "n_files": len(files),
        "columns": col_stats,
        "exact_ndv": bool(exact_ndv),
    }
    tmp = _stats_path(catalog, spec) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh, indent=1)
    os.replace(tmp, _stats_path(catalog, spec))
    return stats


def broadcast_hint_if_small(catalog, spec, df: DataFrame) -> DataFrame:
    """Attach an explicit broadcast hint when FRESH stats prove the
    live snapshot fits under autoBroadcastJoinThreshold but the raw
    file bytes (what Catalyst sees) do not — the merge-on-read
    inflation case.  Anything else returns ``df`` untouched: stale or
    absent stats never influence the plan."""
    stats = load_stats(catalog, spec)
    if not stats or not spec.has_primary_key:
        return df
    if stats.get("seq") != catalog.current_seq(spec.qualified_name):
        return df  # stale: the table changed since ANALYZE
    threshold = _broadcast_threshold(catalog.spark)
    if threshold <= 0:
        return df
    file_bytes = stats.get("file_bytes") or 0
    # live fraction: merged rows / raw log rows is unknown without a
    # second scan; estimate live bytes as rows * bytes-per-raw-row,
    # which is exact when row versions are uniform in size.
    raw_rows = stats.get("raw_rows")
    if raw_rows is None:
        # stats from before raw_rows existed: assume all-live
        # (conservative — fewer hints, never a wrong one).
        live_bytes = file_bytes
    else:
        live_bytes = file_bytes * stats["row_count"] / max(1, raw_rows)
    if live_bytes <= threshold:
        return F.broadcast(df)
    return df


def _broadcast_threshold(spark) -> int:
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    raw = str(raw).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return 10 * 1024**2
