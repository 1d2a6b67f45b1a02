"""Primary-key point lookups served driver-side — the SQL form of
FlussLookupExec (src/provider.rs:83-94, 257-321): ``pk = literal`` is
one key read that returns 0 or 1 rows, not a scan.

Shape (anything else returns None and falls through to Catalyst):

    SELECT * | <column list> FROM <pk table>
    WHERE <pk col> = <literal> [AND <pk col> = <literal> ...]

with every conjunct a PK equality and every PK column pinned once.
Literals must suit the column: integers for integer columns (in
range), plain string literals for STRING, ``'YYYY-MM-DD'`` for DATE.

How it reads: the key's bucket id is computed in Python
(``catalog.bucket_id``, the port of Spark's xxhash64), only that
``__bkt__=<b>`` directory is listed (the table directory when the
table is unbucketed), the files are read with pyarrow and the pushed
key filter, and the row with the highest ``(__seq__, __sub__)`` wins
unless it is a tombstone (``catalog._newest_live``, the merge kernel
the driver-local compaction shares).  The answer comes back as a
LocalRelation frame (an inline VALUES table), so collecting it runs no
Spark job.

Caps — the read stays driver-local only when the listed directory
holds at most ``_LOCAL_FILE_CAP`` data files totalling at most
``spark.sql.autoBroadcastJoinThreshold`` bytes and every column type
has a pyarrow mapping (``_pa_type``).  A statement of the shape that
fails a cap, sits on a partitioned table, or hits any read error falls
back to ``catalog.lookup``: the lazy, bucket-pruned Spark plan.  Both
paths skip the temp-view re-bind the Catalyst path pays after a write.
Materialized views, time travel, branches and tables whose directory
is gone (dropped by another session) never match, so they keep the
Catalyst path.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from typing import Dict, Optional, Tuple

from pyspark.sql import types as T

from fluss_datafusion_spark.sql.dialect import (
    parse_qualified_name,
    quote_identifier,
)

_IDENT = r"(?:`(?:[^`]|``)+`|[A-Za-z_]\w*)"
_STMT_RE = re.compile(
    rf"^\s*SELECT\s+(?P<cols>\*|{_IDENT}(?:\s*,\s*{_IDENT})*)\s+"
    rf"FROM\s+(?P<table>{_IDENT}(?:\s*\.\s*{_IDENT})?)\s+"
    r"WHERE\s+(?P<where>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
# integer key types -> value bits (signed range is [-2**b, 2**b))
_INT_BITS = (
    (T.LongType, 63),
    (T.IntegerType, 31),
    (T.ShortType, 15),
    (T.ByteType, 7),
)


class _Decline(Exception):
    """The driver-local read does not apply; the message says why."""


def try_pk_lookup(session, statement: str) -> Optional[Tuple[object, str]]:
    """``(frame, path)`` for a statement of the point-lookup shape, else
    None.  ``path`` names what served it: ``driver-local read`` or
    ``catalog.lookup (<reason>)``."""
    m = _STMT_RE.match(statement)
    if m is None:
        return None
    from fluss_datafusion_spark.catalog import matview, skipping

    catalog = session.catalog
    target = ".".join(parse_qualified_name(m.group("table")))
    try:
        spec = catalog.get_table(target)
    except KeyError:
        return None
    if (
        not spec.has_primary_key
        or spec.qualified_name in catalog._view_overrides
        or matview.is_matview(catalog, target)
        or not os.path.isdir(catalog.table_path(spec))
    ):
        return None
    by_lower = {c.name.lower(): c for c in spec.columns}
    if m.group("cols") == "*":
        cols = [(c, c.name) for c in spec.columns]
    else:
        cols = []
        for item in re.findall(_IDENT, m.group("cols")):
            (name,) = parse_qualified_name(item)
            col = by_lower.get(name.lower())
            if col is None:
                return None
            cols.append((col, name))
    parts = skipping._split_conjuncts(m.group("where"))
    if not parts:
        return None
    key: Dict[str, object] = {}
    for part in parts:
        conj = skipping.parse_conjuncts(part)
        if len(conj) != 1 or conj[0][1] != "=" or "\\" in part:
            return None
        col = by_lower.get(conj[0][0].lower())
        if col is None or col.name not in spec.primary_key or col.name in key:
            return None
        value = _key_value(col.spark_type, conj[0][2])
        if value is None:
            return None
        key[col.name] = value
    if set(key) != set(spec.primary_key):
        return None

    try:
        row = _local_read(session, spec, key, [c for c, _ in cols])
        return _rows_frame(session.spark, cols, row), "driver-local read"
    except Exception as exc:  # any decline or read error: Spark plan
        from pyspark.sql import functions as F

        reason = str(exc) if isinstance(exc, _Decline) else type(exc).__name__
        frame = catalog.lookup(target, key).select(
            *[F.col(quote_identifier(c.name)).alias(name) for c, name in cols]
        )
        return frame, f"catalog.lookup ({reason})"


def _key_value(dt, lit):
    """The literal as a value of the key column's type, or None when
    the pair is outside the supported set (Catalyst then applies its
    own coercion rules)."""
    for cls, bits in _INT_BITS:
        if isinstance(dt, cls):
            ok = isinstance(lit, int) and not isinstance(lit, bool)
            return lit if ok and -(1 << bits) <= lit < (1 << bits) else None
    if isinstance(dt, T.StringType) and isinstance(lit, str):
        return lit
    if isinstance(dt, T.DateType) and isinstance(lit, str):
        if _ISO_DATE_RE.match(lit):
            try:
                return _dt.date.fromisoformat(lit)
            except ValueError:
                return None
    return None


def _local_read(session, spec, key: Dict[str, object], cols) -> Optional[list]:
    """The key's live row as a list of ``cols`` values, or None on a
    miss.  Raises ``_Decline`` past a cap."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from fluss_datafusion_spark.catalog.catalog import (
        _BKT,
        _DEL,
        _SEQ,
        _SUB,
        _arrow_log_schema,
        _has_data,
        _newest_live,
        _over_local_caps,
        _parquet_files,
        bucket_id,
    )

    if spec.partition_keys:
        raise _Decline("partitioned table")
    schema = _arrow_log_schema(spec)
    if schema is None:
        raise _Decline("column type without a pyarrow mapping")
    table_dir = session.catalog.table_path(spec)
    read_dir = table_dir
    if spec.num_buckets and spec.bucket_keys:
        if not set(spec.bucket_keys) <= set(key):
            raise _Decline("bucket keys outside the primary key")
        bucket = bucket_id(spec, key)
        if bucket is None:
            raise _Decline("bucket key type")
        read_dir = os.path.join(table_dir, f"{_BKT}={bucket}")
    # A maintenance dir-swap replaces the table directory (a new inode)
    # — a listing that overlapped one may have seen a partial tree.
    before = os.stat(table_dir).st_ino
    files = sorted(_parquet_files(read_dir))
    over = _over_local_caps(session.spark, files)
    if over:
        raise _Decline(over)
    if not files and not _has_data(table_dir):
        # Catalyst's empty-table frame keeps the spec's nullability
        raise _Decline("empty table")
    hit = None
    if files:
        flt = None
        for name, value in key.items():
            col = spec.column(name)
            term = ds.field(col.stored_name) == pa.scalar(
                value, schema.field(col.stored_name).type
            )
            flt = term if flt is None else flt & term
        pk = [spec.column(k).stored_name for k in spec.primary_key]
        wanted = list(dict.fromkeys([c.stored_name for c in cols] + pk))
        got = ds.dataset(files, schema=schema, format="parquet")
        got = got.to_table(columns=wanted + [_SEQ, _SUB, _DEL], filter=flt)
        got = _newest_live(got, pk)
        if got.num_rows:
            hit = [got[c.stored_name][0].as_py() for c in cols]
    if os.stat(table_dir).st_ino != before:
        raise _Decline("table directory replaced during the read")
    return hit


def _sql_literal(value, dt) -> str:
    """Spark SQL text for ``value`` typed exactly as ``dt`` (numbers go
    through string casts, so NaN/inf and every float round-trip)."""
    t = dt.simpleString()
    if value is None:
        return f"CAST(NULL AS {t})"
    if isinstance(dt, T.BooleanType):
        return "true" if value else "false"
    if isinstance(dt, T.DateType):
        return f"DATE_FROM_UNIX_DATE({(value - _dt.date(1970, 1, 1)).days})"
    if isinstance(dt, T.StringType):
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    if isinstance(dt, T.BinaryType):
        return f"X'{bytes(value).hex()}'"
    return f"CAST('{value!r}' AS {t})"


def _rows_frame(spark, cols, row: Optional[list]):
    """0-or-1-row LocalRelation frame with Catalyst's read schema: the
    inline table carries a typed all-NULL row beside the answer, so
    every column reports nullable like a parquet scan, and LIMIT keeps
    only the answer (or nothing on a miss)."""
    nulls = ", ".join(_sql_literal(None, c.spark_type) for c, _ in cols)
    rows = f"({nulls})"
    if row is not None:
        lits = ", ".join(
            _sql_literal(v, c.spark_type) for (c, _), v in zip(cols, row)
        )
        rows = f"({lits}), {rows}"
    aliases = ", ".join(f"c{i}" for i in range(len(cols)))
    select = ", ".join(
        f"c{i} AS {quote_identifier(name)}" for i, (_, name) in enumerate(cols)
    )
    return spark.sql(
        f"SELECT {select} FROM VALUES {rows} AS __pk_lookup__({aliases})"
        f" LIMIT {0 if row is None else 1}"
    )
