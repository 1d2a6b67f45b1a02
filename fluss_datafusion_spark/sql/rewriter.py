"""String-level SQL rewriter.

Mirrors the reference's design choice of rewriting SHOW/DESCRIBE commands
into SELECTs over information_schema *as strings*, never touching engine
plan IR (src/sql/rewriter.rs:19-77; README "SQL Rewriting Mechanism").

Rewritten commands: SHOW TABLES / DATABASES, and per table SHOW CREATE
TABLE / PARTITIONS / BUCKETS / OPTIONS (TBLPROPERTIES) / STATS / TAGS /
BRANCHES and DESCRIBE.  SHOW TAGS and SHOW BRANCHES read
``information_schema.table_refs`` and rewrite only for engine tables.

Our information_schema views are registered as flat temp views
(``information_schema_tables`` etc.) because Spark temp views are not
database-qualified; the rewriter maps both the SHOW commands and literal
``information_schema.x`` references onto them.
"""

from __future__ import annotations

import re
from typing import Optional

from fluss_datafusion_spark.sql.dialect import escape_sql_string, parse_qualified_name

_NAME = r"(?P<name>(?:`[^`]*`|\"[^\"]*\"|[\w@$.])+)"
_SHOW_TABLES_RE = re.compile(
    r"^\s*SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+(?P<db>(?:`[^`]*`|\"[^\"]*\"|[\w@$])+))?\s*$",
    re.IGNORECASE,
)
_SHOW_DATABASES_RE = re.compile(r"^\s*SHOW\s+(?:DATABASES|SCHEMAS)\s*$", re.IGNORECASE)

# The per-table commands, one row each: (command head, information_schema
# view, select list, extra filter, ORDER BY, engine tables only).  Each
# rewrites to ``SELECT <list> FROM information_schema.<view> WHERE
# table_schema = '<db>' AND table_name = '<t>' [AND <filter>] [ORDER BY
# <order>]``.  An engine-only command whose operand is not an engine
# table is left for Spark, so an unknown name still gets Spark's error.
_TABLE_COMMANDS = [
    (
        r"SHOW\s+CREATE\s+TABLE\s+", "table_ddl", "create_table",
        None, None, False,
    ),
    # partition_id >= 0 hides the synthetic "__non_partitioned__" row
    # (src/sql/rewriter.rs:40-47, src/catalog/schema.rs:471-480).
    (
        r"SHOW\s+PARTITIONS\s+", "partitions",
        "partition_id, partition_name, partition_qualified_name",
        "partition_id >= 0", "partition_name", False,
    ),
    (
        r"SHOW\s+BUCKETS\s+", "buckets",
        "partition_id, bucket_id, bucket_key, row_count",
        None, "partition_id, bucket_id", False,
    ),
    (
        r"SHOW\s+(?:(?:TABLE\s+)?OPTIONS|TBLPROPERTIES)\s+",
        "table_options",
        "option_name, option_value, option_type",
        None, "option_type, option_name", False,
    ),
    # `DESCRIBE SELECT ...` etc. are not table describes: the lookahead
    # keeps a bare keyword operand out
    (
        r"(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?"
        r"(?!(?:SELECT|QUERY|EXTENDED|FORMATTED|DETAIL|HISTORY)\s*$)",
        "columns",
        "column_name, data_type, is_nullable, column_default, comment, "
        "is_primary_key",
        None, "ordinal_position", False,
    ),
    (
        r"SHOW\s+STATS\s+(?:FOR\s+)?", "column_stats",
        "column_name, row_count, null_count, ndv, min_value, max_value, "
        "avg_len, max_len, stale",
        None, "column_name", False,
    ),
    (
        r"SHOW\s+TAGS\s+(?:(?:FROM|IN)\s+)?", "table_refs",
        "ref_name AS tag_name, anchor_seq AS seq, created_at, "
        "readable AS time_travelable",
        "ref_type = 'TAG'", "tag_name", True,
    ),
    (
        r"SHOW\s+BRANCHES\s+(?:(?:FROM|IN)\s+)?", "table_refs",
        "ref_name AS branch_name, anchor_seq AS fork_seq, head_seq, "
        "created_at, readable",
        "ref_type = 'BRANCH'", "branch_name", True,
    ),
]
# Cheap pre-filter: the literal-aware QUALIFY rewrite only runs when the
# raw text contains the token at all (false positives are fine — the
# rewrite itself masks literals and is a no-op without a real clause).
_QUALIFY_GUARD_RE = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_INFO_SCHEMA_REF_RE = re.compile(r"\binformation_schema\.(\w+)", re.IGNORECASE)


def _split_name(name: str, catalog) -> tuple:
    parts = parse_qualified_name(name)
    if len(parts) == 2:
        return parts[0], parts[1]
    default = catalog.default_database if catalog is not None else "fluss"
    return default, parts[0]


def rewrite_sql(sql: str, catalog=None) -> str:
    """Rewrite SHOW/DESCRIBE commands; pass every other statement through
    (standard SQL must NOT be rewritten — tested by the reference at
    src/sql/rewriter.rs:336-344)."""
    rewritten = _rewrite_command(sql, catalog)
    if rewritten is not None:
        out = rewritten
    else:
        out = sql
        if _QUALIFY_GUARD_RE.search(out):
            from fluss_datafusion_spark.sql.qualify import rewrite_qualify

            out = rewrite_qualify(out)
    if catalog is not None:
        _refresh_info_schema_if_needed(out, catalog)
        out = _qualify_engine_refs(out, catalog)
    # Map database-qualified information_schema refs onto our flat views.
    return _INFO_SCHEMA_REF_RE.sub(lambda m: f"information_schema_{m.group(1).lower()}", out)


def _qualify_engine_refs(sql: str, catalog) -> str:
    """Map ``db.table`` references to known engine tables onto their
    ``db__table`` temp views (Spark temp views are not
    database-qualified).  Only exact known (db, table) pairs are
    rewritten, so ordinary qualified column references pass through."""
    if not hasattr(catalog, "databases"):
        return sql
    for db, tables in catalog.databases.items():
        for table in tables:
            sql = re.sub(
                rf"(?<![\w.`\"]){re.escape(db)}\.{re.escape(table)}(?![\w.])",
                f"{db}__{table}",
                sql,
            )
    return sql


def _rewrite_command(sql: str, catalog) -> Optional[str]:
    match = _SHOW_TABLES_RE.match(sql)
    if match:
        db = match.group("db")
        if db:
            db_name = parse_qualified_name(db)[0]
        else:
            db_name = catalog.default_database if catalog is not None else "fluss"
        return (
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{escape_sql_string(db_name)}' ORDER BY table_name"
        )

    if _SHOW_DATABASES_RE.match(sql):
        return (
            "SELECT schema_name AS database_name FROM information_schema.schemata "
            "ORDER BY database_name"
        )

    for head, view, columns, extra, order, engine_only in _TABLE_COMMANDS:
        match = re.match(rf"^\s*{head}{_NAME}\s*$", sql, re.IGNORECASE)
        if not match:
            continue
        db, table = _split_name(match.group("name"), catalog)
        # a catalog without has_table (a plain string context) rewrites
        # unconditionally, like every other per-table command
        has_table = getattr(catalog, "has_table", None)
        if engine_only and has_table is not None and not has_table(f"{db}.{table}"):
            return None
        out = (
            f"SELECT {columns} FROM information_schema.{view} "
            f"WHERE table_schema = '{escape_sql_string(db)}' "
            f"AND table_name = '{escape_sql_string(table)}'"
        )
        if extra:
            out += f" AND {extra}"
        if order:
            out += f" ORDER BY {order}"
        return out

    return None


def _refresh_info_schema_if_needed(sql: str, catalog) -> None:
    if not hasattr(catalog, "spark"):
        return
    refs = {m.group(1).lower() for m in _INFO_SCHEMA_REF_RE.finditer(sql)}
    refs |= {
        m.group(1).lower()
        for m in re.finditer(r"\binformation_schema_(\w+)", sql, re.IGNORECASE)
    }
    if refs:
        from fluss_datafusion_spark.catalog import information_schema

        # table_stats row counts need a merge-on-read Spark job per PK
        # table — pathological for a metadata query like SHOW TABLES, so
        # they are computed only when table_stats is actually referenced.
        information_schema.register_views(
            catalog, include_stats="table_stats" in refs
        )
