"""information_schema virtual tables.

Mirrors the reference's seven information_schema tables, built on demand
per query (src/catalog/schema.rs:245-699):

  tables        (table_schema, table_name, table_type)              :274-310
  table_ddl     (table_schema, table_name, create_table)            :312-351
  columns       (table_schema, table_name, column_name,
                 ordinal_position 1-based, data_type,
                 is_nullable YES/NO, column_default 'NULL',
                 comment, is_primary_key)                           :353-428
  partitions    (… partition_id, partition_name value1$value2,
                 partition_qualified_name k1=v1/k2=v2;
                 non-partitioned tables get a synthetic
                 partition_id=-1 '__non_partitioned__' row)         :430-510
  buckets       (partition × bucket_id 0..num_buckets, bucket_key,
                 row_count — reference leaves row_count NULL (TODO
                 at schema.rs:547); we fill real counts from data)  :512-591
  table_options (option_name, option_value,
                 option_type property|custom_property)              :593-650
  table_stats   (row_count, total_size_bytes, last_modified —
                 NULL placeholders in the reference :652-699;
                 we compute real values from the parquet files)     :652-699

Plus ``schemata`` (schema_name) used by SHOW DATABASES
(src/sql/show.rs:76-78), and engine extensions beyond the reference:
``views`` / ``materialized_views`` / ``file_stats`` (skipping-manifest
bounds) / ``column_stats`` (ANALYZE TABLE output incl. staleness —
catalog/stats.py).  Registered as flat temp views named
``information_schema_<name>`` (see sql/rewriter.py for why).
"""

from __future__ import annotations

import os
from typing import List

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_datafusion_spark.catalog.metadata import TableSpec, spark_type_to_ddl
from fluss_datafusion_spark.sql.dialect import quote_identifier


def register_views(catalog, include_stats: bool = True) -> None:
    """Register the information_schema views.

    ``include_stats=False`` skips the merge-on-read row-count Spark job
    that exact PK-table stats require — callers pass it for metadata
    queries (SHOW TABLES and friends) that never read table_stats, so a
    catalog with many PK tables doesn't scan every log to answer a
    listing (all other stats come from parquet footers / os.walk, no
    Spark job either way)."""
    spark = catalog.spark
    # through get_table, like every other statement boundary: one stat()
    # per table picks up a spec another session re-saved (tags,
    # branches, columns) instead of answering from the cached one
    specs: List[TableSpec] = [
        catalog.get_table(f"{db}.{name}")
        for db, tables in list(catalog.databases.items())
        for name in list(tables)
    ]

    schemata = [(name,) for name in catalog.list_databases()] or [("fluss",)]
    spark.createDataFrame(schemata, "schema_name string").createOrReplaceTempView(
        "information_schema_schemata"
    )

    view_defs = [
        (db, vname, vsql)
        for db in catalog.list_databases()
        for vname, vsql in sorted(catalog._load_view_defs(db).items())
    ]
    tables = [(s.database, s.name, "BASE TABLE") for s in specs] + [
        (db, vname, "VIEW") for db, vname, _ in view_defs
    ]
    spark.createDataFrame(
        tables, "table_schema string, table_name string, table_type string"
    ).createOrReplaceTempView("information_schema_tables")

    spark.createDataFrame(
        view_defs,
        "table_schema string, table_name string, view_definition string",
    ).createOrReplaceTempView("information_schema_views")

    ddl = [(s.database, s.name, format_create_table_sql(s)) for s in specs]
    spark.createDataFrame(
        ddl, "table_schema string, table_name string, create_table string"
    ).createOrReplaceTempView("information_schema_table_ddl")

    columns = []
    for s in specs:
        for ordinal, col in enumerate(s.columns, start=1):
            columns.append(
                (
                    s.database,
                    s.name,
                    col.name,
                    ordinal,
                    spark_type_to_ddl(col.spark_type),
                    "YES" if col.nullable else "NO",
                    "NULL",
                    col.comment,
                    col.name in s.primary_key,
                )
            )
    spark.createDataFrame(
        columns,
        T.StructType(
            [
                T.StructField("table_schema", T.StringType()),
                T.StructField("table_name", T.StringType()),
                T.StructField("column_name", T.StringType()),
                T.StructField("ordinal_position", T.IntegerType()),
                T.StructField("data_type", T.StringType()),
                T.StructField("is_nullable", T.StringType()),
                T.StructField("column_default", T.StringType()),
                T.StructField("comment", T.StringType()),
                T.StructField("is_primary_key", T.BooleanType()),
            ]
        ),
    ).createOrReplaceTempView("information_schema_columns")

    partitions = []
    buckets = []
    stats = []
    for s in specs:
        parts = _list_partitions(catalog, s)
        bucket_rows = _bucket_row_counts(catalog, s)
        for pid, pname, qname in parts:
            partitions.append((s.database, s.name, pid, pname, qname))
            for bucket_id in range(s.num_buckets or 1):
                buckets.append(
                    (
                        s.database,
                        s.name,
                        pid,
                        bucket_id,
                        ",".join(s.bucket_keys) if s.bucket_keys else None,
                        # REAL per-bucket row counts from parquet footers
                        # (the reference leaves these NULL — a TODO at
                        # src/catalog/schema.rs:547).  Physical log rows;
                        # for PK tables this counts pre-merge appends.
                        bucket_rows.get((qname, bucket_id)),
                    )
                )
        row_count, size_bytes, mtime = _table_stats(
            catalog, s, exact=include_stats
        )
        stats.append((s.database, s.name, row_count, size_bytes, mtime))

    spark.createDataFrame(
        partitions,
        "table_schema string, table_name string, partition_id long, "
        "partition_name string, partition_qualified_name string",
    ).createOrReplaceTempView("information_schema_partitions")

    spark.createDataFrame(
        buckets,
        "table_schema string, table_name string, partition_id long, "
        "bucket_id int, bucket_key string, row_count long",
    ).createOrReplaceTempView("information_schema_buckets")

    options = []
    for s in specs:
        for key in sorted(s.properties):
            options.append((s.database, s.name, key, s.properties[key], "property"))
    spark.createDataFrame(
        options,
        "table_schema string, table_name string, option_name string, "
        "option_value string, option_type string",
    ).createOrReplaceTempView("information_schema_table_options")

    spark.createDataFrame(
        stats,
        "table_schema string, table_name string, row_count long, "
        "total_size_bytes long, last_modified timestamp",
    ).createOrReplaceTempView("information_schema_table_stats")

    # ANALYZE TABLE column statistics (r5, catalog/stats.py): persisted
    # per-column null_count/ndv/min/max/lengths, plus a staleness flag
    # (PK tables: the analyze-time seq vs the current seq; others: the
    # file count) — the column level the reference's table_stats view
    # stubs out entirely (src/catalog/schema.rs:652-699).
    from fluss_datafusion_spark.catalog import stats as _stats_mod

    col_stats_rows = []
    for s in specs:
        persisted = _stats_mod.load_stats(catalog, s)
        if not persisted:
            continue
        if s.has_primary_key:
            stale = persisted.get("seq") != catalog._seq.get(s.qualified_name, 0)
        else:
            from fluss_datafusion_spark.catalog.catalog import _parquet_files

            stale = persisted.get("n_files") != len(
                _parquet_files(catalog.table_path(s))
            )
        for cname, c in sorted(persisted.get("columns", {}).items()):
            col_stats_rows.append(
                (
                    s.database, s.name, cname,
                    persisted.get("row_count"), c.get("null_count"),
                    c.get("ndv"), c.get("min"), c.get("max"),
                    c.get("avg_len"), c.get("max_len"), bool(stale),
                )
            )
    spark.createDataFrame(
        col_stats_rows,
        "table_schema string, table_name string, column_name string, "
        "row_count long, null_count long, ndv long, min_value string, "
        "max_value string, avg_len double, max_len long, stale boolean",
    ).createOrReplaceTempView("information_schema_column_stats")

    # Per-file footer min/max bounds from the skipping manifest (r5):
    # the metadata the file-skipping scan prunes on, surfaced for
    # inspection — the information_schema analog of Delta's file stats
    # / Iceberg's manifest entries.  Files not yet harvested simply
    # don't appear (the scan keeps them unconditionally).
    from fluss_datafusion_spark.catalog import skipping

    file_stats = []
    for s in specs:
        manifest = skipping.load(catalog.table_path(s))
        for rel_path, bounds in sorted(manifest.items()):
            for col_name, stat in sorted(bounds.items()):
                if col_name == skipping.BLOOM_KEY:
                    # blooms surface as one descriptive row per column
                    for bcol, bloom in sorted(stat.items()):
                        desc = f"bloom(m={bloom['m']},k={bloom['k']})"
                        file_stats.append(
                            (s.database, s.name, rel_path, bcol, desc, desc)
                        )
                    continue
                if col_name == skipping.SUMS_KEY:
                    # harvested sums surface under "<col>#sum" so the
                    # plain bounds rows stay numerically parseable
                    for scol, (ssum, nn) in sorted(stat.items()):
                        file_stats.append(
                            (s.database, s.name, rel_path,
                             f"{scol}#sum", str(ssum), f"nonnull={nn}")
                        )
                    continue
                lo, hi = stat
                file_stats.append(
                    (s.database, s.name, rel_path, col_name, str(lo), str(hi))
                )
    spark.createDataFrame(
        file_stats,
        "table_schema string, table_name string, file_path string, "
        "column_name string, min_value string, max_value string",
    ).createOrReplaceTempView("information_schema_file_stats")

    # Materialized views (r5): definition + maintenance checkpoint per
    # view, the observability side of catalog/matview.py
    from fluss_datafusion_spark.catalog import matview as _mv

    mviews = []
    for s in specs:
        qname = s.qualified_name
        if not _mv.is_matview(catalog, qname):
            continue
        m = _mv._load_mv(catalog, qname)
        source_desc = m["sources"][0]["name"]
        if len(m["sources"]) > 1:
            parts = [f"{m['sources'][0]['name']} {m['sources'][0]['alias']}"]
            for src, pairs in zip(m["sources"][1:], m["joins"]):
                on = " AND ".join(f"{l} = {r}" for l, r in pairs)
                parts.append(f"JOIN {src['name']} {src['alias']} ON {on}")
            source_desc = " ".join(parts)
        # staleness (r6): statements committed on any source past the
        # view's checkpoint — 0 = fresh, N = a REFRESH would apply N
        # statements' changes (the Snowflake/BigQuery staleness signal).
        # Measured against the committed seq a REFRESH anchors on, which
        # any session sees (this session's counter misses other
        # sessions' writes)
        lag = 0
        for src, lo in zip(m["sources"], m["last_seqs"]):
            try:
                hi = catalog._committed_seq(catalog.get_table(src["name"]))
            except Exception:
                continue  # source dropped: surface the view row regardless
            lag += max(0, hi - int(lo))
        mviews.append(
            (
                s.database,
                s.name,
                source_desc,
                ", ".join(m["group_cols"]),
                ", ".join(
                    f"{a['fn']}({a['col'] or '*'}) AS {a['alias']}"
                    for a in m["aggs"]
                ),
                m.get("where"),
                m["last_seqs"][0],
                lag,
                lag == 0,
            )
        )
    spark.createDataFrame(
        mviews,
        "table_schema string, table_name string, source_table string, "
        "group_columns string, aggregates string, where_clause string, "
        "last_refresh_seq long, staleness_statements long, is_fresh boolean",
    ).createOrReplaceTempView("information_schema_materialized_views")

    # Named version refs (r8): tags (read-only) and branches (writable)
    # in one view, which SHOW TAGS / SHOW BRANCHES rewrite onto
    # (sql/rewriter.py).  anchor_seq = the tag's pinned seq / the
    # branch's fork seq; head_seq differs from anchor only for branches
    # with deltas; readable=false marks refs stranded below the
    # compaction floor
    refs = []
    for s in specs:
        floor = catalog._floor.get(s.qualified_name, 0)
        for tag, info in sorted((s.tags or {}).items()):
            refs.append(
                (
                    s.database, s.name, tag, "TAG", int(info["seq"]),
                    int(info["seq"]), info.get("created_at"),
                    int(info["seq"]) >= floor,
                )
            )
        for br, info in sorted((s.branches or {}).items()):
            fork = int(info["fork_seq"])
            try:
                head = catalog._branch_head(s, br)
            except Exception:
                head = fork
            refs.append(
                (
                    s.database, s.name, br, "BRANCH", fork, int(head),
                    info.get("created_at"), fork >= floor,
                )
            )
    spark.createDataFrame(
        refs,
        "table_schema string, table_name string, ref_name string, "
        "ref_type string, anchor_seq long, head_seq long, "
        "created_at string, readable boolean",
    ).createOrReplaceTempView("information_schema_table_refs")


def _list_partitions(catalog, spec: TableSpec):
    """(partition_id, partition_name value1$value2, qualified k1=v1/k2=v2).

    Non-partitioned tables: the synthetic partition_id=-1 row
    (src/catalog/schema.rs:471-480)."""
    if not spec.partition_keys:
        return [(-1, "__non_partitioned__", "__non_partitioned__")]
    path = catalog.table_path(spec)
    found = set()
    if os.path.isdir(path):
        for root, dirs, _files in os.walk(path):
            rel = os.path.relpath(root, path)
            # user partition dirs only — physical __bkt__ bucket dirs are
            # an internal layout detail, not a logical partition
            parts = [
                p for p in rel.split(os.sep)
                if "=" in p and not p.startswith("__bkt__=")
            ]
            if len(parts) == len(spec.partition_keys):
                found.add(tuple(parts))
                dirs[:] = []
    # directory names carry the PHYSICAL column name (column mapping
    # never moves directories) — translate to the logical name for
    # display, so SHOW PARTITIONS follows a layout-column rename
    to_logical = {c.stored_name: c.name for c in spec.columns}
    out = []
    for pid, parts in enumerate(sorted(found)):
        values = [p.split("=", 1)[1] for p in parts]
        shown = [
            f"{to_logical.get(k, k)}={v}"
            for k, v in (p.split("=", 1) for p in parts)
        ]
        out.append((pid, "$".join(values), "/".join(shown)))
    return out or [(-1, "__non_partitioned__", "__non_partitioned__")]


def _table_stats(catalog, spec: TableSpec, exact: bool = True):
    """(row_count, size_bytes, last_modified).  Size/mtime always come
    from the filesystem.  Row counts: log tables read parquet footers
    (exact, no Spark job); PK tables need a merge-on-read count — only
    run when ``exact`` (i.e. table_stats is actually being queried),
    otherwise NULL (the reference leaves ALL of these NULL)."""
    path = catalog.table_path(spec)
    total = 0
    mtime = None
    footer_rows = 0
    # Spark's listing rule (catalog._parquet_files): names starting
    # with _ or . are metadata unless they contain '=' — without the
    # dir prune, a chunked stats manifest (_file_stats/*.parquet)
    # counts as table rows (row_count 3 -> 303 on a 3-row table).
    hidden = (
        lambda n: (n.startswith("_") or n.startswith(".")) and "=" not in n
    )
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        for f in files:
            if f.endswith(".parquet") and not hidden(f):
                full = os.path.join(root, f)
                total += os.path.getsize(full)
                m = os.path.getmtime(full)
                mtime = m if mtime is None else max(mtime, m)
                try:
                    import pyarrow.parquet as pq

                    footer_rows += pq.read_metadata(full).num_rows
                except Exception:
                    pass
    if not total:
        row_count = 0
    elif not spec.has_primary_key:
        row_count = footer_rows
    elif exact:
        try:
            row_count = catalog.read(spec.qualified_name).count()
        except Exception:
            row_count = None
    else:
        row_count = None
    import datetime

    last_modified = (
        datetime.datetime.fromtimestamp(mtime, tz=datetime.timezone.utc).replace(tzinfo=None)
        if mtime
        else None
    )
    return row_count, total or None, last_modified


def format_create_table_sql(spec: TableSpec) -> str:
    """Fluss-style DDL renderer (mirrors format_create_table_sql,
    src/catalog/schema.rs:703-782): backtick quoting, PRIMARY KEY inline,
    COMMENT, PARTITIONED BY, DISTRIBUTED BY ... INTO n BUCKETS, WITH
    (sorted properties)."""
    lines = [f"CREATE TABLE {quote_identifier(spec.database)}.{quote_identifier(spec.name)} ("]
    col_lines = []
    for col in spec.columns:
        piece = f"  {quote_identifier(col.name)} {spark_type_to_ddl(col.spark_type)}"
        if getattr(col, "generated", None):
            piece += f" GENERATED ALWAYS AS ({col.generated})"
        if not col.nullable:
            piece += " NOT NULL"
        if col.comment:
            piece += f" COMMENT '{col.comment.replace(chr(39), chr(39) * 2)}'"
        col_lines.append(piece)
    if spec.primary_key:
        pk = ", ".join(quote_identifier(k) for k in spec.primary_key)
        col_lines.append(f"  PRIMARY KEY ({pk})")
    for cname in sorted(spec.check_constraints):
        col_lines.append(
            f"  CONSTRAINT {quote_identifier(cname)} CHECK "
            f"({spec.check_constraints[cname]})"
        )
    lines.append(",\n".join(col_lines))
    lines.append(")")
    if spec.comment:
        lines.append(f"COMMENT '{spec.comment.replace(chr(39), chr(39) * 2)}'")
    if spec.partition_keys:
        keys = ", ".join(quote_identifier(k) for k in spec.partition_keys)
        lines.append(f"PARTITIONED BY ({keys})")
    if spec.bucket_keys:
        keys = ", ".join(quote_identifier(k) for k in spec.bucket_keys)
        into = f" INTO {spec.num_buckets} BUCKETS" if spec.num_buckets else ""
        lines.append(f"DISTRIBUTED BY ({keys}){into}")
    if spec.properties:
        props = ",\n".join(
            f"  '{k}' = '{spec.properties[k]}'" for k in sorted(spec.properties)
        )
        lines.append("WITH (\n" + props + "\n)")
    return "\n".join(lines)


def _bucket_row_counts(catalog, spec: TableSpec):
    """(partition_qualified_name, bucket_id) -> physical row count, read
    from parquet footers (no Spark job; footer metadata only)."""
    if not (spec.num_buckets and spec.bucket_keys):
        return {}
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return {}
    counts = {}
    base = catalog.table_path(spec)
    if not os.path.isdir(base):
        return counts
    n_pkeys = len(spec.partition_keys or [])
    for root, _dirs, files in os.walk(base):
        rel = os.path.relpath(root, base)
        segs = [] if rel == "." else rel.split(os.sep)
        bkt = next(
            (s for s in segs if s.startswith("__bkt__=")), None
        )
        if bkt is None:
            continue
        user_parts = [s for s in segs if "=" in s and not s.startswith("__bkt__=")]
        qname = "/".join(user_parts) if n_pkeys else "__non_partitioned__"
        bucket_id = int(bkt.split("=", 1)[1])
        total = 0
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += pq.read_metadata(os.path.join(root, f)).num_rows
                except Exception:
                    pass
        if total:
            key = (qname, bucket_id)
            counts[key] = counts.get(key, 0) + total
    return counts
