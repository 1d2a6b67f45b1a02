"""Engine session: SparkSession factory + the SQL front door.

Reference parity: the reference's ``FlussCliSession`` (src/cli.rs:32-158)
owns a DataFusion ``SessionContext``, applies the string-level SQL rewriter
(src/sql/rewriter.rs:19-77) and hands everything else to ``ctx.sql``.
``EngineSession`` mirrors that: DDL interception + SHOW/DESCRIBE rewriting
happen at the string level, then ``spark.sql`` (Catalyst) does all planning
and execution.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ref_view_token(ref: str) -> str:
    """Injective temp-view token for a branch/tag ref name: the
    sanitized form alone collides ('a-b' and 'a_b' both map to 'a_b',
    so a statement referencing both would have the second bind clobber
    the first); a short digest of the RAW name disambiguates."""
    import hashlib
    import re as _re

    safe = _re.sub(r"[^A-Za-z0-9_]", "_", ref)
    return f"{safe}_{hashlib.sha1(ref.encode()).hexdigest()[:8]}"


def build_spark(
    app_name: str = "fluss-datafusion-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Scale posture (100 TB design, local[N] test): AQE coalesces the
    statically-sized shuffle, session timezone is pinned to UTC so results
    are reproducible against any oracle, and Arrow is enabled so every
    pandas-UDF boundary is vectorized.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    disable_dataframe_debugging(spark)
    return spark


def disable_dataframe_debugging(spark: SparkSession) -> None:
    """Turn off PySpark's per-call error-context capture
    (``spark.python.sql.dataFrameDebugging.enabled``).

    Measured (tools/profile_refresh_phases.py, r8): the capture wrapper
    costs ~4 py4j round-trips per DataFrame API call (getActiveSession +
    conf.get + origin set/clear), and a single matview REFRESH makes
    ~630 wrapped calls — about HALF of the refresh's 5.3k py4j commands
    and a large slice of every DML statement's fixed overhead.  The
    trade is losing Python call-site lines inside JVM error messages,
    which an engine layer (whose statements come from SQL text, not
    user DataFrame code) does not need.  The flag is cached globally by
    pyspark on first use, so the cache is reset/pinned too — this makes
    the call effective even on driver-provided sessions that already
    ran DataFrame calls."""
    try:
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except Exception:
        pass
    try:
        import pyspark.errors.utils as _peu

        _peu._enable_debugging_cache = False
    except Exception:
        pass


class EngineSession:
    """Front door: ``EngineSession().sql("...")``.

    Statement routing (mirrors src/cli.rs:112-147):
      1. CREATE TABLE with PRIMARY KEY / DISTRIBUTED BY / WITH  -> our DDL
         parser + catalog (Spark SQL cannot parse those clauses).
      2. INSERT INTO a PK table                                  -> upsert path.
      3. SHOW/DESCRIBE family -> string rewrite onto information_schema views.
      4. everything else      -> spark.sql() verbatim (Catalyst).
    """

    def __init__(self, spark: Optional[SparkSession] = None, warehouse: Optional[str] = None):
        self.spark = spark or build_spark()
        # also for driver-provided sessions: the capture wrapper is pure
        # per-call overhead for engine-built plans (see the helper)
        disable_dataframe_debugging(self.spark)
        # Imports deferred so `import fluss_datafusion_spark` works even if a
        # subpackage is mid-refactor.
        from fluss_datafusion_spark.catalog.catalog import FlussCatalog

        self.catalog = FlussCatalog(self.spark, warehouse=warehouse)
        register_sql_functions(self.spark)

    def _scalar_df(self, name: str, value: int, empty: bool = False):
        """One-row (or zero-row) bigint result frame for DML/DDL
        statements, as a LocalRelation: ``VALUES (1)`` plus a literal
        projection folds to a local table at optimization, so collecting
        it runs no Spark job (``range(1)`` runs one: ~86 ms vs ~50 ms
        median per collect on a 4-vCPU host; ``createDataFrame([(n,)])``
        also pays python-RDD serialization).  DML-lifecycle entries run a dozen
        such statements, so the constructor IS part of the statement
        floor."""
        from pyspark.sql import functions as F

        out = self.spark.sql("VALUES (1)").select(
            F.lit(value).cast("bigint").alias(name)
        )
        return out.limit(0) if empty else out

    def _literal_df(self, **cols):
        """Multi-column one-row bigint result frame, same rationale as
        ``_scalar_df`` (kwargs order = column order)."""
        from pyspark.sql import functions as F

        return self.spark.sql("VALUES (1)").select(
            *[F.lit(v).cast("bigint").alias(k) for k, v in cols.items()]
        )

    def sql(self, query: str) -> DataFrame:
        import re

        from fluss_datafusion_spark.catalog import ddl
        from fluss_datafusion_spark.sql import rewriter
        from fluss_datafusion_spark.sql.dialect import strip_quotes

        statement = query.strip().rstrip(";").strip()

        # USE <db>: session default-database switch (the reference sets the
        # session default schema the same way — src/main.rs:89-99 routes
        # `SET datafusion.catalog.default_schema='<db>'` at startup; we
        # accept both spellings mid-session).
        use_match = re.match(
            r"^\s*USE\s+(?:DATABASE\s+|SCHEMA\s+)?"
            r"(`[^`]*`|\"[^\"]*\"|[\w@$]+)\s*$",
            statement,
            re.IGNORECASE,
        )
        if use_match is None:
            use_match = re.match(
                r"^\s*SET\s+(?:datafusion\.catalog\.)?default_schema\s*=\s*"
                r"'([^']*)'\s*$",
                statement,
                re.IGNORECASE,
            )
        if use_match:
            self.catalog.set_default_database(strip_quotes(use_match.group(1)))
            return self._scalar_df("count", 0, empty=True)

        # CLONE must dispatch before CREATE TABLE parsing (it shares the
        # CREATE TABLE prefix but has no column list to parse)
        clone_parsed = ddl.parse_clone(statement)
        if clone_parsed is not None:
            new_name, source, deep, if_not_exists = clone_parsed
            if if_not_exists and self.catalog.has_table(new_name):
                return self._scalar_df("n_files", 0, empty=True)
            n_files = self.catalog.clone_table(source, new_name, deep=deep)
            return self._scalar_df("n_files", n_files)

        like_parsed = ddl.parse_create_like(statement)
        if like_parsed is not None and self.catalog.has_table(like_parsed[1]):
            new_name, source, if_not_exists = like_parsed
            if if_not_exists and self.catalog.has_table(new_name):
                return self._scalar_df("count", 0, empty=True)
            from fluss_datafusion_spark.catalog.metadata import TableSpec

            src = self.catalog.get_table(source)
            spec = TableSpec.from_dict(src.to_dict())
            parts = new_name.split(".")
            if len(parts) == 1:
                parts = [self.catalog.default_database] + parts
            spec.database, spec.name = parts
            self.catalog.create_table(spec, if_not_exists=False)
            return self._scalar_df("count", 0, empty=True)

        mv_parsed = ddl.parse_create_matview(statement)
        if mv_parsed is not None:
            from fluss_datafusion_spark.catalog import matview

            n = matview.create_matview(self.catalog, *mv_parsed)
            return self._scalar_df("groups", n)

        mv_refresh = ddl.parse_refresh_matview(statement)
        if mv_refresh is not None and self.catalog.has_table(mv_refresh):
            from fluss_datafusion_spark.catalog import matview

            counts = matview.refresh_matview(self.catalog, mv_refresh)
            return self._literal_df(
                upserted=counts["upserted"],
                deleted=counts["deleted"],
                full_rebuild=counts["full_rebuild"],
            )

        vacuum_target = ddl.parse_vacuum(statement)
        if vacuum_target is not None and self.catalog.has_table(vacuum_target):
            removed = self.catalog.vacuum(vacuum_target)
            return self._scalar_df("removed", removed)

        view_parsed = ddl.parse_create_view(statement)
        if view_parsed is not None:
            name, select_sql, or_replace = view_parsed
            self.catalog.create_view(name, select_sql, or_replace=or_replace)
            return self._scalar_df("count", 0, empty=True)

        drop_view = ddl.parse_drop_view(statement)
        if drop_view is not None:
            self.catalog.drop_view(drop_view[0], if_exists=drop_view[1])
            return self._scalar_df("count", 0, empty=True)

        ctas = ddl.parse_ctas(
            statement, default_database=self.catalog.default_database
        )
        if ctas is not None:
            name, layout, select_sql, if_not_exists = ctas
            if if_not_exists and self.catalog.has_table(name):
                return self._scalar_df("inserted", 0, empty=True)
            from fluss_datafusion_spark.catalog.metadata import (
                ColumnSpec,
                TableSpec,
                spark_type_to_ddl,
            )

            self.catalog.refresh_views()  # CTAS body resolves temp views
            df = self.spark.sql(select_sql)
            db, table = name.split(".")
            cols = [
                ColumnSpec(
                    name=f.name,
                    type_name=spark_type_to_ddl(f.dataType),
                    nullable=f.name not in layout["primary_key"],
                )
                for f in df.schema.fields
            ]
            self.catalog.create_table(
                TableSpec(
                    database=db,
                    name=table,
                    columns=cols,
                    primary_key=layout["primary_key"],
                    partition_keys=layout["partition_keys"],
                    bucket_keys=layout["bucket_keys"],
                    num_buckets=layout["num_buckets"],
                    properties=layout["properties"],
                ),
                if_not_exists=False,
            )
            n = self.catalog.insert(name, df)
            return self._scalar_df("inserted", n)

        if ddl.is_engine_create_table(statement):
            spec = ddl.parse_create_table(
                statement, default_database=self.catalog.default_database
            )
            self.catalog.create_table(spec)
            return self._scalar_df("count", 0, empty=True)

        database = ddl.parse_create_database(statement)
        if database is not None:
            self.catalog.create_database(database)
            return self._scalar_df("count", 0, empty=True)

        drop_target = ddl.parse_drop_table(statement)
        if drop_target is not None and self.catalog.has_table(drop_target):
            self.catalog.drop_table(drop_target)
            return self._scalar_df("count", 0, empty=True)

        alter_parsed = ddl.parse_alter_table(statement)
        if alter_parsed is not None and self.catalog.has_table(alter_parsed[0]):
            target, (action, payload) = alter_parsed
            if action == "add":
                self.catalog.add_column(target, payload)
            elif action == "drop":
                self.catalog.drop_column(target, payload)
            elif action == "rename_column":
                self.catalog.rename_column(target, *payload)
            elif action == "alter_type":
                self.catalog.alter_column_type(target, *payload)
            elif action == "add_constraint":
                self.catalog.add_check_constraint(target, *payload)
            elif action == "drop_constraint":
                self.catalog.drop_check_constraint(target, payload)
            elif action == "set_properties":
                self.catalog.set_table_properties(target, payload)
            elif action == "unset_properties":
                self.catalog.unset_table_properties(target, payload)
            elif action == "create_tag":
                self.catalog.create_tag(target, *payload)
            elif action == "drop_tag":
                self.catalog.drop_tag(target, payload)
            elif action == "create_branch":
                self.catalog.create_branch(target, *payload)
            elif action == "drop_branch":
                self.catalog.drop_branch(target, payload)
            elif action == "fast_forward":
                ff = self.catalog.fast_forward(target, payload)
                return self._literal_df(
                    advanced_to=ff["advanced_to"],
                    files_published=ff["files_published"],
                )
            elif action == "cherry_pick":
                cp = self.catalog.cherry_pick(target, payload)
                return self._literal_df(
                    advanced_to=cp["advanced_to"],
                    files_published=cp["files_published"],
                )
            elif action == "expire_refs":
                retain, older = payload if payload else (None, None)
                dropped = self.catalog.expire_refs(
                    target,
                    retain_last=retain,
                    older_than_seconds=older,
                )
                return self._literal_df(
                    expired_tags=len(dropped["tags"]),
                    expired_branches=len(dropped["branches"]),
                )
            else:
                self.catalog.rename_table(target, payload)
            return self._scalar_df("count", 0, empty=True)

        tags_match = re.match(
            r"^\s*SHOW\s+TAGS\s+((?:`[^`]*`|\"[^\"]*\"|[\w@$.])+)\s*$",
            statement,
            re.IGNORECASE,
        )
        if tags_match is not None:
            from fluss_datafusion_spark.sql.dialect import (
                parse_qualified_name,
            )

            target = ".".join(parse_qualified_name(tags_match.group(1)))
            if self.catalog.has_table(target):
                spec = self.catalog.get_table(target)
                floor = self.catalog._floor.get(spec.qualified_name, 0)
                rows = [
                    (k, v["seq"], v.get("created_at"), v["seq"] >= floor)
                    for k, v in sorted((spec.tags or {}).items())
                ]
                return self.spark.createDataFrame(
                    rows,
                    "tag_name string, seq bigint, created_at string,"
                    " time_travelable boolean",
                )

        branches_match = re.match(
            r"^\s*SHOW\s+BRANCHES\s+(?:(?:FROM|IN)\s+)?"
            r"((?:`[^`]*`|\"[^\"]*\"|[\w@$.])+)\s*$",
            statement,
            re.IGNORECASE,
        )
        if branches_match is not None:
            from fluss_datafusion_spark.sql.dialect import (
                parse_qualified_name,
            )

            target = ".".join(parse_qualified_name(branches_match.group(1)))
            if self.catalog.has_table(target):
                spec = self.catalog.get_table(target)
                floor = self.catalog._floor.get(spec.qualified_name, 0)
                rows = [
                    (
                        k,
                        v["fork_seq"],
                        self.catalog._branch_head(spec, k),
                        v.get("created_at"),
                        v["fork_seq"] >= floor,
                    )
                    for k, v in sorted((spec.branches or {}).items())
                ]
                return self.spark.createDataFrame(
                    rows,
                    "branch_name string, fork_seq bigint, head_seq bigint,"
                    " created_at string, readable boolean",
                )

        detail_match = re.match(
            r"^\s*DESCRIBE\s+DETAIL\s+((?:`[^`]*`|\"[^\"]*\"|[\w@$.])+)\s*$",
            statement,
            re.IGNORECASE,
        )
        if detail_match is not None:
            from fluss_datafusion_spark.sql.dialect import parse_qualified_name

            target = ".".join(parse_qualified_name(detail_match.group(1)))
            if self.catalog.has_table(target):
                # Delta's DESCRIBE DETAIL: one row summarizing the
                # table's physical layout and policies — all from
                # filesystem metadata + the spec, no Spark job.
                import json as _json

                from fluss_datafusion_spark.catalog import matview as _mv
                from fluss_datafusion_spark.catalog.catalog import (
                    _parquet_files,
                )

                spec = self.catalog.get_table(target)
                path = self.catalog.table_path(spec)
                files = _parquet_files(path)
                size = sum(os.path.getsize(f) for f in files)
                row = (
                    "fluss-parquet",
                    spec.qualified_name,
                    path,
                    "pk" if spec.has_primary_key else "log",
                    ", ".join(spec.primary_key) or None,
                    ", ".join(spec.partition_keys or []) or None,
                    ", ".join(spec.bucket_keys or []) or None,
                    spec.num_buckets or None,
                    len(files),
                    size,
                    self.catalog._committed_seq(spec),
                    self.catalog._floor.get(spec.qualified_name, 0),
                    _mv.is_matview(self.catalog, target),
                    _json.dumps(spec.properties or {}, sort_keys=True),
                )
                return self.spark.createDataFrame(
                    [row],
                    "format string, name string, location string, "
                    "table_type string, primary_key string, "
                    "partition_columns string, bucket_columns string, "
                    "num_buckets int, num_files bigint, size_bytes bigint, "
                    "current_version bigint, compaction_floor bigint, "
                    "is_materialized_view boolean, properties string",
                )

        hist_match = re.match(
            r"^\s*DESCRIBE\s+HISTORY\s+((?:`[^`]*`|\"[^\"]*\"|[\w@$.])+)\s*$",
            statement,
            re.IGNORECASE,
        )
        if hist_match is not None:
            from fluss_datafusion_spark.sql.dialect import parse_qualified_name

            target = ".".join(parse_qualified_name(hist_match.group(1)))
            if self.catalog.has_table(target):
                # Delta's DESCRIBE HISTORY: one row per committed
                # statement, newest first, from the _commits.json
                # wall-clock stamps; time_travelable marks versions at
                # or above the compaction floor.
                from datetime import datetime, timezone

                spec = self.catalog.get_table(target)
                commits = self.catalog._load_commits(spec)
                floor = self.catalog._floor.get(spec.qualified_name, 0)
                rows = [
                    (
                        int(seq),
                        datetime.fromtimestamp(ts, tz=timezone.utc).replace(
                            tzinfo=None
                        ),
                        int(seq) >= floor,
                    )
                    for seq, ts in sorted(commits.items(), reverse=True)
                ]
                return self.spark.createDataFrame(
                    rows,
                    "version bigint, commit_ts timestamp, time_travelable boolean",
                )

        truncate_target = ddl.parse_truncate_table(statement)
        if truncate_target is not None and self.catalog.has_table(truncate_target):
            self.catalog.truncate_table(truncate_target)
            return self._scalar_df("count", 0, empty=True)

        maintenance = ddl.parse_maintenance(statement)
        if maintenance is not None and self.catalog.has_table(maintenance[1]):
            action, target = maintenance[0], maintenance[1]
            if action == "optimize":
                zorder_by = maintenance[2] if len(maintenance) > 2 else None
                where = maintenance[3] if len(maintenance) > 3 else None
                curve = maintenance[4] if len(maintenance) > 4 else "zorder"
                n_files = self.catalog.optimize(
                    target, zorder_by=zorder_by, where=where, curve=curve
                )
                return self._scalar_df("n_files", n_files)
            self.catalog.compact(target)
            return self._scalar_df("count", 0, empty=True)

        from fluss_datafusion_spark.sources import copy as copy_io

        copy_parsed = copy_io.parse_copy(statement)
        if copy_parsed is not None:
            source, direction, path, opts = copy_parsed
            if direction == "TO":
                n = copy_io.copy_to(self, source, path, opts)
            else:
                if not self.catalog.has_table(source):
                    raise ValueError(f"COPY FROM: unknown table {source}")
                n = copy_io.copy_from(self, source, path, opts)
            return self._scalar_df("rows", n)

        analyze_parsed = ddl.parse_analyze(statement)
        if analyze_parsed is not None and self.catalog.has_table(analyze_parsed[0]):
            from fluss_datafusion_spark.catalog import stats as _stats

            target, cols = analyze_parsed
            s = _stats.analyze_table(self.catalog, target, columns=cols)
            return self._literal_df(
                row_count=s["row_count"],
                file_bytes=s["file_bytes"],
                analyzed_columns=len(s["columns"]),
            )

        restore_parsed = ddl.parse_restore(statement)
        if restore_parsed is not None and self.catalog.has_table(restore_parsed[0]):
            target, anchor = restore_parsed
            if isinstance(anchor, tuple):  # ("ts", "<string>")
                anchor = self.catalog.resolve_timestamp(target, anchor[1])
            counts = self.catalog.restore_table(target, anchor)
            return self._literal_df(
                restored=counts["restored"], deleted=counts["deleted"]
            )

        update_parsed = ddl.parse_update(statement) if re.match(
            r"^\s*UPDATE\b", statement, re.IGNORECASE
        ) else None
        if update_parsed is not None and self.catalog.has_table(update_parsed[0]):
            target, assigns, where = update_parsed
            count = self.catalog.update_rows(target, assigns, where)
            return self._scalar_df("count", count)

        # branch-targeted DML: INSERT INTO / DELETE FROM / UPDATE /
        # MERGE INTO t$branch('b') routes to the branch's own seq space
        # (reads of the same form are handled by _bind_system_tables
        # like any system table)
        branch_dml = re.match(
            r"^\s*(INSERT\s+INTO|DELETE\s+FROM|UPDATE|MERGE\s+INTO)\s+"
            r"((?:`[^`]*`|[\w.])+)\$branch\('([^']*)'\)([\s\S]*)$",
            statement,
            re.IGNORECASE,
        )
        if branch_dml is not None:
            from fluss_datafusion_spark.sql.dialect import (
                parse_qualified_name,
            )

            verb = branch_dml.group(1).upper().split()[0]
            target = ".".join(parse_qualified_name(branch_dml.group(2)))
            bname = branch_dml.group(3)
            rest = branch_dml.group(4)
            if self.catalog.has_table(target):
                if verb == "DELETE":
                    where = re.match(
                        r"^\s*WHERE\s+([\s\S]+?)\s*;?\s*$", rest,
                        re.IGNORECASE,
                    )
                    if not where:
                        raise ValueError(
                            "DELETE on a branch requires a WHERE clause"
                        )
                    # Mirror the main-path dispatch below: a WHERE that
                    # is full-PK equality takes the blind-tombstone
                    # point delete (recorded, not validated — the
                    # tombstone MUST land even for a branch-absent key,
                    # or cherry-pick/branch_diff never see the
                    # divergence; VERDICT r10 item 1); anything else is
                    # the predicate form against the branch overlay.
                    # re-parse with the ORIGINAL (possibly backtick-
                    # quoted) table token so exotic names still reach
                    # the point-delete dispatch
                    parsed = ddl.parse_delete(
                        f"DELETE FROM {branch_dml.group(2)}{rest}"
                    )
                    key = parsed[1] if parsed is not None else None
                    pk = set(self.catalog.get_table(target).primary_key)
                    if key is not None and set(key) == pk:
                        count = self.catalog.delete(
                            target, key, branch=bname
                        )
                    else:
                        count = self.catalog.delete_where(
                            target, where.group(1), branch=bname
                        )
                    return self._scalar_df("count", count)
                if verb == "UPDATE":
                    parsed = ddl.parse_update(
                        f"UPDATE {branch_dml.group(2)}{rest}"
                    )
                    if parsed is None:
                        raise ValueError(
                            f"cannot parse branch UPDATE: {statement!r}"
                        )
                    _t, assigns, where = parsed
                    count = self.catalog.update_rows(
                        target, assigns, where, branch=bname
                    )
                    return self._scalar_df("count", count)
                if verb == "MERGE":
                    merge = ddl.parse_merge(
                        f"MERGE INTO {branch_dml.group(2)}{rest}"
                    )
                    if merge is None:
                        raise ValueError(
                            f"cannot parse branch MERGE: {statement!r}"
                        )
                    source = merge["source"]
                    if source.startswith("("):
                        source_df = self.sql(source[1:-1])
                    elif self.catalog.has_table(source):
                        source_df = self.catalog.read(source)
                    else:
                        self.catalog.refresh_views()
                        source_df = self.spark.table(
                            rewriter.rewrite_sql(source, self.catalog)
                        )
                    counts = self.catalog.merge_into(
                        target,
                        source_df,
                        merge["on"],
                        matched_clauses=merge["matched"],
                        not_matched=merge["not_matched"],
                        not_matched_by_source=merge.get(
                            "not_matched_by_source"
                        ),
                        branch=bname,
                    )
                    return self._literal_df(
                        upserted=counts["upserted"],
                        deleted=counts["deleted"],
                    )
                stripped = (
                    f"INSERT INTO {branch_dml.group(2)}{rest}"
                )
                return self.catalog.insert_sql(
                    target,
                    self._bind_system_tables(
                        self._rewrite_time_travel(stripped)
                    ),
                    branch=bname,
                )

        delete_parsed = ddl.parse_delete(statement)
        if delete_parsed is not None and self.catalog.has_table(delete_parsed[0]):
            target, key, pred = delete_parsed
            pk = set(self.catalog.get_table(target).primary_key)
            if key is not None and set(key) == pk:
                count = self.catalog.delete(target, key)
            else:
                count = self.catalog.delete_where(target, pred)
            return self._scalar_df("count", count)

        merge = ddl.parse_merge(statement) if re.match(
            r"^\s*MERGE\s+INTO\b", statement, re.IGNORECASE
        ) else None
        if merge is not None and self.catalog.has_table(merge["target"]):
            source = merge["source"]
            if source.startswith("("):
                # Subquery source: plan it through the full session.sql
                # path so engine tables / system tables / rewrites all
                # resolve inside it.
                source_df = self.sql(source[1:-1])
            elif self.catalog.has_table(source):
                source_df = self.catalog.read(source)
            else:
                self.catalog.refresh_views()  # resolving temp views
                source_df = self.spark.table(
                    rewriter.rewrite_sql(source, self.catalog)
                )
            counts = self.catalog.merge_into(
                merge["target"],
                source_df,
                merge["on"],
                matched_clauses=merge["matched"],
                not_matched=merge["not_matched"],
                not_matched_by_source=merge.get("not_matched_by_source"),
            )
            return self._literal_df(
                upserted=counts["upserted"], deleted=counts["deleted"]
            )

        insert_target = ddl.parse_insert_target(statement)
        if insert_target is not None and self.catalog.has_table(insert_target):
            # Inline time travel / system tables inside the DML body
            # (INSERT INTO t SELECT ... FROM t VERSION AS OF 3) must
            # rewrite here too — this path returns before the generic
            # SELECT rewrites below ever run (ADVICE r5).
            return self.catalog.insert_sql(
                insert_target,
                self._bind_system_tables(self._rewrite_time_travel(statement)),
            )

        # Driver-local fast paths for SELECTs, tried before the view
        # re-bind below:
        # - primary-key point lookups (`SELECT ... FROM <pk table> WHERE
        #   <pk> = <literal>`) read the key's bucket with pyarrow and
        #   answer with a LocalRelation — the reference's
        #   FlussLookupExec; past a cap they run catalog.lookup's
        #   bucket-pruned plan (plans/pk_lookup.py);
        # - metadata-only aggregates on append-only log tables (the
        #   Iceberg/Delta manifest-aggregate pattern): a bare
        #   `SELECT count(*)/min(c)/max(c) FROM t` is answered from
        #   parquet footer statistics — no scan, O(files-metadata) at
        #   100 TB.  Every soundness gate (PK tables, string truncation,
        #   manifest coverage, WHERE tails, time travel) falls back to
        #   Catalyst — see plans/metadata_agg.py.
        explain_probe = re.match(
            r"^\s*EXPLAIN(?:\s+(?:EXTENDED|FORMATTED|CODEGEN|COST))?\s+(.+)$",
            statement,
            re.IGNORECASE | re.DOTALL,
        )
        inner = explain_probe.group(1) if explain_probe else statement
        if re.match(r"^\s*SELECT\s", inner, re.IGNORECASE):
            from fluss_datafusion_spark.plans.metadata_agg import (
                try_branch_metadata_aggregate,
                try_metadata_aggregate,
                try_partition_group_count,
            )
            from fluss_datafusion_spark.plans.pk_lookup import try_pk_lookup

            served = try_pk_lookup(self, inner)
            if served is not None:
                fast, path = served
                path = f"primary-key point lookup, {path} — plans/pk_lookup.py"
            else:
                fast = try_metadata_aggregate(self, inner)
                if fast is None:
                    fast = try_partition_group_count(self, inner)
                if fast is None:
                    fast = try_branch_metadata_aggregate(self, inner)
                path = "metadata-only aggregate fast path — plans/metadata_agg.py"
            if fast is not None:
                if explain_probe is None:
                    return fast
                # the documented invariant: EXPLAIN shows the plan the
                # engine would RUN — for a fast path that is its own
                # plan, not the scan Catalyst would plan
                text = (
                    f"== Physical Plan ({path}) ==\n"
                    + fast._jdf.queryExecution().executedPlan().toString()
                )
                return self.spark.createDataFrame([(text,)], "plan string")

        # Read boundary: re-bind temp views left stale by earlier writes
        # (one set check when nothing changed).  Write-only statements
        # above never pay the rebind — a 10-statement DML lifecycle
        # re-derives each touched view's plan once at the next read,
        # not once per write.
        self.catalog.refresh_views()
        # EXPLAIN runs the SAME rewrite chain as execution (time travel,
        # system tables, SHOW/QUALIFY rewrites), so the plan a user
        # inspects is the plan the engine would run — not the raw text
        # Spark alone couldn't resolve.
        explain = re.match(
            r"^\s*EXPLAIN(\s+(?:EXTENDED|FORMATTED|CODEGEN|COST))?\s+(.+)$",
            statement,
            re.IGNORECASE | re.DOTALL,
        )
        prefix = ""
        if explain is not None:
            prefix = f"EXPLAIN{explain.group(1) or ''} "
            statement = explain.group(2)
        statement = self._rewrite_time_travel(statement)
        statement = self._bind_system_tables(statement)
        rewritten = rewriter.rewrite_sql(statement, self.catalog)
        return self.spark.sql(prefix + rewritten)

    def _rewrite_time_travel(self, statement: str) -> str:
        """Map the Delta/SQL:2011 inline time-travel spellings onto the
        engine's system-table forms (which ``_bind_system_tables`` then
        resolves):

        - ``FROM t VERSION AS OF 3``             -> ``t$v3``
        - ``FROM t TIMESTAMP AS OF '<ts>'``      -> ``t$at('<ts>')``
        - ``FROM t FOR SYSTEM_TIME AS OF '<ts>'``-> ``t$at('<ts>')``

        Only references to known engine tables rewrite; anything else —
        including the same words inside string literals — passes
        through untouched (matching runs on a literal-blanked copy of
        the statement, the QUALIFY rewriter's masking)."""
        import re

        from fluss_datafusion_spark.sql.qualify import _mask_positional

        pattern = re.compile(
            r"\b([\w.]+)\s+(?:FOR\s+SYSTEM_TIME\s+AS\s+OF\s+'([^']*)'"
            r"|TIMESTAMP\s+AS\s+OF\s+'([^']*)'"
            r"|VERSION\s+AS\s+OF\s+(\d+)"
            r"|VERSION\s+AS\s+OF\s+'([^']*)')",
            re.IGNORECASE,
        )
        masked = _mask_positional(statement)
        out = statement
        # right-to-left so earlier match positions stay valid
        for match in reversed(list(pattern.finditer(masked))):
            table = match.group(1)
            if not self.catalog.has_table(table):
                continue
            if match.group(4) is not None:
                repl = f"{table}$v{match.group(4)}"
            elif match.group(5) is not None:
                # Iceberg's quoted form: VERSION AS OF '<ref>' — one ref
                # namespace, tags and branches both resolve (create_branch
                # refuses a name already taken by a tag, so no ambiguity)
                span = match.span(5)
                ref = statement[span[0]:span[1]]
                spec = self.catalog.get_table(table)
                kind = (
                    "branch" if ref in (spec.branches or {})
                    and ref not in (spec.tags or {}) else "tag"
                )
                repl = f"{table}${kind}('{ref}')"
            else:
                # the ts literal was blanked in the mask — slice the
                # original text at the same positions
                span = match.span(2) if match.group(2) is not None else match.span(3)
                repl = f"{table}$at('{statement[span[0]:span[1]]}')"
            out = out[: match.start()] + repl + out[match.end() :]
        return out

    def _bind_system_tables(self, statement: str) -> str:
        """Resolve ``<table>$<system>`` references — the system-table
        convention lakehouse engines use for the auxiliary views of a
        table (e.g. Paimon's ``t$audit_log``) — by registering the
        corresponding derivation as a temp view and rewriting the name,
        so all of these work in plain SQL with no API call:

        - ``t$changelog`` — the +I/-U/+U/-D change stream
          (``catalog.read_changelog``);
        - ``t$changes(from[, to])`` — the BOUNDED incremental slice
          (``catalog.read_changes`` — Delta's ``table_changes`` table
          function as a system-table form, r5);
        - ``t$history`` — the raw stamped log (__seq__/__sub__/__del__
          visible): every write ever made, pre-merge observability;
        - ``t$v<N>`` — time travel: the table as of statement sequence N
          (``catalog.read(as_of_seq=N)``; refuses pre-compaction-floor
          anchors like the API does);
        - ``t$at('<timestamp>')`` — wall-clock time travel (Delta's
          TIMESTAMP AS OF, r5): the ISO timestamp (naive = UTC) or
          epoch seconds resolves to the highest statement committed at
          or before it via the per-statement commit stamps.

        Each view snapshots the log at bind time — the same
        read-to-latest semantics as every other scan here."""
        import re

        pattern = re.compile(
            r"`?([\w.]+)\$(changelog|history"
            r"|changes\((\d+)(?:\s*,\s*(\d+))?\)|v(\d+)"
            r"|at\('([^']*)'\)|tag\('([^']*)'\)"
            r"|branch_diff\('([^']*)'\)"
            r"|branch\('([^']*)'\))`?"
        )

        def bind(match):
            table, kind = match.group(1), match.group(2)
            if not self.catalog.has_table(table):
                return match.group(0)
            tbl = table.replace(".", "__")
            if kind == "changelog":
                view = f"__changelog__{tbl}"
                df = self.catalog.read_changelog(table)
            elif kind == "history":
                view = f"__history__{tbl}"
                spec = self.catalog.get_table(table)
                df = self.catalog._log_df(spec)
            elif kind.startswith("changes("):
                frm = int(match.group(3))
                to = int(match.group(4)) if match.group(4) else None
                view = f"__changes_{frm}_{to if to is not None else 'x'}__{tbl}"
                df = self.catalog.read_changes(table, frm, to)
            elif kind.startswith("at("):
                ts = match.group(6)
                seq = self.catalog.resolve_timestamp(table, ts)
                view = f"__at{seq}__{tbl}"
                df = self.catalog.read(table, as_of_seq=seq)
            elif kind.startswith("tag("):
                seq = self.catalog.resolve_tag(table, match.group(7))
                view = f"__at{seq}__{tbl}"
                df = self.catalog.read(table, as_of_seq=seq)
            elif kind.startswith("branch_diff("):
                b = match.group(8)
                view = f"__branchdiff_{_ref_view_token(b)}__{tbl}"
                df = self.catalog.branch_diff(table, b)
            elif kind.startswith("branch("):
                b = match.group(9)
                view = f"__branch_{_ref_view_token(b)}__{tbl}"
                df = self.catalog.read_branch(table, b)
            else:
                view = f"__v{match.group(5)}__{tbl}"
                df = self.catalog.read(table, as_of_seq=int(match.group(5)))
            df.createOrReplaceTempView(view)
            return view

        return pattern.sub(bind, statement)

    # -- data loading -------------------------------------------------------

    def load_testdata(self, sf_dir: str, tables=TESTDATA_TABLES) -> None:
        """Register the driver's parquet tables as temp views."""
        register_testdata(self.spark, sf_dir, tables)

    def stop(self) -> None:
        self.spark.stop()


def register_testdata(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_table(spark, path).createOrReplaceTempView(name)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition — but ONLY when the plan currently yields
    fewer partitions than the cluster has cores.

    Why conditional: heavyweight per-row work (interpreted shingling
    lambdas, sketch/digest partial aggregation, Arrow kernels) serializes
    on however many scan partitions the source produced.  A small-file
    corpus (the test SFs — one parquet file, a handful of row groups;
    maxPartitionBytes cannot split past row-group boundaries) yields
    fewer partitions than cores, and a cheap narrow-input shuffle buys
    full-core parallelism.  At 100 TB the input has orders of magnitude
    more partitions than cores, the guard is false, and NO shuffle is
    added — an unconditional repartition there would round-robin the
    whole corpus through the network for nothing.

    Call it AFTER projecting to the needed columns so anything that does
    get shuffled is the narrow slice, not the full row.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, normalizing timestamp columns to Spark's
    session-timezone TIMESTAMP regardless of how the lake encoded them:

    - TIMESTAMP(NANOS) (Spark rejects by default; DuckDB emits them) is
      read as long and truncated to microseconds with exact integer
      division — double division would lose precision at 1.7e18-scale
      epoch values;
    - timezone-less timestamp[us] (arrow writers without isAdjustedToUTC,
      which Spark 4 infers as TIMESTAMP_NTZ) is cast to TIMESTAMP — a
      pure metadata change under the pinned-UTC session timezone, and
      required because event-time operators (withWatermark, streaming
      windows) reject NTZ event-time columns.
    """
    import pyarrow.parquet as pq
    from pyarrow import types as patypes
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ns_cols = []
    try:
        file_schema = pq.read_schema(_first_parquet_file(path))
        ns_cols = [
            f.name
            for f in file_schema
            if patypes.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        pass
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for col in ns_cols:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    for col in ntz_cols:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _first_parquet_file(path: str) -> str:
    if os.path.isfile(path):
        return path
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                return os.path.join(root, f)
    return path


# SQL-native text metrics: the same formulas as functions/text.py, exposed
# as session-scoped SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN <expr>)
# so plain-SQL / CLI users can call them without the Python API.  These
# are pure expression macros — Catalyst inlines the body, so they codegen
# exactly like the Column versions (no UDF overhead).
_SQL_FUNCTIONS = {
    "token_count": (
        "(t STRING) RETURNS INT RETURN "
        "CASE WHEN length(trim(t)) = 0 THEN 0 "
        "ELSE size(split(trim(t), '\\\\s+')) END"
    ),
    "bpe_token_count": (
        "(t STRING) RETURNS INT RETURN "
        "CASE WHEN length(trim(t)) = 0 THEN 0 ELSE "
        "aggregate(split(trim(t), '\\\\s+'), 0, "
        "(acc, w) -> acc + greatest(1, CAST(ceil(length(w) / 4) AS INT))) END"
    ),
    "quality_score": (
        "(t STRING) RETURNS DOUBLE RETURN ("
        "  least(1.0, (CASE WHEN length(trim(t)) = 0 THEN 0"
        "              ELSE size(split(trim(t), '\\\\s+')) END) / 20.0)"
        "  + (CASE WHEN length(t) > 0"
        "          THEN length(regexp_replace(t, '[^A-Za-z]', '')) / length(t)"
        "          ELSE 0.0 END)"
        "  + (CASE WHEN length(trim(t)) > 0"
        "          AND length(t) / size(split(trim(t), '\\\\s+')) BETWEEN 3 AND 12"
        "          THEN 1.0 ELSE 0.0 END)"
        ") / 3.0"
    ),
    "doc_fingerprint": (
        "(t STRING) RETURNS STRING RETURN "
        "md5(regexp_replace(lower(trim(t)), '\\\\s+', ' '))"
    ),
    "prefix_fingerprint": (
        "(t STRING, n INT) RETURNS STRING RETURN "
        "md5(array_join(slice(split(lower(trim(t)), '\\\\s+'), 1, n), ' '))"
    ),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Register the engine's SQL-native text metrics on this session
    (idempotent: CREATE OR REPLACE)."""
    for name, body in _SQL_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
