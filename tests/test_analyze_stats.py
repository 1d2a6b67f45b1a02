"""ANALYZE TABLE / persisted column stats / stats-driven broadcast
(catalog/stats.py).  The reference's table_stats view is all NULL
placeholders (src/catalog/schema.rs:652-699); this is the column-level
statistics surface plus the planner cash-in."""

import math
import os

import pytest
from pyspark.sql import functions as F

from fluss_datafusion_spark.catalog import stats as S
from fluss_datafusion_spark.catalog.catalog import _parquet_files


@pytest.fixture()
def adb(engine):
    engine.sql("CREATE DATABASE IF NOT EXISTS adb")
    yield engine
    for tbl in list(engine.catalog.databases.get("adb", {})):
        engine.sql(f"DROP TABLE adb.{tbl}")


def test_analyze_computes_column_stats(adb):
    adb.sql(
        "CREATE TABLE adb.t1 (id BIGINT NOT NULL, name STRING, val DOUBLE, "
        "PRIMARY KEY (id))"
    )
    adb.sql(
        "INSERT INTO adb.t1 VALUES (1,'alpha',1.5),(2,'bb',NULL),"
        "(3,NULL,9.25),(4,'alpha',0.5)"
    )
    res = adb.sql("ANALYZE TABLE adb.t1 COMPUTE STATISTICS FOR ALL COLUMNS").collect()[0]
    assert res.row_count == 4 and res.analyzed_columns == 3
    st = S.load_stats(adb.catalog, adb.catalog.get_table("adb.t1"))
    assert st["row_count"] == 4
    c = st["columns"]
    assert c["name"]["null_count"] == 1
    assert c["val"]["null_count"] == 1
    assert c["id"]["min"] == "1" and c["id"]["max"] == "4"
    assert c["name"]["max_len"] == 5 and c["name"]["avg_len"] == 4.0
    # HLL ndv on 4 tiny values is exact
    assert c["id"]["ndv"] == 4 and c["name"]["ndv"] == 2


def test_analyze_for_columns_subset_and_unknown(adb):
    adb.sql("CREATE TABLE adb.t2 (id BIGINT NOT NULL, x INT, PRIMARY KEY (id))")
    adb.sql("INSERT INTO adb.t2 VALUES (1, 10), (2, 20)")
    adb.sql("ANALYZE TABLE adb.t2 COMPUTE STATISTICS FOR COLUMNS x")
    st = S.load_stats(adb.catalog, adb.catalog.get_table("adb.t2"))
    assert list(st["columns"]) == ["x"]
    with pytest.raises(ValueError, match="unknown column"):
        S.analyze_table(adb.catalog, "adb.t2", columns=["nope"])


def test_column_stats_view_and_staleness(adb):
    adb.sql("CREATE TABLE adb.t3 (id BIGINT NOT NULL, s STRING, PRIMARY KEY (id))")
    adb.sql("INSERT INTO adb.t3 VALUES (1,'a'),(2,'b')")
    adb.sql("ANALYZE TABLE adb.t3 COMPUTE STATISTICS FOR ALL COLUMNS")
    rows = adb.sql(
        "SELECT column_name, ndv, stale FROM information_schema.column_stats "
        "WHERE table_name = 't3' ORDER BY column_name"
    ).collect()
    assert [(r.column_name, r.stale) for r in rows] == [("id", False), ("s", False)]
    # a write bumps the seq -> stats are flagged stale
    adb.sql("INSERT INTO adb.t3 VALUES (3,'c')")
    rows = adb.sql(
        "SELECT DISTINCT stale FROM information_schema.column_stats "
        "WHERE table_name = 't3'"
    ).collect()
    assert [r.stale for r in rows] == [True]


def test_merge_on_read_broadcast_cash_in(adb, spark):
    """A PK table whose raw log is over the broadcast threshold but
    whose live snapshot is far under it gets the explicit hint: a join
    against it plans BroadcastHashJoin with no manual hint."""
    adb.sql("CREATE TABLE adb.dim (id BIGINT NOT NULL, tag STRING, PRIMARY KEY (id))")
    # churn: 8 upsert rounds over the same 50 keys -> raw log 400
    # rows, live 50
    rounds, keys = 8, 50
    for r in range(rounds):
        spark.range(keys).selectExpr(
            "id", f"concat('tag-{r}-', id) as tag"
        ).createOrReplaceTempView("dim_batch")
        adb.sql("INSERT INTO adb.dim SELECT * FROM dim_batch")
    # Each INSERT writes one file per partition of spark.range, i.e.
    # per core of local[N], so both sizes scale with the core count:
    # the threshold is derived from them, never a fixed byte count.
    # Catalyst's own estimate follows the raw file bytes ...
    catalyst_estimate = int(
        adb.catalog.read("adb.dim")
        ._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # ... the stats-based live estimate is ~50 rows' worth of them
    spec = adb.catalog.get_table("adb.dim")
    file_bytes = sum(
        os.path.getsize(f) for f in _parquet_files(adb.catalog.table_path(spec))
    )
    live_estimate = file_bytes * keys / (rounds * keys)
    # a threshold between the two: Catalyst's file-size estimate stays
    # over it, the live estimate under it
    threshold = int(math.sqrt(live_estimate * catalyst_estimate))
    assert live_estimate < threshold < catalyst_estimate, (
        f"no broadcast threshold separates the live estimate "
        f"({live_estimate:.0f} B) from Catalyst's estimate "
        f"({catalyst_estimate} B)"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(threshold))
        fact = spark.range(10000).selectExpr("id % 50 as id", "id as v")
        # without stats: no hint -> sort-merge join
        plan_before = fact.join(
            adb.catalog.read("adb.dim"), "id"
        )._jdf.queryExecution().executedPlan().toString()
        adb.sql("ANALYZE TABLE adb.dim COMPUTE STATISTICS")
        # the persisted stats are the numbers the live estimate assumed
        st = S.load_stats(adb.catalog, spec)
        assert st["row_count"] == keys and st["raw_rows"] == rounds * keys
        assert st["file_bytes"] == file_bytes
        plan_after = fact.join(
            adb.catalog.read("adb.dim"), "id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_before
        assert "BroadcastHashJoin" in plan_after
        # staleness: another write disables the hint again
        adb.sql("INSERT INTO adb.dim VALUES (999, 'new')")
        plan_stale = fact.join(
            adb.catalog.read("adb.dim"), "id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_stale
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_truncate_discards_stats(adb):
    adb.sql("CREATE TABLE adb.t4 (id BIGINT NOT NULL, PRIMARY KEY (id))")
    adb.sql("INSERT INTO adb.t4 VALUES (1),(2)")
    adb.sql("ANALYZE TABLE adb.t4 COMPUTE STATISTICS")
    assert S.load_stats(adb.catalog, adb.catalog.get_table("adb.t4")) is not None
    adb.sql("TRUNCATE TABLE adb.t4")
    assert S.load_stats(adb.catalog, adb.catalog.get_table("adb.t4")) is None


def test_show_stats_command(adb):
    adb.sql("CREATE TABLE adb.s1 (id BIGINT NOT NULL, PRIMARY KEY (id))")
    adb.sql("INSERT INTO adb.s1 VALUES (1),(2),(3)")
    adb.sql("ANALYZE TABLE adb.s1 COMPUTE STATISTICS FOR ALL COLUMNS")
    rows = adb.sql("SHOW STATS FOR adb.s1").collect()
    assert [(r.column_name, r.row_count, r.ndv) for r in rows] == [("id", 3, 3)]
