"""Driver-local append fast path (r12 optimization): literal VALUES
inserts, point tombstones, and small matview refresh deltas write one
pyarrow parquet file per touched bucket from the driver instead of
running a Spark write job.  These tests pin (a) that the fast path actually engages (zero
write jobs, '-local' file names), and (b) byte-level state equivalence
with the distributed writer across upserts, deletes, time travel,
changelog reads, CHECK constraints, and matview refresh outcomes."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog.catalog import (
    FlussCatalog,
    bucket_id,
    bucket_id_expr,
)


@pytest.fixture()
def engine(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    yield e


def _local_files(e, name):
    """Driver-written part files of ``name``, relative to the table dir
    (``__bkt__=<b>/`` sub-dirs included)."""
    tp = e.catalog.table_path(e.catalog.get_table(name))
    return [
        os.path.relpath(os.path.join(root, f), tp)
        for root, _dirs, files in os.walk(tp)
        for f in files
        if f.endswith(".parquet") and "-local" in f
    ]


def _disable_local(monkeypatch):
    monkeypatch.setattr(
        FlussCatalog, "_try_local_append", lambda self, *a, **k: None
    )


def test_values_insert_is_local_and_jobfree(engine):
    e = engine
    sc = e.spark.sparkContext
    e.sql("CREATE TABLE la (k BIGINT NOT NULL, g STRING, x DOUBLE,"
          " PRIMARY KEY (k))")
    sc.setJobGroup("la-ins", "local insert probe")
    try:
        count = e.catalog.insert_sql(
            "la", "INSERT INTO la VALUES (1, 'a', 1.5), (2, 'b', NULL)"
        )
    finally:
        sc.setJobGroup(None, None)
    # the write itself launches no job; the returned scalar frame is lazy
    jobs = sc.statusTracker().getJobIdsForGroup("la-ins")
    assert len(jobs) == 0, f"local INSERT ran {len(jobs)} jobs"
    assert count.collect()[0][0] == 2
    assert len(_local_files(e, "la")) == 1
    assert [tuple(r) for r in e.sql(
        "SELECT * FROM la ORDER BY k").collect()] == [
        (1, "a", 1.5), (2, "b", None)]


def test_point_delete_is_local(engine):
    e = engine
    e.sql("CREATE TABLE ld (k BIGINT NOT NULL, v STRING, PRIMARY KEY (k))")
    e.sql("INSERT INTO ld VALUES (1, 'a'), (2, 'b')")
    before = len(_local_files(e, "ld"))
    e.sql("DELETE FROM ld WHERE k = 1")
    assert len(_local_files(e, "ld")) == before + 1
    assert [tuple(r) for r in e.sql("SELECT * FROM ld").collect()] == [
        (2, "b")]


def test_state_parity_with_spark_writer(engine, monkeypatch, spark, tmp_path):
    """The same statement sequence through the local writer and the
    distributed writer yields identical state, changelog, and time
    travel."""
    stmts = [
        "CREATE TABLE pt (k BIGINT NOT NULL, g STRING, x DOUBLE,"
        " PRIMARY KEY (k))",
        "INSERT INTO pt VALUES (1, 'a', 1.0), (2, 'b', 2.5), (2, 'B', NULL)",
        "DELETE FROM pt WHERE k = 1",
        "INSERT INTO pt VALUES (1, 'back', -0.0), (3, 'c', 3.25)",
        "INSERT INTO pt (k) VALUES (9)",
    ]
    e1 = engine
    for s in stmts:
        e1.sql(s)
    e2 = EngineSession(spark=spark, warehouse=str(tmp_path / "wh2"))
    _disable_local(monkeypatch)
    for s in stmts:
        e2.sql(s)
    assert len(_local_files(e1, "pt")) > 0
    assert _local_files(e2, "pt") == []

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    assert canon(e1.sql("SELECT * FROM pt")) == canon(
        e2.sql("SELECT * FROM pt"))
    for seq in (1, 2, 3, 4):
        assert canon(
            e1.sql(f"SELECT * FROM pt VERSION AS OF {seq}")
        ) == canon(e2.sql(f"SELECT * FROM pt VERSION AS OF {seq}"))
    ch1 = canon(e1.catalog.read_changes("pt", 1, 4).select(
        "k", "g", "x", "op"))
    ch2 = canon(e2.catalog.read_changes("pt", 1, 4).select(
        "k", "g", "x", "op"))
    assert ch1 == ch2


def test_check_constraints_on_local_path(engine):
    e = engine
    e.sql("CREATE TABLE lc (k BIGINT NOT NULL, x BIGINT, PRIMARY KEY (k))")
    e.sql("ALTER TABLE lc ADD CONSTRAINT pos CHECK (x > 0)")
    e.sql("INSERT INTO lc VALUES (1, 5)")  # passes
    e.sql("INSERT INTO lc VALUES (2, NULL)")  # NULL passes (SQL CHECK)
    with pytest.raises(ValueError, match="CHECK constraint pos"):
        e.sql("INSERT INTO lc VALUES (3, -1)")
    assert sorted(tuple(r) for r in e.sql(
        "SELECT * FROM lc").collect()) == [(1, 5), (2, None)]
    # the violating statement wrote nothing
    assert len(_local_files(e, "lc")) == 2


def test_branch_values_insert_local(engine):
    e = engine
    e.sql("CREATE TABLE lb (k BIGINT NOT NULL, v STRING, PRIMARY KEY (k))")
    e.sql("INSERT INTO lb VALUES (1, 'main')")
    e.sql("ALTER TABLE lb CREATE BRANCH dev")
    e.sql("INSERT INTO lb$branch('dev') VALUES (2, 'branched')")
    e.sql("DELETE FROM lb$branch('dev') WHERE k = 1")
    assert [tuple(r) for r in e.sql(
        "SELECT * FROM lb$branch('dev') ORDER BY k").collect()] == [
        (2, "branched")]
    # main untouched
    assert [tuple(r) for r in e.sql("SELECT * FROM lb").collect()] == [
        (1, "main")]


def test_bucketed_values_insert_lands_in_its_bucket(engine, spark):
    """A bucketed table takes the driver-local path: one file per
    touched bucket, each under the ``__bkt__`` dir that bucket_id_expr
    assigns to its rows, with no __bkt__ column inside the file."""
    e = engine
    e.sql("CREATE TABLE lf (k BIGINT NOT NULL, v STRING, PRIMARY KEY (k))"
          " DISTRIBUTED BY (k) INTO 4 BUCKETS")
    e.sql("INSERT INTO lf VALUES " + ", ".join(
        f"({k}, 'v{k}')" for k in range(12)))
    spec = e.catalog.get_table("lf")
    tp = e.catalog.table_path(spec)
    files = _local_files(e, "lf")
    assert files and all(f.startswith("__bkt__=") for f in files)
    assert len(files) == len({os.path.dirname(f) for f in files})
    placed = {}
    for f in files:
        table = pq.read_table(os.path.join(tp, f))
        assert "__bkt__" not in table.column_names
        for k in table.column("k").to_pylist():
            placed[k] = int(os.path.dirname(f).split("=")[1])
    want = {
        r["k"]: r["b"]
        for r in spark.range(12).select(
            F.col("id").alias("k"), bucket_id_expr(spec, F.col("id")).alias("b")
        ).collect()
    }
    assert placed == want
    assert e.catalog.lookup("lf", 2).collect()[0]["v"] == "v2"


def test_partitioned_falls_back(engine):
    e = engine
    e.sql("CREATE TABLE lp (k BIGINT NOT NULL, p STRING, PRIMARY KEY (k))"
          " PARTITIONED BY (p)")
    e.sql("INSERT INTO lp VALUES (1, 'x')")
    assert _local_files(e, "lp") == []  # Hive dir naming stays with Spark
    assert [tuple(r) for r in e.sql("SELECT * FROM lp").collect()] == [
        (1, "x")]


def test_failed_rename_leaves_table_and_store_readable(
    engine, spark, tmp_path, monkeypatch
):
    """A failure between a driver-local parquet write and its rename
    leaves no visible part file and no temp file, also when another
    file of the same write was already renamed into place: the table
    and both Hamming stores read exactly as before."""
    from fluss_datafusion_spark.catalog.catalog import _parquet_files
    from fluss_datafusion_spark.operators import incremental as inc

    e = engine
    e.sql("CREATE TABLE lr (k BIGINT NOT NULL, v STRING, PRIMARY KEY (k))"
          " DISTRIBUTED BY (k) INTO 4 BUCKETS")
    e.sql("INSERT INTO lr VALUES (1, 'a'), (2, 'b')")
    idx = str(tmp_path / "hidx")
    inc.write_hamming_index(
        spark.createDataFrame([(i, i * 7919) for i in range(20)],
                              "media_id long, dhash long"),
        "media_id", "dhash", idx,
    )
    tp = e.catalog.table_path(e.catalog.get_table("lr"))
    stores = [os.path.join(idx, s) for s in ("buckets", "hashes")]
    before = {p: _parquet_files(p) for p in [tp] + stores}
    rows_before = {p: spark.read.parquet(p).count() for p in stores}

    spec = e.catalog.get_table("lr")
    assert len({bucket_id(spec, {"k": k}) for k in (3, 4, 5)}) > 1
    real_replace = os.replace
    renames = []

    def failing_replace(src, dst, *a, **k):
        # every second part-file rename fails: the first file of each
        # write is already in place and must be taken back
        if str(dst).endswith(".parquet"):
            renames.append(dst)
            if len(renames) % 2 == 0:
                raise OSError("injected failure before rename")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected"):
        e.sql("INSERT INTO lr VALUES (3, 'c'), (4, 'd'), (5, 'e')")
    batch = spark.createDataFrame([(100, 5), (101, 6)],
                                  "media_id long, dhash long")
    assert inc._local_append_hamming(
        batch, "media_id", "dhash", idx, 4, 1) is False
    monkeypatch.setattr(os, "replace", real_replace)
    assert len(renames) == 4

    for p in [tp] + stores:
        assert _parquet_files(p) == before[p], p
        leftovers = [
            f for _r, _d, fs in os.walk(p) for f in fs if f.endswith(".tmp")
        ]
        assert leftovers == [], p
    assert [tuple(r) for r in e.sql(
        "SELECT * FROM lr ORDER BY k").collect()] == [(1, "a"), (2, "b")]
    for p in stores:
        assert spark.read.parquet(p).count() == rows_before[p], p


def test_matview_local_refresh_parity(engine, monkeypatch, spark, tmp_path):
    """Small-delta refresh writes locally; outcome identical to the
    Spark fused-plan path — covering dead groups, new groups, NULL
    measures, float (Kahan) sums, and min/max folds without breach."""
    setup = [
        "CREATE TABLE ms (k BIGINT NOT NULL, g STRING, x BIGINT,"
        " f DOUBLE, PRIMARY KEY (k))",
        "INSERT INTO ms VALUES (1, 'a', 10, 0.1), (2, 'a', 20, 0.2),"
        " (3, 'b', 30, 0.3), (4, 'c', NULL, NULL)",
        "CREATE MATERIALIZED VIEW msv AS SELECT g, count(*) AS n,"
        " count(x) AS nx, sum(x) AS sx, avg(x) AS ax, sum(f) AS sf,"
        " min(x) AS mn, max(x) AS mx FROM ms GROUP BY g",
    ]
    dml = [
        # new group, NULL measure, dead group ('b' fully deleted),
        # and an insert ABOVE 'a's max (min/max fold, no rescan)
        "INSERT INTO ms VALUES (5, 'd', 50, 0.5), (6, 'a', 99, NULL)",
        "DELETE FROM ms WHERE g = 'b'",
        "REFRESH MATERIALIZED VIEW msv",
    ]
    final = ("SELECT g, n, nx, sx, round(ax, 9) AS ax, round(sf, 9) AS sf,"
             " mn, mx FROM msv ORDER BY g")
    e1 = engine
    for s in setup + dml:
        e1.sql(s)
    r1 = [tuple(r) for r in e1.sql(final).collect()]
    assert len(_local_files(e1, "msv")) >= 1  # the refresh wrote locally

    from fluss_datafusion_spark.catalog import matview as mv_mod

    monkeypatch.setattr(
        mv_mod, "_try_local_refresh_write", lambda *a, **k: None
    )
    _disable_local(monkeypatch)
    e2 = EngineSession(spark=spark, warehouse=str(tmp_path / "wh3"))
    for s in setup + dml:
        e2.sql(s)
    r2 = [tuple(r) for r in e2.sql(final).collect()]
    assert _local_files(e2, "msv") == []
    assert r1 == r2


def test_matview_rescan_falls_back(engine):
    """A retraction breaching the stored max forces the bounded rescan
    — the local path must decline and the Spark path recompute."""
    e = engine
    e.sql("CREATE TABLE mr (k BIGINT NOT NULL, g STRING, x BIGINT,"
          " PRIMARY KEY (k))")
    e.sql("INSERT INTO mr VALUES (1, 'a', 10), (2, 'a', 99), (3, 'b', 5)")
    e.sql("CREATE MATERIALIZED VIEW mrv AS SELECT g, max(x) AS mx,"
          " count(*) AS n FROM mr GROUP BY g")
    before = len(_local_files(e, "mrv"))
    e.sql("DELETE FROM mr WHERE k = 2")  # retracts the stored max of 'a'
    e.sql("REFRESH MATERIALIZED VIEW mrv")
    # rescan path went through Spark (no new local file), result exact
    assert len(_local_files(e, "mrv")) == before
    assert [tuple(r) for r in e.sql(
        "SELECT g, mx, n FROM mrv ORDER BY g").collect()] == [
        ("a", 10, 1), ("b", 5, 1)]
