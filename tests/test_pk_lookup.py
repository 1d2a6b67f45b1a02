"""Primary-key point lookups served driver-side (plans/pk_lookup.py).

- the Python bucket id equals ``bucket_id_expr`` (Spark's xxhash64);
- property: the driver-local answer equals the Catalyst answer (rows
  and schema, nullability included) across upserts, point and
  predicate DELETEs, auto-compaction, RENAME COLUMN, ADD COLUMN and
  ALTER TYPE, on bucketed and unbucketed tables with single and
  composite keys, for hits and misses;
- pinned fallbacks: caps, partitioned tables, matviews, time travel,
  branches, non-PK conjuncts, unsupported types, a torn part file and
  a table dropped by another session;
- collecting a served lookup, or a DML result frame, runs no Spark job.
"""

import datetime as dt
import itertools
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog import catalog as cat_mod
from fluss_datafusion_spark.catalog.catalog import bucket_id, bucket_id_expr
from fluss_datafusion_spark.catalog.metadata import ColumnSpec, TableSpec
from fluss_datafusion_spark.plans import pk_lookup

_STATE = {}
_SEQ = itertools.count()


def _session(spark):
    if "e" not in _STATE:
        wh = os.path.join(tempfile.mkdtemp(prefix="pk_lookup_"), "wh")
        _STATE["e"] = EngineSession(spark=spark, warehouse=wh)
    return _STATE["e"]


def _catalyst(e, query, monkeypatch):
    """The same statement with the lookup path switched off."""
    with monkeypatch.context() as m:
        m.setattr(pk_lookup, "try_pk_lookup", lambda *a: None)
        df = e.sql(query)
        return df.schema, df.collect()


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("pk_lookup_probe", "pk_lookup_probe")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup("pk_lookup_probe"))
        out = fn()
        after = len(sc.statusTracker().getJobIdsForGroup("pk_lookup_probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, after - before


# -- bucket id ---------------------------------------------------------------

_KEY_TYPES = {
    "BIGINT": st.integers(-(1 << 63), (1 << 63) - 1),
    "INT": st.integers(-(1 << 31), (1 << 31) - 1),
    "SMALLINT": st.integers(-(1 << 15), (1 << 15) - 1),
    "TINYINT": st.integers(-128, 127),
    "DATE": st.dates(dt.date(1, 1, 1), dt.date(9999, 12, 31)),
    "STRING": st.text(max_size=80),
}


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_python_bucket_id_equals_bucket_id_expr(spark, data):
    types = data.draw(
        st.lists(st.sampled_from(sorted(_KEY_TYPES)), min_size=1, max_size=3)
    )
    names = [f"k{i}" for i in range(len(types))]
    spec = TableSpec(
        database="fluss", name="b",
        columns=[ColumnSpec(n, t, nullable=False) for n, t in zip(names, types)],
        primary_key=names, bucket_keys=names,
        num_buckets=data.draw(st.integers(1, 64)),
    )
    keys = data.draw(st.lists(
        st.tuples(*[_KEY_TYPES[t] for t in types]), min_size=1, max_size=20,
    ))
    df = spark.createDataFrame(keys, spec.spark_schema())
    want = [r[0] for r in df.select(
        bucket_id_expr(spec, *[F.col(n) for n in names])
    ).collect()]
    got = [bucket_id(spec, dict(zip(names, k))) for k in keys]
    assert got == want


# -- equivalence property ----------------------------------------------------

_LAYOUTS = [
    # (key columns DDL, PK, DISTRIBUTED BY clause)
    ("k BIGINT NOT NULL", ["k"], " DISTRIBUTED BY (k) INTO 3 BUCKETS"),
    ("k BIGINT NOT NULL", ["k"], ""),
    ("k INT NOT NULL, j STRING NOT NULL", ["k", "j"],
     " DISTRIBUTED BY (k, j) INTO 4 BUCKETS"),
    ("k INT NOT NULL, j STRING NOT NULL", ["k", "j"], ""),
]
_K = st.integers(0, 5)
_J = st.sampled_from(["a", "b", "it's"])
_ROW = st.tuples(_K, _J, st.one_of(st.none(), st.integers(-9, 9)),
                 st.one_of(st.none(), st.dates(dt.date(1990, 1, 1),
                                               dt.date(2030, 1, 1))))
_OPS = st.lists(st.one_of(
    st.tuples(st.just("ins"), st.lists(_ROW, min_size=1, max_size=3)),
    st.tuples(st.just("del"), st.tuples(_K, _J)),
    st.tuples(st.just("delw"), st.integers(-9, 9)),
    st.tuples(st.just("rename"), st.none()),
    st.tuples(st.just("add"), st.none()),
    st.tuples(st.just("alter"), st.none()),
    st.tuples(st.just("look"), st.tuples(_K, _J)),
), min_size=1, max_size=8)


def _lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return str(v)


@settings(max_examples=14, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(layout=st.sampled_from(_LAYOUTS), ops=_OPS, data=st.data())
def test_local_lookup_matches_catalyst(spark, monkeypatch, layout, ops, data):
    e = _session(spark)
    key_ddl, pk, dist = layout
    t = f"eq{next(_SEQ)}"
    e.sql(
        f"CREATE TABLE {t} ({key_ddl}, v INT, d DATE, PRIMARY KEY"
        f" ({', '.join(pk)})){dist} WITH ('compaction.auto-after' = '3')"
    )
    cols = list(pk) + ["v", "d"]  # current logical names, table order
    vcol = "v"

    def where(key):
        return " AND ".join(f"{c} = {_lit(x)}" for c, x in zip(pk, key))

    def check(key):
        listed = data.draw(st.lists(
            st.sampled_from(cols), min_size=1, max_size=3
        ))
        select = data.draw(st.sampled_from(
            ["*", ", ".join(c.upper() if i % 2 else c
                            for i, c in enumerate(listed))]
        ))
        q = f"SELECT {select} FROM {t} WHERE {where(key)}"
        served = pk_lookup.try_pk_lookup(e, q)
        # an empty table (no data file yet) keeps Catalyst's spec-typed
        # empty frame; otherwise the read is driver-local
        has_data = cat_mod._has_data(e.catalog.table_path(
            e.catalog.get_table(t)
        ))
        want_path = "driver-local read" if has_data else (
            "catalog.lookup (empty table)"
        )
        assert served is not None and served[1] == want_path, q
        want_schema, want = _catalyst(e, q, monkeypatch)
        # schema equality includes nullability: a scan reports every
        # column nullable, so the served frame must too
        assert served[0].schema == want_schema, q
        got, jobs = _jobs_during(spark, served[0].collect)
        assert got == want, q
        assert jobs == 0 or not has_data, q
        assert e.sql(q).collect() == want, q

    for op, arg in ops:
        if op == "ins":
            rows = ", ".join(
                "(" + ", ".join(_lit(x) for x in (r[: len(pk)] + r[2:]))
                + (", NULL" * (len(cols) - len(pk) - 2)) + ")"
                for r in arg
            )
            e.sql(f"INSERT INTO {t} VALUES {rows}")
        elif op == "del":
            e.sql(f"DELETE FROM {t} WHERE {where(arg)}")
        elif op == "delw":
            e.sql(f"DELETE FROM {t} WHERE {vcol} < {arg}")
        elif op == "rename":
            new = f"{vcol}_r"
            e.sql(f"ALTER TABLE {t} RENAME COLUMN {vcol} TO {new}")
            cols[cols.index(vcol)] = new
            vcol = new
        elif op == "add" and len(cols) < len(pk) + 4:
            new = f"w{len(cols)}"
            e.sql(f"ALTER TABLE {t} ADD COLUMN {new} STRING")
            cols.append(new)
        elif op == "alter":
            e.sql(f"ALTER TABLE {t} ALTER COLUMN {vcol} TYPE BIGINT")
        elif op == "look":
            check(arg)
    check(data.draw(st.tuples(_K, _J)))
    check((99, "zz"))  # never written: a miss
    e.sql(f"DROP TABLE {t}")


# -- served-path contracts ---------------------------------------------------


@pytest.fixture()
def kv(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE kv (k BIGINT NOT NULL, s STRING, PRIMARY KEY (k))"
        " DISTRIBUTED BY (k) INTO 4 BUCKETS"
    )
    e.sql("INSERT INTO kv VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    return e


def test_lookup_after_write_runs_no_job_and_no_rebind(spark, kv, monkeypatch):
    kv.sql("INSERT INTO kv VALUES (2, 'b2')")
    rebinds = []
    real = kv.catalog.refresh_views
    monkeypatch.setattr(kv.catalog, "refresh_views",
                        lambda: rebinds.append(1) or real())
    rows, jobs = _jobs_during(
        spark, lambda: kv.sql("SELECT * FROM kv WHERE k = 2").collect()
    )
    assert [tuple(r) for r in rows] == [(2, "b2")]
    assert jobs == 0 and rebinds == []


def test_explain_shows_the_lookup_path(kv, monkeypatch):
    plan = kv.sql("EXPLAIN SELECT * FROM kv WHERE k = 1").collect()[0][0]
    assert "primary-key point lookup, driver-local read" in plan
    assert "LocalTableScan" in plan and "FileScan" not in plan
    monkeypatch.setattr(cat_mod, "_LOCAL_FILE_CAP", 0)
    plan = kv.sql("EXPLAIN SELECT * FROM kv WHERE k = 1").collect()[0][0]
    assert "primary-key point lookup, catalog.lookup" in plan
    assert "FileScan" in plan


def test_insert_values_result_collects_without_a_job(spark, kv):
    df, write_jobs = _jobs_during(
        spark, lambda: kv.sql("INSERT INTO kv VALUES (7, 'g')")
    )
    assert write_jobs == 0  # the bucketed VALUES write is driver-local
    rows, jobs = _jobs_during(spark, df.collect)
    assert [tuple(r) for r in rows] == [(1,)] and jobs == 0
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in df.schema.fields] == [("count", "bigint", False)]
    for q in ("DELETE FROM kv WHERE k = 7", "USE fluss"):
        df = kv.sql(q)
        _, jobs = _jobs_during(spark, df.collect)
        assert jobs == 0, q


# -- pinned fallbacks --------------------------------------------------------


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_over_the_file_cap_falls_back(kv, monkeypatch):
    monkeypatch.setattr(cat_mod, "_LOCAL_FILE_CAP", 0)
    df, path = pk_lookup.try_pk_lookup(kv, "SELECT * FROM kv WHERE k = 3")
    assert path.startswith("catalog.lookup (") and "files" in path
    assert _rows(df) == [(3, "c")]


def test_over_the_byte_cap_falls_back(spark, kv):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        df, path = pk_lookup.try_pk_lookup(kv, "SELECT s FROM kv WHERE k = 4")
        assert "bytes" in path
        assert _rows(df) == [("d",)]
    finally:
        spark.conf.set(key, old)


def test_broadcast_disabled_still_serves_an_empty_bucket(spark, kv):
    """``autoBroadcastJoinThreshold = -1`` caps every non-empty bucket
    read, never a bucket with no files: that miss stays driver-side."""
    spec = kv.catalog.get_table("kv")
    used = {cat_mod.bucket_id(spec, {"k": k}) for k in (1, 2, 3, 4)}
    miss = next(
        k for k in range(5, 1000)
        if cat_mod.bucket_id(spec, {"k": k}) not in used
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df, path = pk_lookup.try_pk_lookup(
            kv, f"SELECT * FROM kv WHERE k = {miss}"
        )
        assert path == "driver-local read" and _rows(df) == []
        df, path = pk_lookup.try_pk_lookup(kv, "SELECT * FROM kv WHERE k = 3")
        assert "bytes" in path and _rows(df) == [(3, "c")]
    finally:
        spark.conf.set(key, old)


def test_partitioned_table_falls_back(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE pt (g INT NOT NULL, k BIGINT NOT NULL, v STRING,"
          " PRIMARY KEY (g, k)) PARTITIONED BY (g)")
    e.sql("INSERT INTO pt VALUES (1, 1, 'x'), (2, 1, 'y')")
    e.sql("INSERT INTO pt VALUES (2, 1, 'y2')")
    df, path = pk_lookup.try_pk_lookup(
        e, "SELECT * FROM pt WHERE g = 2 AND k = 1"
    )
    assert path == "catalog.lookup (partitioned table)"
    assert _rows(df) == [(2, 1, "y2")]


def test_matview_keeps_the_catalyst_path(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE src (id BIGINT NOT NULL, g BIGINT, PRIMARY KEY (id))")
    e.sql("INSERT INTO src VALUES (1, 10), (2, 10), (3, 20)")
    e.sql("CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n"
          " FROM src GROUP BY g")
    q = "SELECT * FROM mv WHERE g = 10"
    assert pk_lookup.try_pk_lookup(e, q) is None
    assert _rows(e.sql(q)) == [(10, 2)]


def test_time_travel_and_branches_keep_the_catalyst_path(kv):
    kv.sql("INSERT INTO kv VALUES (1, 'a2')")
    kv.sql("ALTER TABLE kv CREATE BRANCH b")
    kv.sql("INSERT INTO kv$branch('b') VALUES (1, 'a3')")
    for q, want in (
        ("SELECT * FROM kv VERSION AS OF 1 WHERE k = 1", [(1, "a")]),
        ("SELECT * FROM kv$branch('b') WHERE k = 1", [(1, "a3")]),
        ("SELECT * FROM kv WHERE k = 1", [(1, "a2")]),
    ):
        assert _rows(kv.sql(q)) == want, q
    assert pk_lookup.try_pk_lookup(
        kv, "SELECT * FROM kv VERSION AS OF 1 WHERE k = 1") is None
    assert pk_lookup.try_pk_lookup(
        kv, "SELECT * FROM kv$branch('b') WHERE k = 1") is None


def test_non_pk_conjuncts_and_unsupported_types_keep_catalyst(spark, kv):
    e = kv
    e.sql("CREATE TABLE dk (k DOUBLE NOT NULL, s STRING, PRIMARY KEY (k))")
    e.sql("INSERT INTO dk VALUES (1.5, 'x')")
    for q, want in (
        ("SELECT * FROM kv WHERE k = 1 AND s = 'a'", [(1, "a")]),
        ("SELECT * FROM kv WHERE k = 1 OR k = 2", [(1, "a"), (2, "b")]),
        ("SELECT * FROM kv WHERE k = '1'", [(1, "a")]),
        ("SELECT * FROM kv WHERE k = 1.0", [(1, "a")]),
        ("SELECT * FROM kv WHERE k = 1 AND k = 2", []),
        ("SELECT * FROM dk WHERE k = 1.5", [(1.5, "x")]),
    ):
        assert pk_lookup.try_pk_lookup(e, q) is None, q
        assert sorted(_rows(e.sql(q))) == want, q


def test_torn_part_file(kv):
    spec = kv.catalog.get_table("kv")
    other = next(b for b in range(4) if b != bucket_id(spec, {"k": 1}))
    torn_dir = os.path.join(kv.catalog.table_path(spec), f"__bkt__={other}")
    os.makedirs(torn_dir, exist_ok=True)
    with open(os.path.join(torn_dir, "part-torn.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1 no footer")
    # another bucket's torn file is never opened: the answer stays right
    df, path = pk_lookup.try_pk_lookup(kv, "SELECT * FROM kv WHERE k = 1")
    assert path == "driver-local read" and _rows(df) == [(1, "a")]
    # in the key's own bucket it fails the pyarrow read; the fallback is
    # the Spark plan, which reports the file like any other scan does
    hit = next(
        k for k in range(5, 100) if bucket_id(spec, {"k": k}) == other
    )
    df, path = pk_lookup.try_pk_lookup(
        kv, f"SELECT * FROM kv WHERE k = {hit}"
    )
    assert path.startswith("catalog.lookup (")
    with pytest.raises(Exception):
        df.collect()


def test_table_dropped_by_another_session(spark, kv):
    other = EngineSession(spark=spark, warehouse=kv.catalog.warehouse)
    assert _rows(kv.sql("SELECT * FROM kv WHERE k = 2")) == [(2, "b")]
    other.sql("DROP TABLE kv")
    q = "SELECT * FROM kv WHERE k = 2"
    assert pk_lookup.try_pk_lookup(kv, q) is None
    with pytest.raises(AnalysisException):
        kv.sql(q).collect()
