"""Driver-local compaction of small primary-key tables.

``catalog.compact`` rewrites a small unpartitioned table on the driver
(``_compact_local``): each ``__bkt__=<b>`` dir (or the table dir) is
read with pyarrow, each key's newest live row is kept with its stamps
(``_newest_live``, the kernel the point lookup shares), and one part
file per non-empty bucket is written back into the same bucket dir.
These tests pin:

- property: local and distributed compaction (forced by switching the
  local seam off) leave the same merged rows, the same surviving
  ``(__seq__, __sub__)`` stamps, the same row-to-``__bkt__`` placement
  and the same time-travel floor error, over random upsert/delete
  histories on bucketed and unbucketed tables, composite keys and a
  bucket key that is a strict PK subset;
- a ``pk_serve``-shaped auto-compaction runs no Spark job;
- a write failure on the second bucket leaves no ``.compact``, ``.old``
  or hidden temp file behind and the distributed compaction still runs;
- partitioned tables, a file-cap overflow, the byte cap, a bucket key
  outside the PK and a DOUBLE key decline to the distributed path with
  correct rows; a widened column compacts locally at the wider type.
"""

import datetime as dt
import itertools
import os
import tempfile

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog import catalog as catalog_mod
from fluss_datafusion_spark.catalog import stats
from fluss_datafusion_spark.catalog.catalog import FlussCatalog, _parquet_files

_STATE = {}
_SEQ = itertools.count()


def _engines(spark):
    """(local, distributed) sessions on separate warehouses, shared by
    the property's examples (each example uses fresh table names)."""
    if "e" not in _STATE:
        root = tempfile.mkdtemp(prefix="local_compaction_")
        _STATE["e"] = tuple(
            EngineSession(spark=spark, warehouse=os.path.join(root, w))
            for w in ("local", "dist")
        )
    return _STATE["e"]


def _spy_local(m):
    """Record every ``_compact_local`` outcome (True = served) for the
    life of the patcher ``m``."""
    outcomes = []
    real = FlussCatalog._compact_local

    def spy(self, *a, **k):
        out = real(self, *a, **k)
        outcomes.append(out)
        return out

    m.setattr(FlussCatalog, "_compact_local", spy)
    return outcomes


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("local_compaction", "local_compaction")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup("local_compaction"))
        out = fn()
        after = len(sc.statusTracker().getJobIdsForGroup("local_compaction"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, after - before


def _placement(path):
    """Every row of every data file under ``path``, stamps included,
    with the ``__bkt__`` dir it sits in, as a sorted list."""
    out = []
    for f in _parquet_files(path):
        bkt = next(
            (s for s in f[len(path):].split(os.sep) if s.startswith("__bkt__=")),
            None,
        )
        for row in pq.ParquetFile(f).read().to_pylist():
            out.append((bkt, tuple(sorted(row.items()))))
    return sorted(out, key=repr)


def _canon(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return str(v)


_VALUES = {
    "BIGINT": st.integers(-2, 4),
    "INT": st.integers(-2, 4),
    "STRING": st.sampled_from(["a", "b", "it's", "ü"]),
    "DATE": st.sampled_from(
        [dt.date(1970, 1, 1), dt.date(2000, 2, 29), dt.date(2031, 12, 31)]
    ),
    "BOOLEAN": st.booleans(),
}
# (key column types, bucket columns by index or None, bucket count)
_LAYOUTS = [
    (["BIGINT"], None, 0),
    (["STRING", "BOOLEAN"], None, 0),
    (["INT"], [0], 3),
    (["INT", "STRING"], [0, 1], 4),
    (["DATE", "STRING"], [1], 3),  # bucket key a strict subset of the PK
    (["BIGINT", "BOOLEAN"], [0], 2),
]


@st.composite
def _scenario(draw):
    types, bucket_idx, n = draw(st.sampled_from(_LAYOUTS))
    key = st.tuples(*[_VALUES[t] for t in types])
    row = st.tuples(key, st.one_of(st.none(), st.integers(-9, 9)),
                    st.one_of(st.none(), st.sampled_from(["x", "y"])))
    history = st.lists(st.one_of(
        st.tuples(st.just("ins"), st.lists(row, min_size=1, max_size=5)),
        st.tuples(st.just("del"), key),
    ), min_size=1, max_size=5)
    # two rounds of writes, each followed by a compaction: the second
    # one reads the first one's output
    return types, bucket_idx, n, draw(history), draw(history)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(scenario=_scenario())
def test_local_compaction_matches_distributed(spark, monkeypatch, scenario):
    types, bucket_idx, n_buckets, *rounds = scenario
    e_local, e_dist = _engines(spark)
    t = f"lc{next(_SEQ)}"
    keys = [f"k{i}" for i in range(len(types))]

    def run(sql):
        for e in (e_local, e_dist):
            e.sql(sql)

    outcomes = []

    def compact():
        with monkeypatch.context() as m:
            served = _spy_local(m)
            e_local.catalog.compact(t)
            outcomes.extend(served)
            m.setattr(FlussCatalog, "_compact_local",
                      lambda self, *a, **k: False)
            e_dist.catalog.compact(t)

    key_ddl = ", ".join(f"{c} {ty} NOT NULL" for c, ty in zip(keys, types))
    layout = "" if bucket_idx is None else (
        f" DISTRIBUTED BY ({', '.join(keys[i] for i in bucket_idx)})"
        f" INTO {n_buckets} BUCKETS"
    )
    run(f"CREATE TABLE {t} ({key_ddl}, v INT, s STRING,"
        f" PRIMARY KEY ({', '.join(keys)})){layout}")
    specs = [e.catalog.get_table(t) for e in (e_local, e_dist)]
    paths = [e.catalog.table_path(s) for e, s in zip((e_local, e_dist), specs)]
    for history in rounds:
        for op, arg in history:
            if op == "ins":
                run(f"INSERT INTO {t} VALUES " + ", ".join(
                    "(" + ", ".join(_lit(x) for x in (*k, v, s)) + ")"
                    for k, v, s in arg))
            else:
                run(f"DELETE FROM {t} WHERE " + " AND ".join(
                    f"{c} = {_lit(x)}" for c, x in zip(keys, arg)))
        # both sides hold the same driver-written log before compacting
        assert _placement(paths[0]) == _placement(paths[1])
        compact()
        assert _placement(paths[0]) == _placement(paths[1])
        assert _canon(e_local.sql(f"SELECT * FROM {t}")) == _canon(
            e_dist.sql(f"SELECT * FROM {t}"))
        floors = [e.catalog._floor[s.qualified_name]
                  for e, s in zip((e_local, e_dist), specs)]
        assert floors[0] == floors[1] > 0
        errors = []
        for e in (e_local, e_dist):
            with pytest.raises(ValueError, match="compaction") as err:
                e.catalog.read(t, as_of_seq=floors[0] - 1).collect()
            errors.append(str(err.value))
        assert errors[0] == errors[1]
    assert outcomes == [True, True]


def _pk_serve_table(e, auto_compact=True):
    e.sql("CREATE TABLE o (k BIGINT NOT NULL, c BIGINT, st STRING,"
          " p DOUBLE, d DATE, PRIMARY KEY (k)) DISTRIBUTED BY (k)"
          " INTO 4 BUCKETS"
          + (" WITH ('compaction.auto-after' = '3')" if auto_compact else ""))
    e.sql("INSERT INTO o VALUES " + ", ".join(
        f"({i}, {i % 7}, 'O', {i}.5, DATE '2020-01-{i % 28 + 1:02d}')"
        for i in range(40)))
    e.sql("INSERT INTO o VALUES (1, 9, 'F', 0.25, DATE '2021-02-03'),"
          " (100, 1, 'P', 1.0, DATE '2022-03-04')")


def test_pk_serve_auto_compaction_runs_no_job(spark, tmp_path, monkeypatch):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    _pk_serve_table(e)
    outcomes = _spy_local(monkeypatch)
    spec = e.catalog.get_table("o")
    # the third statement, a point DELETE, fires the auto-compaction
    _, jobs = _jobs_during(spark, lambda: e.sql("DELETE FROM o WHERE k = 2"))
    assert outcomes == [True] and jobs == 0
    assert e.catalog._floor[spec.qualified_name] == 3
    path = e.catalog.table_path(spec)
    files = _parquet_files(path)
    assert len(files) == len({os.path.dirname(f) for f in files}) <= 4
    got = {r.k: (r.c, r.st) for r in e.sql("SELECT k, c, st FROM o").collect()}
    assert len(got) == 40 and 2 not in got
    assert got[1] == (9, "F") and got[100] == (1, "P")
    assert e.sql("SELECT p, d FROM o WHERE k = 1").collect()[0] == (
        0.25, dt.date(2021, 2, 3))


def test_write_failure_falls_back_and_leaves_nothing(spark, tmp_path,
                                                     monkeypatch):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    _pk_serve_table(e, auto_compact=False)
    e.sql("DELETE FROM o WHERE k = 2")
    expected = _canon(e.sql("SELECT * FROM o"))
    outcomes = _spy_local(monkeypatch)
    calls = []
    real_write = catalog_mod._write_parquet_atomic

    def failing_write(table, dir_path):
        calls.append(dir_path)
        if len(calls) == 2:
            # fail after the temp file exists, as a full disk would
            real_write(table, dir_path)
            raise OSError("injected write failure")
        return real_write(table, dir_path)

    monkeypatch.setattr(catalog_mod, "_write_parquet_atomic", failing_write)
    dist = []
    real_dist = FlussCatalog._compact_distributed
    monkeypatch.setattr(
        FlussCatalog, "_compact_distributed",
        lambda self, *a, **k: dist.append(1) or real_dist(self, *a, **k),
    )
    spec = e.catalog.get_table("o")
    path = e.catalog.table_path(spec)
    e.catalog.compact("o")
    assert len(calls) == 2 and outcomes == [False] and dist == [1]
    assert not os.path.exists(path + ".compact")
    assert not os.path.exists(path + ".old")
    hidden = [n for _r, _d, names in os.walk(path) for n in names
              if n.startswith(".") and n.endswith(".tmp")]
    assert hidden == []
    assert not any(f.endswith("-local.snappy.parquet")
                   for f in _parquet_files(path))
    assert _canon(e.sql("SELECT * FROM o")) == expected
    assert e.catalog._floor[spec.qualified_name] == 3


def _decline_partitioned(e, m):
    e.sql("CREATE TABLE x (k BIGINT NOT NULL, g STRING NOT NULL, v INT,"
          " PRIMARY KEY (k, g)) PARTITIONED BY (g)")
    return True


def _decline_file_cap(e, m):
    m.setattr(catalog_mod, "_LOCAL_FILE_CAP", 2)
    e.sql("CREATE TABLE x (k BIGINT NOT NULL, v INT, PRIMARY KEY (k))"
          " DISTRIBUTED BY (k) INTO 2 BUCKETS")


def _decline_byte_cap(e, m):
    m.setattr(stats, "_broadcast_threshold", lambda spark: 100)
    e.sql("CREATE TABLE x (k BIGINT NOT NULL, v INT, PRIMARY KEY (k))")


def _decline_bucket_key_outside_pk(e, m):
    e.sql("CREATE TABLE x (k BIGINT NOT NULL, v INT, PRIMARY KEY (k))"
          " DISTRIBUTED BY (v) INTO 3 BUCKETS")


def _decline_double_key(e, m):
    e.sql("CREATE TABLE x (k DOUBLE NOT NULL, v INT, PRIMARY KEY (k))")


@pytest.mark.parametrize("setup", [
    _decline_partitioned,
    _decline_file_cap,
    _decline_byte_cap,
    _decline_bucket_key_outside_pk,
    _decline_double_key,
], ids=lambda f: f.__name__[len("_decline_"):])
def test_declines_keep_distributed_compaction(spark, tmp_path, monkeypatch,
                                              setup):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    with monkeypatch.context() as m:
        g = "'a'" if setup(e, m) else None
        cols = "(k, g, v)" if g else "(k, v)"

        def row(k, v):
            return f"({k}, {g}, {v})" if g else f"({k}, {v})"

        e.sql(f"INSERT INTO x {cols} VALUES {row(1, 1)}, {row(2, 2)}")
        e.sql(f"INSERT INTO x {cols} VALUES {row(1, 10)}, {row(3, 3)}")
        e.sql("DELETE FROM x WHERE " + " AND ".join(
            ["k = 2"] + (["g = 'a'"] if g else [])))
        outcomes = _spy_local(m)
        e.catalog.compact("x")
        assert outcomes == [False]
    got = sorted((r.k, r.v) for r in e.sql("SELECT k, v FROM x").collect())
    assert got == [(1, 10), (3, 3)]


def test_widened_column_compacts_locally(spark, tmp_path, monkeypatch):
    """The widened-column case of test_alter_type: old INT files are
    cast at read time and the compacted file carries the wider type."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE t4 (id BIGINT NOT NULL, n INT, f FLOAT,"
          " PRIMARY KEY (id))")
    e.sql("INSERT INTO t4 VALUES (1, 10, 1.5), (2, 20, 2.5)")
    e.sql("ALTER TABLE t4 ALTER COLUMN n TYPE BIGINT")
    e.sql("ALTER TABLE t4 ALTER COLUMN f TYPE DOUBLE")
    e.sql("UPDATE t4 SET n = 6000000000 WHERE id = 2")
    outcomes = _spy_local(monkeypatch)
    e.catalog.compact("t4")
    assert outcomes == [True]
    got = {r.id: (r.n, r.f) for r in e.sql("SELECT * FROM t4").collect()}
    assert got == {1: (10, 1.5), 2: (6000000000, 2.5)}
    assert dict(e.sql("SELECT * FROM t4").dtypes)["n"] == "bigint"
    [f] = _parquet_files(e.catalog.table_path(e.catalog.get_table("t4")))
    schema = pq.read_schema(f)
    assert str(schema.field("n").type) == "int64"
    assert str(schema.field("f").type) == "double"
