"""Driver-local writes into bucketed tables.

A literal ``INSERT ... VALUES``, a point ``DELETE`` and small UPDATE /
predicate-DELETE deltas on a ``DISTRIBUTED BY ... INTO n BUCKETS`` table
are written from the driver, one pyarrow file per touched
``__bkt__=<b>`` dir.  These tests pin:

- property: the local writer and the distributed one (forced by
  switching both local seams off) leave the same merged state, the same
  row-to-``__bkt__`` placement, and the same lookups, time travel and
  changelog, for single and composite keys, BIGINT/INT/STRING/DATE
  bucket keys (also a strict subset of the PK), renamed columns,
  in-batch key repeats, point and predicate DELETEs, UPDATE, branches
  and auto-compaction;
- a DOUBLE bucket key declines before any seq is reserved;
- a bucketed VALUES insert and a point DELETE run no Spark job.
"""

import datetime as dt
import itertools
import os
import tempfile

import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog.catalog import (
    FlussCatalog,
    _local_write_ok,
    _parquet_files,
)

_STATE = {}
_SEQ = itertools.count()


def _engines(spark):
    """(local, distributed) sessions on separate warehouses, shared by
    the property's examples (each example uses fresh table names)."""
    if "e" not in _STATE:
        root = tempfile.mkdtemp(prefix="bucketed_local_")
        _STATE["e"] = tuple(
            EngineSession(spark=spark, warehouse=os.path.join(root, w))
            for w in ("local", "dist")
        )
    return _STATE["e"]


def _disable_local(m):
    for seam in ("_try_local_append", "_try_collect_local_append"):
        m.setattr(FlussCatalog, seam, lambda self, *a, **k: None)


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("bucketed_local", "bucketed_local")
    try:
        before = len(sc.statusTracker().getJobIdsForGroup("bucketed_local"))
        out = fn()
        after = len(sc.statusTracker().getJobIdsForGroup("bucketed_local"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, after - before


def _placement(path):
    """Every log row under ``path`` with the ``__bkt__`` dir it sits in,
    as a sorted list.  ``__sub__`` is left out: the distributed writer
    stamps monotonically_increasing_id, the local one the batch index
    (both keep within-batch order, which the state comparison checks)."""
    out = []
    for f in _parquet_files(path):
        bkt = next(
            (s for s in f[len(path):].split(os.sep) if s.startswith("__bkt__=")),
            None,
        )
        table = pq.ParquetFile(f).read()
        names = [n for n in table.column_names if n != "__sub__"]
        for row in table.select(names).to_pylist():
            out.append((bkt, tuple(sorted(row.items(), key=lambda kv: kv[0]))))
    return sorted(out, key=repr)


def _canon(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


_DATES = [dt.date(1970, 1, 1), dt.date(2000, 2, 29), dt.date(2031, 12, 31)]
_VALUES = {
    "BIGINT": st.integers(-2, 4),
    "INT": st.integers(-2, 4),
    "STRING": st.sampled_from(["a", "b", "it's", "ü"]),
    "DATE": st.sampled_from(_DATES),
}
# (key column types, bucket columns by index, bucket count)
_LAYOUTS = [
    (["BIGINT"], [0], 3),
    (["INT"], [0], 4),
    (["STRING"], [0], 3),
    (["DATE"], [0], 2),
    (["INT", "STRING"], [0, 1], 4),
    (["INT", "STRING"], [1], 3),  # bucket key a strict subset of the PK
    (["BIGINT", "DATE"], [0], 4),
]


def _lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return str(v)


@st.composite
def _scenario(draw):
    types, bucket_idx, n = draw(st.sampled_from(_LAYOUTS))
    key = st.tuples(*[_VALUES[t] for t in types])
    row = st.tuples(key, st.one_of(st.none(), st.integers(-9, 9)),
                    st.one_of(st.none(), st.sampled_from(["x", "y"])))
    ops = draw(st.lists(st.one_of(
        st.tuples(st.just("ins"), st.lists(row, min_size=1, max_size=5)),
        st.tuples(st.just("del"), key),
        st.tuples(st.just("delw"), st.integers(-9, 9)),
        st.tuples(st.just("upd"), st.tuples(key, st.integers(-9, 9))),
        st.tuples(st.just("updw"), st.integers(-9, 9)),
        st.tuples(st.just("rename"), st.sampled_from(["key", "v"])),
    ), min_size=1, max_size=6))
    seed = draw(st.lists(row, min_size=1, max_size=4))
    return types, bucket_idx, n, seed, ops, draw(st.booleans()), key


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(scenario=_scenario(), data=st.data())
def test_local_bucketed_writes_match_distributed(
    spark, monkeypatch, scenario, data
):
    types, bucket_idx, n_buckets, seed, ops, on_branch, key_st = scenario
    e_local, e_dist = _engines(spark)
    t = f"bl{next(_SEQ)}"
    keys = [f"k{i}" for i in range(len(types))]
    cols = keys + ["v", "s"]  # current logical names, table order

    local_writes = []
    real_write = FlussCatalog._local_write_rows
    monkeypatch.setattr(
        FlussCatalog, "_local_write_rows",
        lambda self, *a, **k: local_writes.append(self.warehouse)
        or real_write(self, *a, **k),
    )

    def run(sql):
        e_local.sql(sql)
        with monkeypatch.context() as m:
            _disable_local(m)
            e_dist.sql(sql)

    def where(key):
        return " AND ".join(f"{c} = {_lit(x)}" for c, x in zip(cols, key))

    def values(rows):
        return ", ".join(
            "(" + ", ".join(_lit(x) for x in (*k, v, s)) + ")"
            for k, v, s in rows
        )

    key_ddl = ", ".join(f"{c} {ty} NOT NULL" for c, ty in zip(keys, types))
    run(
        f"CREATE TABLE {t} ({key_ddl}, v INT, s STRING, PRIMARY KEY"
        f" ({', '.join(keys)})) DISTRIBUTED BY"
        f" ({', '.join(keys[i] for i in bucket_idx)}) INTO {n_buckets}"
        f" BUCKETS WITH ('compaction.auto-after' = '3')"
    )
    run(f"INSERT INTO {t} VALUES {values(seed)}")
    target = t
    if on_branch:
        run(f"ALTER TABLE {t} CREATE BRANCH b")
        target = f"{t}$branch('b')"
    for op, arg in ops:
        if op == "ins":
            run(f"INSERT INTO {target} VALUES {values(arg)}")
        elif op == "del":
            run(f"DELETE FROM {target} WHERE {where(arg)}")
        elif op == "delw":
            run(f"DELETE FROM {target} WHERE {cols[-2]} < {arg}")
        elif op == "upd":
            k, v = arg
            run(f"UPDATE {target} SET {cols[-2]} = {v} WHERE {where(k)}")
        elif op == "updw":
            run(f"UPDATE {target} SET {cols[-1]} = 'u'"
                f" WHERE {cols[-2]} > {arg}")
        elif not on_branch:  # rename: a table-level change, main only
            i = 0 if arg == "key" else len(keys)
            run(f"ALTER TABLE {t} RENAME COLUMN {cols[i]} TO {cols[i]}_r")
            cols[i] += "_r"

    monkeypatch.setattr(FlussCatalog, "_local_write_rows", real_write)
    # every VALUES insert, the seed's included, was written driver-local
    # by the local engine only
    assert set(local_writes) == {e_local.catalog.warehouse}
    assert len(local_writes) >= 1 + sum(op == "ins" for op, _ in ops)
    specs = [e.catalog.get_table(t) for e in (e_local, e_dist)]
    assert _local_write_ok(specs[0])
    if on_branch:
        paths = [e.catalog._branch_path(s, "b")
                 for e, s in zip((e_local, e_dist), specs)]
    else:
        paths = [e.catalog.table_path(s)
                 for e, s in zip((e_local, e_dist), specs)]
    assert _placement(paths[0]) == _placement(paths[1])

    def both(sql):
        got = _canon(e_local.sql(sql))
        assert got == _canon(e_dist.sql(sql)), sql
        return got

    both(f"SELECT * FROM {target}")
    lookups = [k for k, _v, _s in seed] + [data.draw(key_st)]
    for k in lookups:
        both(f"SELECT * FROM {target} WHERE {where(k)}")
    if on_branch:
        return
    head = e_local.catalog._committed_seq(specs[0])
    assert head == e_dist.catalog._committed_seq(specs[1])
    floor = e_local.catalog._floor.get(specs[0].qualified_name, 0)
    assert floor == e_dist.catalog._floor.get(specs[1].qualified_name, 0)
    for seq in range(max(floor, 1), head + 1):
        both(f"SELECT * FROM {t} VERSION AS OF {seq}")
    changes = [
        _canon(e.catalog.read_changes(t, floor, head).drop("change_sub"))
        for e in (e_local, e_dist)
    ]
    assert changes[0] == changes[1]


def test_double_bucket_key_declines_before_reserving(spark, tmp_path,
                                                     monkeypatch):
    """``bucket_id`` does not hash DOUBLE: the local path declines
    before any seq is reserved, the distributed writer runs, and the
    rows are still right."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE bd (x DOUBLE NOT NULL, v STRING, PRIMARY KEY (x))"
          " DISTRIBUTED BY (x) INTO 4 BUCKETS")
    spec = e.catalog.get_table("bd")
    assert not _local_write_ok(spec)
    reserved, local_writes = [], []
    real_reserve = FlussCatalog._reserve_seqs
    monkeypatch.setattr(
        FlussCatalog, "_reserve_seqs",
        lambda self, *a, **k: reserved.append(1) or real_reserve(self, *a, **k),
    )
    monkeypatch.setattr(
        FlussCatalog, "_local_write_rows",
        lambda self, *a, **k: local_writes.append(1),
    )
    e.sql("INSERT INTO bd VALUES (1.5, 'a'), (-0.25, 'b'), (1.5, 'c')")
    e.sql("DELETE FROM bd WHERE x = -0.25")
    e.sql("UPDATE bd SET v = 'u' WHERE x = 1.5")
    assert local_writes == [] and len(reserved) == 3
    commits = os.path.join(e.catalog.table_path(spec), "_commits")
    assert not [f for f in os.listdir(commits) if f.endswith(".inflight")]
    assert [tuple(r) for r in e.sql("SELECT * FROM bd").collect()] == [
        (1.5, "u")]


def test_bucketed_values_insert_and_point_delete_run_no_job(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE bj (k BIGINT NOT NULL, j STRING NOT NULL, v INT,"
          " PRIMARY KEY (k, j)) DISTRIBUTED BY (j) INTO 4 BUCKETS")
    for stmt in (
        "INSERT INTO bj VALUES (1, 'a', 1), (2, 'b', 2), (1, 'a', 3)",
        "DELETE FROM bj WHERE k = 2 AND j = 'b'",
    ):
        _, jobs = _jobs_during(spark, lambda: e.sql(stmt))
        assert jobs == 0, stmt
    assert [tuple(r) for r in e.sql("SELECT * FROM bj").collect()] == [
        (1, "a", 3)]
