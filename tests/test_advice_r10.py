"""ADVICE r9 regression tests: the spec-write CAS (lost ref DDL under
concurrent sessions), publish-marker heartbeats on liveness-unknown
backends, retention-slot accounting in EXPIRE REFS, the late-landing
_spec.json discovery retry, and OLDER THAN quote pairing."""

import os
import threading
import time

import pytest

from fluss_datafusion_spark import ConcurrentWriteConflict, EngineSession
from fluss_datafusion_spark.catalog.locking import InMemoryLocking


def _rows(e, sql):
    return sorted(tuple(r) for r in e.sql(sql).collect())


def test_spec_mutation_lock_excludes_concurrent_ref_ddl(spark, tmp_path):
    """Two sessions' ref DDL on one table serializes through the spec
    lock: while A holds its mutation window, B's CREATE TAG refuses
    with a clean conflict instead of silently last-writer-winning."""
    wh = str(tmp_path / "wh")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql("CREATE TABLE st (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO st VALUES (1, 'a')")
    e2 = EngineSession(spark=spark, warehouse=wh)
    e2.sql("SELECT * FROM st").collect()  # attach
    e2.catalog.MAINT_WAIT_SECS = 0.3  # instance shadow: fast timeout
    spec = e1.catalog.get_table("st")
    with e1.catalog._spec_mutation(spec):
        with pytest.raises(ConcurrentWriteConflict):
            e2.catalog.create_tag("st", "snap")
    # window released: the same DDL proceeds, and BOTH sessions see it
    e2.catalog.create_tag("st", "snap")
    assert "snap" in (e1.catalog.get_table("st").tags or {})


@pytest.mark.parametrize(
    "backend_cls", [None, InMemoryLocking], ids=["localfs", "inmemory"]
)
def test_concurrent_ref_ddl_never_loses_an_update(
    spark, tmp_path, backend_cls
):
    """The ADVICE r9 medium scenario: concurrent CREATE TAG in one
    session and CREATE BRANCH in another must BOTH survive — the CAS
    reloads inside the lock, so neither read-modify-write clobbers the
    other's committed metadata.  Parametrized over the locking seam:
    POSIX O_EXCL and the object-store double behave identically."""
    wh = str(tmp_path / "wh")
    shared = backend_cls() if backend_cls else None
    e1 = EngineSession(spark=spark, warehouse=wh)
    if shared:
        e1.catalog.locking = shared
    e1.sql("CREATE TABLE ct (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO ct VALUES (1, 'a')")
    e2 = EngineSession(spark=spark, warehouse=wh)
    if shared:
        e2.catalog.locking = shared
    e2.sql("SELECT * FROM ct").collect()  # both sessions hold the spec

    barrier = threading.Barrier(2)
    errs = []

    def _tags():
        barrier.wait()
        for i in range(5):
            try:
                e1.catalog.create_tag("ct", f"tag{i}")
            except Exception as exc:  # pragma: no cover - diagnostic
                errs.append(exc)

    def _branches():
        barrier.wait()
        for i in range(5):
            try:
                e2.catalog.create_branch("ct", f"br{i}")
            except Exception as exc:  # pragma: no cover - diagnostic
                errs.append(exc)

    ts = [threading.Thread(target=_tags), threading.Thread(target=_branches)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    # a THIRD session reads the spec cold off disk: all 10 refs landed
    e3 = EngineSession(spark=spark, warehouse=wh)
    spec = e3.catalog.get_table("ct")
    assert sorted(spec.tags or {}) == [f"tag{i}" for i in range(5)]
    assert sorted(spec.branches or {}) == [f"br{i}" for i in range(5)]


def test_publish_marker_heartbeat_outlives_stale_window(spark, tmp_path):
    """On a liveness-unknown backend, a publish marker older than
    MAINT_STALE_SECS is reaped — unless its owner heartbeats.  A long
    cherry-pick rewrite must keep its marker alive (ADVICE r9)."""
    wh = str(tmp_path / "wh")
    shared = InMemoryLocking()
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.catalog.locking = shared
    e1.sql("CREATE TABLE hb (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO hb VALUES (1, 'a')")
    e1.sql("ALTER TABLE hb CREATE BRANCH dev")
    e1.catalog.PUBLISH_HEARTBEAT_SECS = 0.05  # instance shadow
    e2 = EngineSession(spark=spark, warehouse=wh)
    e2.catalog.locking = shared
    spec1 = e1.catalog.get_table("hb")
    with e1.catalog._branch_publish_lock(spec1, "dev"):
        marker = e1.catalog._branch_publish_marker(spec1, "dev")
        # simulate the rewrite outrunning the stale window
        shared.backdate(marker, e1.catalog.MAINT_STALE_SECS + 60)
        time.sleep(0.25)  # several heartbeat periods
        # the marker is FRESH again: another session still sees the
        # publish in flight instead of reaping a live owner's marker
        assert e2.catalog._marker_up(marker) is True
    assert e2.catalog._marker_up(marker) is False


def test_retention_slots_never_consumed_by_stranded_refs(spark, tmp_path):
    """RETAIN LAST n protects the newest n refs a user can still READ:
    floor-stranded refs are dropped regardless and must not occupy
    retention slots (ADVICE r9)."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE rs (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    for i in range(1, 6):
        e.sql(f"INSERT INTO rs VALUES ({i}, 'v{i}')")  # seqs 1..5
    for i in (1, 2):
        e.sql(f"ALTER TABLE rs CREATE TAG old{i} AS OF VERSION {i}")
    for i in (3, 4, 5):
        e.sql(f"ALTER TABLE rs CREATE TAG live{i} AS OF VERSION {i}")
    # strand old1/old2 below the floor
    e.catalog._floor["fluss.rs"] = 3
    row = e.sql(
        "ALTER TABLE rs EXPIRE REFS RETAIN LAST 2"
        " OLDER THAN INTERVAL '0' SECONDS"
    ).collect()[0]
    # old1/old2 expire as stranded, live3 expires by policy — but
    # live4/live5 fill the FULL retention count
    assert row.expired_tags == 3
    spec = e.catalog.get_table("rs")
    assert sorted(spec.tags or {}) == ["live4", "live5"]


def test_older_than_rejects_mismatched_quotes(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE qq (id BIGINT NOT NULL, PRIMARY KEY (id))")
    for bad in (
        "ALTER TABLE qq EXPIRE REFS OLDER THAN '5 DAY",
        "ALTER TABLE qq EXPIRE REFS OLDER THAN 5' DAY",
    ):
        with pytest.raises(ValueError):
            e.sql(bad)
    # paired quotes and bare counts both parse
    e.sql("ALTER TABLE qq EXPIRE REFS OLDER THAN '5' DAYS")
    e.sql("ALTER TABLE qq EXPIRE REFS OLDER THAN 5 DAYS")


def test_discovery_retries_when_spec_lands_late(spark, tmp_path):
    """ADVICE r9: a table dir listed BEFORE its _spec.json lands must
    not strand — the spec file's arrival moves only the table dir's
    mtime, so the db-dir stamp alone would never re-trip."""
    wh = str(tmp_path / "wh")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql("CREATE TABLE base (id BIGINT NOT NULL, PRIMARY KEY (id))")
    e1.sql("INSERT INTO base VALUES (1)")
    # another session's CREATE TABLE caught between mkdir and spec write
    os.makedirs(os.path.join(wh, "fluss", "late_t"))
    e1.catalog.refresh_views()  # discovery sees a spec-less dir
    # now the spec lands WITHOUT the db dir's mtime moving
    e2 = EngineSession(spark=spark, warehouse=wh)
    e2.sql("CREATE TABLE late_t (k BIGINT NOT NULL, PRIMARY KEY (k))")
    e2.sql("INSERT INTO late_t VALUES (7)")
    e1.catalog.refresh_views()  # retry boundary: attaches now
    assert e1.catalog.has_table("late_t")
    assert _rows(e1, "SELECT k FROM late_t") == [(7,)]


def test_spec_lock_survives_lost_put_and_stale_reap(spark, tmp_path):
    """The spec-write CAS through the object-store double: a transient
    lost PUT retries and lands; a crashed owner's stale lock (mtime past
    MAINT_STALE_SECS, liveness unknowable) is reaped instead of wedging
    every future DDL."""
    wh = str(tmp_path / "wh")
    shared = InMemoryLocking()
    e = EngineSession(spark=spark, warehouse=wh)
    e.catalog.locking = shared
    e.sql("CREATE TABLE lk (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO lk VALUES (1, 'a')")
    # transient conditional-PUT loss: the acquisition loop retries
    shared.fail_put(1)
    e.catalog.create_tag("lk", "snap")
    assert "snap" in (e.catalog.get_table("lk").tags or {})
    # crashed owner's leftover lock: backdated past the stale window
    spec = e.catalog.get_table("lk")
    path = e.catalog.table_path(spec)
    marker = os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.spec.lock"
    )
    assert shared.put_if_absent(marker, b'{"pid": 999999, "ts": 0}')
    shared.backdate(marker, e.catalog.MAINT_STALE_SECS + 60)
    e.catalog.create_tag("lk", "snap2")  # reaps and proceeds
    assert "snap2" in (e.catalog.get_table("lk").tags or {})


def test_parallel_writes_settles_all_before_raising():
    """A failing write must not orphan a straggler thread mid-job: the
    helper waits for every thunk, then raises the first error."""
    from fluss_datafusion_spark.operators.incremental import (
        _parallel_writes,
    )

    done = []

    def _ok():
        time.sleep(0.05)
        done.append("ok")

    def _boom():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        _parallel_writes(_boom, _ok)
    assert done == ["ok"]  # the sibling write ran to completion


def test_dml_result_frame_contract(spark, tmp_path):
    """The driver-visible result frames of every DML/DDL statement kind
    keep their column names and bigint types after the r10 pure-JVM
    constructor switch."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE rf (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")

    def shape(sql):
        df = e.sql(sql)
        return [(f.name, f.dataType.typeName()) for f in df.schema.fields]

    assert shape("INSERT INTO rf VALUES (1, 10)") == [("count", "long")]
    assert shape("UPDATE rf SET v = 11 WHERE k = 1") == [("count", "long")]
    assert shape("DELETE FROM rf WHERE k = 1") == [("count", "long")]
    e.sql("INSERT INTO rf VALUES (2, 5)")
    e.sql("CREATE MATERIALIZED VIEW rfv AS SELECT k, count(*) AS n"
          " FROM rf GROUP BY k")
    assert shape("REFRESH MATERIALIZED VIEW rfv") == [
        ("upserted", "long"), ("deleted", "long"), ("full_rebuild", "long")]
    e.sql("ALTER TABLE rf CREATE BRANCH b")
    e.sql("INSERT INTO rf$branch('b') VALUES (3, 6)")
    assert shape("ALTER TABLE rf FAST FORWARD BRANCH b") == [
        ("advanced_to", "long"), ("files_published", "long")]
    assert shape("ALTER TABLE rf EXPIRE REFS OLDER THAN 1 DAY") == [
        ("expired_tags", "long"), ("expired_branches", "long")]
    # the zero-row USE result keeps its schema too
    use = e.sql("USE fluss")
    assert [f.name for f in use.schema.fields] == ["count"]
    assert use.count() == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # which session acts
        st.sampled_from(
            ["create_tag", "drop_tag", "create_branch", "drop_branch",
             "set_prop", "unset_prop"]
        ),
        st.sampled_from(["r1", "r2", "r3"]),  # shared name pool
    ),
    min_size=1,
    max_size=10,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_cross_session_ref_ddl_state_machine(spark, tmp_path_factory, ops):
    """Interleaved ref/property DDL across TWO sessions over one
    warehouse vs a dict model: every op lands under the spec CAS and is
    visible to BOTH sessions at the next boundary; invalid ops raise
    and change nothing.  Tags and branches share one namespace (either
    kind blocks the other's name)."""
    wh = str(tmp_path_factory.mktemp("caswh") / "wh")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql("CREATE TABLE cs (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO cs VALUES (1, 'a')")
    e2 = EngineSession(spark=spark, warehouse=wh)
    e2.sql("SELECT * FROM cs").collect()
    sessions = [e1, e2]
    tags, branches, props = set(), set(), {}
    for who, op, name in ops:
        cat = sessions[who].catalog
        if op == "create_tag":
            if name in tags or name in branches:
                with pytest.raises(ValueError):
                    cat.create_tag("cs", name)
            else:
                cat.create_tag("cs", name)
                tags.add(name)
        elif op == "drop_tag":
            if name in tags:
                cat.drop_tag("cs", name)
                tags.discard(name)
            else:
                with pytest.raises(ValueError):
                    cat.drop_tag("cs", name)
        elif op == "create_branch":
            if name in tags or name in branches:
                with pytest.raises(ValueError):
                    cat.create_branch("cs", name)
            else:
                cat.create_branch("cs", name)
                branches.add(name)
        elif op == "drop_branch":
            if name in branches:
                cat.drop_branch("cs", name)
                branches.discard(name)
            else:
                with pytest.raises(ValueError):
                    cat.drop_branch("cs", name)
        elif op == "set_prop":
            cat.set_table_properties("cs", {name: "x"})
            props[name] = "x"
        elif op == "unset_prop":
            cat.unset_table_properties("cs", [name])
            props.pop(name, None)
    # a THIRD session reads the spec cold off disk; both live sessions
    # agree at their next boundary
    e3 = EngineSession(spark=spark, warehouse=wh)
    for e in (e1, e2, e3):
        spec = e.catalog.get_table("cs")
        assert set(spec.tags or {}) == tags, (ops, who)
        assert set(spec.branches or {}) == branches, ops
        got_props = {
            k: v for k, v in (spec.properties or {}).items()
            if k in ("r1", "r2", "r3")
        }
        assert got_props == props, ops
