"""The commit protocol parametrized over locking backends (VERDICT r8
item 9): the same seq-allocation, conflict-detection, maintenance- and
publish-exclusion properties must hold whether the put-if-absent
namespace is POSIX O_EXCL (LocalFSLocking) or a shared non-posix store
with heartbeat-only liveness (InMemoryLocking — the object-store test
double with injectable failures).  Proves the seam is real: nothing in
the protocol silently assumes reservations are visible as files."""

import os
import threading
import time

import pytest

from fluss_datafusion_spark import ConcurrentWriteConflict, EngineSession
from fluss_datafusion_spark.catalog.locking import (
    InMemoryLocking,
    LocalFSLocking,
)

BACKENDS = [LocalFSLocking, InMemoryLocking]


def _pair(spark, tmp_path, backend_cls):
    """Two sessions over ONE warehouse sharing ONE backend instance —
    the way two sessions share one object store."""
    wh = str(tmp_path / "wh")
    shared = backend_cls()
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.catalog.locking = shared
    e1.sql("CREATE TABLE t (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e2 = EngineSession(spark=spark, warehouse=wh)
    e2.catalog.locking = shared
    return e1, e2, shared


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_interleaved_inserts_never_share_a_seq(spark, tmp_path, backend_cls):
    e1, e2, _ = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    e2.sql("INSERT INTO t VALUES (2, 'b')")
    e1.sql("INSERT INTO t VALUES (3, 'c')")
    seqs = sorted(
        r["__seq__"]
        for r in e1.sql("SELECT DISTINCT __seq__ FROM t$history").collect()
    )
    assert seqs == [1, 2, 3]


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_rmw_conflict_detected_before_any_write(spark, tmp_path, backend_cls):
    e1, e2, _ = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    cat = e2.catalog
    spec = cat.get_table("t")
    # e2 read its snapshot at seq 1; e1 commits seq 2 underneath
    base = cat._committed_seq(spec)
    e1.sql("INSERT INTO t VALUES (2, 'b')")
    with pytest.raises(ConcurrentWriteConflict):
        cat._reserve_seqs(spec, 1, expect_base=base)
    # nothing was reserved: the next allocation is exactly seq 3
    assert cat._reserve_seqs(spec, 1) == [3]
    cat._release_seqs(spec, [3])


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_lost_put_race_retries_and_converges(spark, tmp_path, backend_cls):
    """A lost conditional PUT (contention / 412) must retry, never
    double-allocate and never give up.  Lost races advance past the
    contended seq (the competitor may be mid-write), so they become
    history GAPS — the documented _release_seqs contract — and the
    counter stays monotone."""
    e1, _e2, shared = _pair(spark, tmp_path, backend_cls)
    cat = e1.catalog
    spec = cat.get_table("t")
    lost = 0
    if isinstance(shared, InMemoryLocking):
        lost = 2
        shared.fail_put(lost)  # lose the race twice
    got = cat._reserve_seqs(spec, 1)
    assert got == [1 + lost]
    cat._release_seqs(spec, got)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    assert e1.sql("SELECT count(*) AS n FROM t").collect()[0].n == 1
    seqs = [
        r["__seq__"]
        for r in e1.sql("SELECT DISTINCT __seq__ FROM t$history").collect()
    ]
    assert seqs == [2 + lost]  # monotone past the gap


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_maintenance_excludes_writers(spark, tmp_path, backend_cls):
    """Marker up -> a foreign reservation waits (Dekker); reservation up
    -> maintenance drains it before swapping."""
    e1, e2, _ = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    cat1, cat2 = e1.catalog, e2.catalog
    spec1, spec2 = cat1.get_table("t"), cat2.get_table("t")

    # writer reservation in flight -> OPTIMIZE waits for the drain
    got = cat2._reserve_seqs(spec2, 1)
    done = {}

    def _opt():
        done["t0"] = time.monotonic()
        cat1.optimize("t")
        done["t1"] = time.monotonic()

    th = threading.Thread(target=_opt)
    th.start()
    time.sleep(0.3)
    assert "t1" not in done, "maintenance must wait on the reservation"
    cat2._record_commit(spec2, got[0])
    th.join(timeout=30)
    assert "t1" in done and done["t1"] - done["t0"] >= 0.25

    # marker up -> the foreign session's reservation waits
    with cat1._maintenance_lock(spec1):
        res = {}

        def _reserve():
            res["got"] = cat2._reserve_seqs(spec2, 1)

        th2 = threading.Thread(target=_reserve)
        th2.start()
        time.sleep(0.3)
        assert "got" not in res, "writer must yield to the marker"
    th2.join(timeout=30)
    assert "got" in res
    cat2._release_seqs(spec2, res["got"])


def test_heartbeat_staleness_reaps_without_liveness(spark, tmp_path):
    """InMemoryLocking's owner_alive is always unknown (object-store
    semantics): a marker whose mtime is stale is reaped on age alone —
    the heartbeat contract — while a FRESH marker still blocks."""
    e1, e2, shared = _pair(spark, tmp_path, InMemoryLocking)
    cat1, cat2 = e1.catalog, e2.catalog
    marker = cat1._maint_marker_path(cat1.get_table("t"))
    assert shared.put_if_absent(marker, b'{"pid": 999999, "ts": 0}')
    assert cat2._marker_up(marker) is True  # fresh: blocks
    shared.backdate(marker, cat2.MAINT_STALE_SECS + 5)
    assert cat2._marker_up(marker) is False  # stale: reaped
    assert shared.stat_mtime(marker) is None  # physically gone


def test_transient_storage_errors_do_not_corrupt(spark, tmp_path):
    """Injected transient list/stat failures degrade like the LocalFS
    OSError paths: statements still commit, seqs stay monotone."""
    e1, _e2, shared = _pair(spark, tmp_path, InMemoryLocking)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    shared.fail_op("stat_mtime", 1)
    shared.fail_op("list_names", 1)
    e1.sql("INSERT INTO t VALUES (2, 'b')")
    e1.sql("INSERT INTO t VALUES (3, 'c')")
    seqs = sorted(
        r["__seq__"]
        for r in e1.sql("SELECT DISTINCT __seq__ FROM t$history").collect()
    )
    assert seqs == [1, 2, 3]


@pytest.mark.parametrize("backend_cls", BACKENDS)
def test_branch_protocol_through_backend(spark, tmp_path, backend_cls):
    """Branch seq reservations, the publish lock, and fast_forward all
    ride the seam: a full branch lifecycle works over either backend
    and leaves no stray reservations behind."""
    e1, _e2, shared = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    e1.sql("ALTER TABLE t CREATE BRANCH dev")
    # a session attaching AFTER the branch DDL sees it (specs load at
    # attach; live-session spec reload is a separate concern) and its
    # branch writes contend through the SAME shared backend
    e2 = EngineSession(spark=spark, warehouse=e1.catalog.warehouse)
    e2.catalog.locking = shared
    e1.sql("INSERT INTO t$branch('dev') VALUES (2, 'b')")
    e2.sql("INSERT INTO t$branch('dev') VALUES (3, 'c')")
    got = sorted(
        tuple(r)
        for r in e1.sql("SELECT id, v FROM t$branch('dev')").collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    ff = e1.sql("ALTER TABLE t FAST FORWARD BRANCH dev").collect()[0]
    assert ff.advanced_to == 3
    assert sorted(
        tuple(r) for r in e1.sql("SELECT id, v FROM t").collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]
    if isinstance(shared, InMemoryLocking):
        # no reservation or marker left behind in the lock namespace
        stray = [
            p for p in shared._entries if p.endswith(".inflight")
        ]
        assert stray == []


def _marker_of(kind, cat, spec):
    if kind == "publish":
        return cat._branch_publish_marker(spec, "dev")
    if kind == "maintenance":
        return cat._maint_marker_path(spec)
    path = cat.table_path(spec)
    return os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.spec.lock"
    )


def _hold(kind, cat, spec):
    if kind == "publish":
        return cat._branch_publish_lock(spec, "dev")
    if kind == "maintenance":
        return cat._maintenance_lock(spec)
    return cat._spec_mutation(spec)


def _contend(kind, cat, spec):
    """The other session's move against the marker: raises
    ConcurrentWriteConflict while the marker blocks it, and leaves no
    reservation behind when it gets through."""
    if kind == "publish":
        n = cat._branch_next_seq(spec, "dev")
        cat.locking.delete(
            os.path.join(cat._branch_commit_dir(spec, "dev"), f"{n:010d}.inflight")
        )
    elif kind == "maintenance":
        cat._release_seqs(spec, cat._reserve_seqs(spec, 1))
    else:
        with cat._spec_mutation(spec):
            pass


@pytest.mark.parametrize("backend_cls", BACKENDS)
@pytest.mark.parametrize("kind", ["spec", "publish", "maintenance"])
def test_held_marker_heartbeats_past_stale_window(
    spark, tmp_path, backend_cls, kind
):
    """Every marker lock heartbeats while held.  Held past
    MAINT_STALE_SECS, the marker stays fresh and keeps blocking the
    other session — whose stale-reap must never take a live holder's
    marker.  On InMemoryLocking owner liveness is unknown, so without
    the heartbeat age alone would reap it mid-hold."""
    e1, e2, shared = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    e1.sql("ALTER TABLE t CREATE BRANCH dev")
    cat1, cat2 = e1.catalog, e2.catalog
    for cat in (cat1, cat2):  # instance shadows: a sub-second window
        cat.MAINT_STALE_SECS = 0.3
        cat.PUBLISH_HEARTBEAT_SECS = 0.05
        cat.MAINT_WAIT_SECS = 0.2
    spec1, spec2 = cat1.get_table("t"), cat2.get_table("t")
    marker = _marker_of(kind, cat1, spec1)
    with _hold(kind, cat1, spec1):
        time.sleep(0.5)  # outlive the stale window
        with pytest.raises(ConcurrentWriteConflict):
            _contend(kind, cat2, spec2)
        age = time.time() - shared.stat_mtime(marker)
        assert age < cat2.MAINT_STALE_SECS, "heartbeat must refresh mtime"
    assert shared.stat_mtime(marker) is None
    _contend(kind, cat2, spec2)  # released: the other session proceeds


@pytest.mark.parametrize("backend_cls", BACKENDS)
@pytest.mark.parametrize("writer", ["local", "distributed", "landed"])
def test_failed_write_leaves_no_reservation(
    spark, tmp_path, monkeypatch, backend_cls, writer
):
    """A data write that raises after its seq reservation must not
    leave ``<seq>.inflight`` behind: its live owner would stall every
    later maintenance drain until MAINT_WAIT_SECS and fail it, and
    auto-compaction swallows that failure.  With no file of the write
    visible the seq is released; with files visible ("landed": the
    distributed write completes, then raises) it is recorded, so the
    seq on disk is never handed out again."""
    from pyspark.sql.readwriter import DataFrameWriter

    from fluss_datafusion_spark.catalog import catalog as catalog_mod

    e1, _e2, shared = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    cat = e1.catalog
    cat.MAINT_WAIT_SECS = 1.0
    real_parquet = DataFrameWriter.parquet

    def boom(*a, **k):
        if writer == "landed":
            real_parquet(*a, **k)
        raise OSError("injected data-write failure")

    with monkeypatch.context() as m:
        if writer == "local":
            m.setattr(catalog_mod, "_write_parquet_atomic", boom)
        else:
            m.setattr(
                catalog_mod.FlussCatalog, "_try_local_write",
                lambda self, *a, **k: None,
            )
            m.setattr(DataFrameWriter, "parquet", boom)
        with pytest.raises(OSError, match="injected"):
            e1.sql("INSERT INTO t VALUES (2, 'b')")
    spec = cat.get_table("t")
    assert [
        f for f in shared.list_names(cat._commit_dir(spec))
        if f.endswith(".inflight")
    ] == []
    e1.sql("INSERT INTO t VALUES (3, 'c')")
    seqs = sorted(
        r["__seq__"]
        for r in e1.sql("SELECT DISTINCT __seq__ FROM t$history").collect()
    )
    assert seqs == ([1, 2, 3] if writer == "landed" else [1, 3])
    cat.compact("t")
    want = [(1, "a"), (2, "b"), (3, "c")] if writer == "landed" else [
        (1, "a"), (3, "c")]
    assert sorted(
        tuple(r) for r in e1.sql("SELECT id, v FROM t").collect()
    ) == want


@pytest.mark.parametrize("backend_cls", BACKENDS)
@pytest.mark.parametrize("publish", ["fast_forward", "cherry_pick"])
@pytest.mark.parametrize("landed", [False, True])
def test_failed_branch_publish_leaves_no_reservation(
    spark, tmp_path, monkeypatch, backend_cls, publish, landed
):
    """A branch publish that raises after reserving its main-space seqs
    (fast-forward's file move, cherry-pick's restamp write) must not
    leave ``<seq>.inflight`` behind, or every later COMPACT stalls for
    MAINT_WAIT_SECS and fails.  With no file published the seqs are
    released and another session can publish the branch; with some
    published ("landed") they are recorded and never handed out
    again.  The released seqs also roll the session's own counter
    back, so the same session's retry publishes at the fork's next seq
    instead of reading a phantom commit."""
    from pyspark.sql.readwriter import DataFrameWriter

    e1, e2, shared = _pair(spark, tmp_path, backend_cls)
    e1.sql("INSERT INTO t VALUES (1, 'a')")
    e1.sql("ALTER TABLE t CREATE BRANCH dev")
    e1.sql("INSERT INTO t$branch('dev') VALUES (2, 'b')")
    e1.sql("INSERT INTO t$branch('dev') VALUES (3, 'c')")
    cat = e1.catalog
    cat.MAINT_WAIT_SECS = 1.0
    with monkeypatch.context() as m:
        if publish == "fast_forward":
            real_rename, moved = os.rename, []

            def boom(src, dst, *a, **k):
                if landed and not moved:  # the first move lands
                    moved.append(dst)
                    return real_rename(src, dst, *a, **k)
                raise OSError("injected publish failure")

            m.setattr(os, "rename", boom)
        else:
            real_parquet = DataFrameWriter.parquet

            def boom(*a, **k):
                if landed:
                    real_parquet(*a, **k)
                raise OSError("injected publish failure")

            m.setattr(DataFrameWriter, "parquet", boom)
        with pytest.raises(OSError, match="injected"):
            getattr(cat, publish)("t", "dev")
    spec = cat.get_table("t")
    assert [
        f for f in shared.list_names(cat._commit_dir(spec))
        if f.endswith(".inflight")
    ] == []
    cat.compact("t")
    if landed:
        e1.sql("INSERT INTO t VALUES (9, 'z')")
        seqs = {
            r["__seq__"]
            for r in e1.sql("SELECT DISTINCT __seq__ FROM t$history").collect()
        }
        assert max(seqs) == 4  # seqs 2 and 3 stay taken
    else:
        assert _rows(e1) == [(1, "a")]
        assert getattr(cat, publish)("t", "dev")["advanced_to"] == 3
        assert _rows(e2) == [(1, "a"), (2, "b"), (3, "c")]


def _rows(e):
    return sorted(tuple(r) for r in e.sql("SELECT id, v FROM t").collect())
