"""Branch-vs-main DML dispatch parity (VERDICT r10 items 1-3).

Round 10's correctness bug was a dispatch ASYMMETRY: the session routed
all branch DELETEs through the predicate form (``delete_where`` —
tombstones only matching keys) while the main path routed full-PK
equality to the blind-append point ``delete`` ("recorded, not
validated").  On a branch, deleting an absent key therefore wrote NO
tombstone — the statement was silently lost, and cherry-pick published
a genuinely diverged branch.

These tests prove, verb by verb, that every DML statement reaches the
SAME catalog semantics with ``branch=`` as without:

- the post-statement visible state matches (branch read vs main read),
- the PHYSICAL append matches (same number of log rows written,
  including blind tombstones — the part the state comparison alone
  can't see, because a blind tombstone of an absent key is a no-op in
  both reads).

Plus the exact VERDICT r10 repro for cherry-pick AND fast-forward, and
the empty-delta cherry-pick (item 3: no empty parquet part published).
"""

import pytest
from pyspark.sql import functions as F

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog.catalog import ConcurrentWriteConflict


def _mk(spark, tmp_path, name):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / f"wh_{name}"))
    e.sql(
        f"CREATE TABLE {name} (k BIGINT NOT NULL, v BIGINT,"
        f" PRIMARY KEY (k))"
    )
    e.sql(f"INSERT INTO {name} VALUES (1, 10), (2, 20)")  # seq 1
    return e


def _state(e, sql):
    return sorted(tuple(r) for r in e.sql(sql).collect())


# (label, statement template — {t} is `name` on main, `name$branch('b')`
# on the branch).  Scenarios cover {present key, absent key, predicate}
# for each verb, per VERDICT r10 item 2.
CASES = [
    ("insert_new_key", "INSERT INTO {t} VALUES (3, 30)"),
    ("insert_present_key", "INSERT INTO {t} VALUES (2, 99)"),
    ("delete_point_present", "DELETE FROM {t} WHERE k = 2"),
    # THE r10 bug: blind tombstone must be recorded on the branch too
    ("delete_point_absent", "DELETE FROM {t} WHERE k = 777"),
    ("delete_predicate_matching", "DELETE FROM {t} WHERE v >= 20"),
    ("delete_predicate_empty", "DELETE FROM {t} WHERE v > 1000"),
    ("update_matching", "UPDATE {t} SET v = v + 5 WHERE k >= 2"),
    ("update_empty", "UPDATE {t} SET v = 0 WHERE k > 1000"),
    (
        "merge_upsert_and_insert",
        "MERGE INTO {t} USING (SELECT * FROM VALUES (2, 200), (5, 500)"
        " AS s(k, v)) AS s ON {t_alias}k = s.k"
        " WHEN MATCHED THEN UPDATE SET v = s.v"
        " WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)",
    ),
    (
        "merge_delete_matched",
        "MERGE INTO {t} USING (SELECT * FROM VALUES (1, 0)"
        " AS s(k, v)) AS s ON {t_alias}k = s.k"
        " WHEN MATCHED THEN DELETE",
    ),
]


@pytest.mark.parametrize("label,template", CASES, ids=[c[0] for c in CASES])
def test_branch_main_dispatch_parity(spark, tmp_path, label, template):
    # main path
    em = _mk(spark, tmp_path, "pm")
    spec_m = em.catalog.get_table("pm")
    seed_head = em.catalog._committed_seq(spec_m)
    em.sql(template.format(t="pm", t_alias="pm."))
    main_state = _state(em, "SELECT k, v FROM pm")
    appended_main = (
        em.catalog._log_df(spec_m)
        .filter(F.col("__seq__") > seed_head)
        .count()
    )

    # branch path: identical seed, same statement against the branch
    eb = _mk(spark, tmp_path, "pb")
    eb.sql("ALTER TABLE pb CREATE BRANCH b")
    spec_b = eb.catalog.get_table("pb")
    eb.sql(template.format(t="pb$branch('b')", t_alias="pb."))
    branch_state = _state(eb, "SELECT k, v FROM pb$branch('b')")
    bpath = eb.catalog._branch_path(spec_b, "b")
    appended_branch = spark.read.parquet(bpath).count()

    assert branch_state == main_state, (label, branch_state, main_state)
    # the physical contract too: a blind tombstone (absent key) must be
    # RECORDED on the branch exactly as on main, or divergence
    # accounting downstream (cherry-pick, branch_diff, fast-forward)
    # never sees the statement
    assert appended_branch == appended_main, (
        label, appended_branch, appended_main,
    )
    # main of the branched table untouched throughout
    assert _state(eb, "SELECT k, v FROM pb") == [(1, 10), (2, 20)]


def test_cherry_pick_refuses_delete_of_absent_key_vs_main_insert(
    spark, tmp_path
):
    """The exact VERDICT r10 3-statement repro: branch point-DELETE of
    an absent key, then main INSERT of that key, then CHERRY PICK must
    REFUSE (branch-final state absent vs main present = divergence)."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE dmlb (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    e.sql("ALTER TABLE dmlb CREATE BRANCH b")
    assert e.sql("DELETE FROM dmlb$branch('b') WHERE k = 0").collect()[
        0
    ]["count"] == 1
    e.sql("INSERT INTO dmlb VALUES (0, 0)")
    with pytest.raises(ConcurrentWriteConflict):
        e.sql("ALTER TABLE dmlb CHERRY PICK BRANCH b")
    # refusal keeps both states
    assert _state(e, "SELECT k, v FROM dmlb") == [(0, 0)]
    assert _state(e, "SELECT k, v FROM dmlb$branch('b')") == []
    # the review view shows the contested ground
    diff = e.sql("SELECT * FROM dmlb$branch_diff('b')").collect()
    assert [(r.k, r.change_type) for r in diff] == [(0, "delete")]
    # the fast-forward face of the same seam: the branch has a recorded
    # write, main diverged — FF must refuse too (before the fix the lost
    # tombstone made the branch look write-free and FF re-anchored)
    with pytest.raises(ConcurrentWriteConflict):
        e.sql("ALTER TABLE dmlb FAST FORWARD BRANCH b")
    assert _state(e, "SELECT k, v FROM dmlb") == [(0, 0)]


def test_cherry_pick_publishes_absent_key_delete_without_contest(
    spark, tmp_path
):
    """Same tombstone, no main divergence: publishes cleanly and the
    tombstone rides into main history (deleting the key if it appears
    later at a LOWER seq — here it never does, so state is empty)."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE dmlc (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    e.sql("INSERT INTO dmlc VALUES (1, 1)")
    e.sql("ALTER TABLE dmlc CREATE BRANCH b")
    e.sql("DELETE FROM dmlc$branch('b') WHERE k = 1")
    e.sql("DELETE FROM dmlc$branch('b') WHERE k = 999")  # absent: blind
    cp = e.sql("ALTER TABLE dmlc CHERRY PICK BRANCH b").collect()[0]
    assert cp.files_published >= 1
    assert _state(e, "SELECT k, v FROM dmlc") == []


def test_cherry_pick_empty_delta_publishes_zero_files(spark, tmp_path):
    """VERDICT r10 item 3: a branch whose every statement wrote zero
    rows (predicate DELETE matching nothing) must publish 0 files — no
    empty parquet part lands on main — while the statements still enter
    main history (seq advances)."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE dmld (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    e.sql("INSERT INTO dmld VALUES (1, 1)")
    e.sql("ALTER TABLE dmld CREATE BRANCH b")
    n = e.sql("DELETE FROM dmld$branch('b') WHERE v > 1000").collect()[0]
    assert n["count"] == 0
    spec = e.catalog.get_table("dmld")
    head_before = e.catalog._committed_seq(spec)
    cp = e.sql("ALTER TABLE dmld CHERRY PICK BRANCH b").collect()[0]
    assert cp.files_published == 0
    assert cp.advanced_to == head_before + 1  # the no-op stmt is history
    assert _state(e, "SELECT k, v FROM dmld") == [(1, 1)]
    # and the branch continues from the new anchor
    e.sql("INSERT INTO dmld$branch('b') VALUES (2, 2)")
    assert _state(e, "SELECT k, v FROM dmld$branch('b')") == [
        (1, 1), (2, 2)]


def test_branch_point_delete_quoted_table_name(spark, tmp_path):
    """The dispatch re-parse uses the original (quoted) table token, so
    a backtick-named table still takes the blind-tombstone point path
    on its branch."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE `qt` (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))"
    )
    e.sql("ALTER TABLE qt CREATE BRANCH b")
    e.sql("DELETE FROM `qt`$branch('b') WHERE k = 7")  # absent: blind
    e.sql("INSERT INTO qt VALUES (7, 1)")
    with pytest.raises(ConcurrentWriteConflict):
        e.sql("ALTER TABLE qt CHERRY PICK BRANCH b")


@pytest.mark.parametrize("stmt", [
    "DELETE FROM {t} WHERE v > 1000",
    "UPDATE {t} SET v = 0 WHERE k > 1000",
])
def test_bucketed_empty_delta_same_physical_trace(spark, tmp_path,
                                                  monkeypatch, stmt):
    """A 0-row RMW delta on a bucketed table, on main and on a branch:
    the driver-local writer leaves what the distributed writer leaves.
    An empty ``partitionBy(__bkt__)`` write produces no part file at
    all, so neither writer adds a file, and both record the statement."""
    from fluss_datafusion_spark.catalog.catalog import (
        FlussCatalog,
        _parquet_files,
    )

    traces = []
    for local in (True, False):
        with monkeypatch.context() as m:
            local_writes = []
            real = FlussCatalog._local_write_rows
            m.setattr(
                FlussCatalog, "_local_write_rows",
                lambda self, *a, **k: local_writes.append(1)
                or real(self, *a, **k),
            )
            if not local:
                for seam in ("_try_local_append", "_try_collect_local_append"):
                    m.setattr(FlussCatalog, seam, lambda self, *a, **k: None)
            e = EngineSession(spark=spark,
                              warehouse=str(tmp_path / f"wh_{local}"))
            e.sql("CREATE TABLE bz (k BIGINT NOT NULL, v BIGINT,"
                  " PRIMARY KEY (k)) DISTRIBUTED BY (k) INTO 4 BUCKETS")
            e.sql("INSERT INTO bz VALUES (1, 10), (2, 20)")
            e.sql("ALTER TABLE bz CREATE BRANCH b")
            spec = e.catalog.get_table("bz")
            paths = [e.catalog.table_path(spec),
                     e.catalog._branch_path(spec, "b")]
            before = [_parquet_files(p) for p in paths]
            heads = (e.catalog._committed_seq(spec),
                     e.catalog._branch_head(spec, "b"))
            del local_writes[:]
            e.sql(stmt.format(t="bz"))
            e.sql(stmt.format(t="bz$branch('b')"))
            assert len(local_writes) == (2 if local else 0)
            traces.append((
                [_parquet_files(p) - b for p, b in zip(paths, before)],
                e.catalog._committed_seq(spec) - heads[0],
                e.catalog._branch_head(spec, "b") - heads[1],
                _state(e, "SELECT k, v FROM bz$branch('b')"),
            ))
    assert traces[0] == traces[1] == (
        [set(), set()], 1, 1, [(1, 10), (2, 20)])
