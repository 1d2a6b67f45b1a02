"""Writable version refs — Iceberg-style table BRANCHES.

A branch forks the PK log's statement history at its fork seq and
accumulates its own writes in a sibling directory with a branch-local
seq space (catalog.py "branches" section).  Reads are the overlay
merge(main ⩽ fork ∪ branch log); fast_forward publishes a
non-diverged branch by MOVING its files into the main log (zero
rewrite — the files already carry the exact __seq__ stamps main needs
next).  The reference CLI has no refs at all (tags and branches both
exceed it); semantics follow Iceberg's branch + fast_forward
procedure."""

import os

import pytest

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog.catalog import ConcurrentWriteConflict


@pytest.fixture()
def branched(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE bt (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO bt VALUES (1, 'a'), (2, 'b')")  # seq 1
    e.sql("ALTER TABLE bt CREATE BRANCH dev")
    return e


def _rows(e, sql):
    return sorted(tuple(r) for r in e.sql(sql).collect())


def test_branch_isolation_both_directions(branched):
    e = branched
    # branch write: upsert an existing key + a new key
    e.sql("INSERT INTO bt$branch('dev') VALUES (2, 'B2'), (3, 'c')")
    # main write after the fork
    e.sql("INSERT INTO bt VALUES (4, 'd')")
    # main never sees branch rows
    assert _rows(e, "SELECT id, v FROM bt") == [
        (1, "a"), (2, "b"), (4, "d")]
    # the branch sees the forked base plus its own writes — and NOT
    # main's post-fork commit
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "B2"), (3, "c")]
    # quoted VERSION AS OF resolves branches too (one ref namespace)
    assert _rows(e, "SELECT id, v FROM bt VERSION AS OF 'dev'") == [
        (1, "a"), (2, "B2"), (3, "c")]


def test_branch_delete_and_upsert_semantics(branched):
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'c')")
    e.sql("DELETE FROM bt$branch('dev') WHERE id = 1")
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (2, "b"), (3, "c")]
    # later branch statements win over earlier ones (normal upsert)
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'C3')")
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (2, "b"), (3, "C3")]
    # main untouched throughout
    assert _rows(e, "SELECT id, v FROM bt") == [(1, "a"), (2, "b")]


def test_show_branches_and_ddl_guards(branched):
    e = branched
    rows = [tuple(r) for r in e.sql("SHOW BRANCHES bt").collect()]
    assert [(r[0], r[1], r[2], r[4]) for r in rows] == [("dev", 1, 1, True)]
    e.sql("INSERT INTO bt$branch('dev') VALUES (9, 'z')")
    rows = [tuple(r) for r in e.sql("SHOW BRANCHES FROM bt").collect()]
    assert [(r[0], r[1], r[2]) for r in rows] == [("dev", 1, 2)]
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE bt CREATE BRANCH dev")  # duplicate
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE bt CREATE BRANCH fut AS OF VERSION 99")
    e.sql("ALTER TABLE bt CREATE TAG pin")
    with pytest.raises(ValueError):
        # one ref namespace: a branch may not shadow a tag
        e.sql("ALTER TABLE bt CREATE BRANCH pin")
    e.sql("ALTER TABLE bt DROP BRANCH dev")
    assert e.sql("SHOW BRANCHES bt").count() == 0
    with pytest.raises(ValueError):
        e.sql("SELECT * FROM bt$branch('dev')")


def test_branch_requires_pk_table(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE logt (id BIGINT, v STRING)")
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE logt CREATE BRANCH b")


def test_fast_forward_publishes_and_continues(branched):
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (2, 'B2'), (3, 'c')")
    e.sql("DELETE FROM bt$branch('dev') WHERE id = 1")
    ff = e.sql("ALTER TABLE bt FAST FORWARD BRANCH dev").collect()[0]
    assert ff.advanced_to == 3 and ff.files_published >= 2
    # main now shows the branch state
    assert _rows(e, "SELECT id, v FROM bt") == [(2, "B2"), (3, "c")]
    # the published statements keep their seq identity: time travel to
    # the intermediate branch seq works on MAIN after publication
    assert _rows(e, "SELECT id, v FROM bt$v2") == [
        (1, "a"), (2, "B2"), (3, "c")]
    # the branch survives, re-forked at the new head with an empty delta
    rows = [tuple(r) for r in e.sql("SHOW BRANCHES bt").collect()]
    assert [(r[0], r[1], r[2]) for r in rows] == [("dev", 3, 3)]
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (2, "B2"), (3, "c")]
    # and main's seq space continues past the published head
    e.sql("INSERT INTO bt VALUES (5, 'e')")
    assert e.catalog.current_seq("bt") == 4


def test_fast_forward_refuses_divergence(branched):
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'c')")
    e.sql("INSERT INTO bt VALUES (4, 'd')")  # main moved past the fork
    with pytest.raises(ConcurrentWriteConflict):
        e.sql("ALTER TABLE bt FAST FORWARD BRANCH dev")
    # nothing was published and the branch is intact
    assert _rows(e, "SELECT id, v FROM bt") == [
        (1, "a"), (2, "b"), (4, "d")]
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "b"), (3, "c")]


def test_branches_survive_sessions_rename_and_optimize(spark, tmp_path):
    wh = str(tmp_path / "wh")
    e = EngineSession(spark=spark, warehouse=wh)
    e.sql("CREATE TABLE mt (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO mt VALUES (1, 'a')")
    e.sql("ALTER TABLE mt CREATE BRANCH exp")
    e.sql("INSERT INTO mt$branch('exp') VALUES (2, 'b')")
    e.sql("OPTIMIZE mt")  # consolidation must not touch the branch
    assert sorted(
        tuple(r) for r in e.sql("SELECT id, v FROM mt$branch('exp')").collect()
    ) == [(1, "a"), (2, "b")]
    e.sql("ALTER TABLE mt RENAME TO mt2")
    assert sorted(
        tuple(r)
        for r in e.sql("SELECT id, v FROM mt2$branch('exp')").collect()
    ) == [(1, "a"), (2, "b")]
    # a fresh session over the same warehouse re-attaches branch + data
    e2 = EngineSession(spark=spark, warehouse=wh)
    assert sorted(
        tuple(r)
        for r in e2.sql("SELECT id, v FROM mt2$branch('exp')").collect()
    ) == [(1, "a"), (2, "b")]
    # drop_table removes the sibling branch dir
    spec = e2.catalog.get_table("mt2")
    broot = e2.catalog._branch_root(spec)
    assert os.path.isdir(broot)
    e2.sql("DROP TABLE mt2")
    assert not os.path.isdir(broot)


def test_branch_below_compaction_floor_refuses(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE ct (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO ct VALUES (1, 'a')")
    e.sql("ALTER TABLE ct CREATE BRANCH old")
    e.sql("INSERT INTO ct VALUES (2, 'b')")
    e.catalog.compact("ct")  # truncates history, raises the floor
    with pytest.raises(ValueError, match="compaction"):
        e.sql("SELECT * FROM ct$branch('old')")
    rows = [tuple(r) for r in e.sql("SHOW BRANCHES ct").collect()]
    assert rows[0][4] is False  # readable = False
    with pytest.raises(ValueError, match="compaction"):
        e.catalog.create_branch("ct", "older", seq=1)


def test_branch_concurrent_write_conflict(branched):
    e = branched
    cat = e.catalog
    spec = cat.get_table("bt")
    base = cat._branch_head(spec, "dev")
    # another writer lands a branch statement between our read and append
    cat.insert("bt", e.spark.sql("SELECT 7L, 'x'"), branch="dev")
    with pytest.raises(ConcurrentWriteConflict):
        cat._branch_next_seq(spec, "dev", expect_base=base)


def test_branch_respects_buckets_and_generated(spark, tmp_path):
    """Branch writes run the full append machinery: bucket layout,
    GENERATED columns and CHECK constraints all apply on the branch."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE gb (id BIGINT NOT NULL, v STRING, "
        "lv STRING GENERATED ALWAYS AS (lower(v)), PRIMARY KEY (id)) "
        "DISTRIBUTED BY (id) BUCKETS 4"
    )
    e.sql("INSERT INTO gb VALUES (1, 'A')")
    e.sql("ALTER TABLE gb CREATE BRANCH b")
    e.sql("INSERT INTO gb$branch('b') VALUES (2, 'B')")
    assert sorted(
        tuple(r)
        for r in e.sql("SELECT id, v, lv FROM gb$branch('b')").collect()
    ) == [(1, "A", "a"), (2, "B", "b")]
    # fast-forward moves the bucketed layout as-is
    e.sql("ALTER TABLE gb FAST FORWARD BRANCH b")
    assert sorted(
        tuple(r) for r in e.sql("SELECT id, v, lv FROM gb").collect()
    ) == [(1, "A", "a"), (2, "B", "b")]
    # PK point lookup still prunes to one bucket post-publication
    assert [tuple(r) for r in e.catalog.lookup("gb", 2).select(
        "id", "v").collect()] == [(2, "B")]


def test_branch_update_and_merge(branched):
    """UPDATE and MERGE INTO on a branch: the full RMW DML family runs
    against the branch overlay and lands in the branch seq space."""
    e = branched
    n = e.sql(
        "UPDATE bt$branch('dev') SET v = upper(v) WHERE id = 1"
    ).collect()[0][0]
    assert n == 1
    counts = e.sql(
        "MERGE INTO bt$branch('dev') t USING "
        "(SELECT * FROM VALUES (2, 'merged'), (9, 'new') AS s(id, v)) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert (counts.upserted, counts.deleted) == (2, 0)
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "A"), (2, "merged"), (9, "new")]
    # main untouched by the whole branch DML family
    assert _rows(e, "SELECT id, v FROM bt") == [(1, "a"), (2, "b")]
    # publish: main adopts the three branch statements
    e.sql("ALTER TABLE bt FAST FORWARD BRANCH dev")
    assert _rows(e, "SELECT id, v FROM bt") == [
        (1, "A"), (2, "merged"), (9, "new")]


def test_branch_diff_review_view(branched):
    """branch_diff classifies the publish delta: insert / update /
    delete rows with both sides' values; identical keys emit nothing."""
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (2, 'B2'), (3, 'c')")
    e.sql("DELETE FROM bt$branch('dev') WHERE id = 1")
    rows = {
        r.id: (r.change_type, r.main_v, r.branch_v)
        for r in e.sql("SELECT * FROM bt$branch_diff('dev')").collect()
    }
    assert rows == {
        1: ("delete", "a", None),
        2: ("update", "b", "B2"),
        3: ("insert", None, "c"),
    }
    # diff is against main's HEAD: a diverged main shows contested keys
    e.sql("INSERT INTO bt VALUES (3, 'main3')")
    rows = {
        r.id: (r.change_type, r.main_v, r.branch_v)
        for r in e.sql("SELECT * FROM bt$branch_diff('dev')").collect()
    }
    assert rows[3] == ("update", "main3", "c")


def test_branch_of_empty_table(spark, tmp_path):
    """Fork at seq 0 (nothing in main): the overlay read, publish and
    re-fork all work on the empty base."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE et (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("ALTER TABLE et CREATE BRANCH b")
    assert e.sql("SELECT * FROM et$branch('b')").count() == 0
    e.sql("INSERT INTO et$branch('b') VALUES (1, 'a')")
    assert _rows(e, "SELECT id, v FROM et$branch('b')") == [(1, "a")]
    assert e.sql("SELECT * FROM et").count() == 0
    e.sql("ALTER TABLE et FAST FORWARD BRANCH b")
    assert _rows(e, "SELECT id, v FROM et") == [(1, "a")]


def test_information_schema_table_refs(branched):
    """Tags and branches surface in one observability view with anchor,
    head and floor-readability columns."""
    e = branched
    e.sql("ALTER TABLE bt CREATE TAG v1")
    e.sql("INSERT INTO bt$branch('dev') VALUES (8, 'h')")
    rows = {
        (r.ref_name, r.ref_type): (r.anchor_seq, r.head_seq, r.readable)
        for r in e.sql(
            "SELECT * FROM information_schema.table_refs"
            " WHERE table_name = 'bt'"
        ).collect()
    }
    assert rows == {
        ("dev", "BRANCH"): (1, 2, True),
        ("v1", "TAG"): (1, 1, True),
    }


def test_fast_forward_after_main_optimize(spark, tmp_path):
    """OPTIMIZE consolidates main's files between fork and publish —
    the swap preserves the head seq, so a non-diverged branch still
    fast-forwards and the published rows merge correctly."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE ot (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO ot VALUES (1, 'a'), (2, 'b')")
    e.sql("ALTER TABLE ot CREATE BRANCH dev")
    e.sql("INSERT INTO ot$branch('dev') VALUES (2, 'B'), (3, 'c')")
    e.sql("OPTIMIZE ot")  # maintenance swap; head seq unchanged
    e.sql("ALTER TABLE ot FAST FORWARD BRANCH dev")
    assert sorted(
        tuple(r) for r in e.sql("SELECT id, v FROM ot").collect()
    ) == [(1, "a"), (2, "B"), (3, "c")]


def test_expire_refs_drops_only_floor_stranded(spark, tmp_path):
    """EXPIRE REFS is the explicit janitor: refs below the compaction
    floor (provably unreadable) are dropped, live refs survive."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE xr (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO xr VALUES (1, 'a')")
    e.sql("ALTER TABLE xr CREATE TAG old_tag")
    e.sql("ALTER TABLE xr CREATE BRANCH old_br")
    e.sql("INSERT INTO xr VALUES (2, 'b')")
    e.catalog.compact("xr")  # floor rises past both refs' anchors
    e.sql("ALTER TABLE xr CREATE TAG live_tag")
    e.sql("ALTER TABLE xr CREATE BRANCH live_br")
    row = e.sql("ALTER TABLE xr EXPIRE REFS").collect()[0]
    assert (row.expired_tags, row.expired_branches) == (1, 1)
    refs = {
        r.ref_name
        for r in e.sql(
            "SELECT * FROM information_schema.table_refs"
            " WHERE table_name = 'xr'"
        ).collect()
    }
    assert refs == {"live_tag", "live_br"}
    # idempotent: nothing left to expire
    row = e.sql("ALTER TABLE xr EXPIRE REFS").collect()[0]
    assert (row.expired_tags, row.expired_branches) == (0, 0)


def test_read_api_branch_symmetry(branched):
    """read(name, branch=b) mirrors the writer APIs' branch kwarg."""
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'c')")
    got = sorted(
        tuple(r)
        for r in e.catalog.read("bt", branch="dev").select("id", "v").collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # predicate path works through the branch overlay
    got = [
        tuple(r)
        for r in e.catalog.read("bt", branch="dev", predicate="id = 3")
        .select("id", "v").collect()
    ]
    assert got == [(3, "c")]
    with pytest.raises(ValueError):
        e.catalog.read("bt", as_of_seq=1, branch="dev")


# -- round 9: ref-name safety + publish exclusion -------------------------


def test_ref_names_are_path_safe(branched):
    """A ref name becomes a filesystem path component: '..', '.', and
    separator-bearing names must refuse at creation (ADVICE r8: a
    branch named '..' resolved to the DATABASE directory, so DROP
    BRANCH/EXPIRE REFS/fast_forward would rmtree every table)."""
    e = branched
    for bad in ("..", ".", "a/b", "a\\b", "", ".hidden", "-x"):
        with pytest.raises(ValueError):
            e.catalog.create_branch("bt", bad)
        with pytest.raises(ValueError):
            e.catalog.create_tag("bt", bad)
    # the DDL surface refuses too (its regex admits '.' and '..')
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE bt CREATE BRANCH `..`")
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE bt CREATE TAG `..`")
    # sane names still work, including dots and dashes INSIDE the name
    e.sql("ALTER TABLE bt CREATE BRANCH rel-1.2_x")
    assert _rows(e, "SELECT id, v FROM bt$branch('rel-1.2_x')") == [
        (1, "a"), (2, "b")]


def test_one_ref_namespace_both_directions(branched):
    """create_branch refuses a tag's name AND create_tag refuses a
    branch's name — otherwise VERSION AS OF '<ref>' silently re-points
    from the branch overlay to the tag's pinned seq (ADVICE r8)."""
    e = branched
    with pytest.raises(ValueError, match="branch"):
        e.sql("ALTER TABLE bt CREATE TAG dev")  # 'dev' is a branch
    e.sql("ALTER TABLE bt CREATE TAG pinned")
    with pytest.raises(ValueError, match="tag"):
        e.sql("ALTER TABLE bt CREATE BRANCH pinned")


def test_branch_view_names_injective(branched):
    """Branches 'a-b' and 'a_b' sanitize to the same identifier; one
    statement referencing both must read two different overlays
    (ADVICE r8: the second temp-view bind clobbered the first)."""
    e = branched
    e.sql("ALTER TABLE bt CREATE BRANCH a-b")
    e.sql("ALTER TABLE bt CREATE BRANCH a_b")
    e.sql("INSERT INTO bt$branch('a-b') VALUES (10, 'dash')")
    e.sql("INSERT INTO bt$branch('a_b') VALUES (20, 'under')")
    got = _rows(
        e,
        "SELECT x.id, x.v, y.id AS id2, y.v AS v2 "
        "FROM bt$branch('a-b') x JOIN bt$branch('a_b') y ON x.id + 10 = y.id",
    )
    assert got == [(10, "dash", 20, "under")]


def test_fast_forward_empty_branch_reanchors_on_diverged_main(branched):
    """head == fork with main advanced past the fork: publishing an
    empty branch must not leave it pinned at the stale fork (ADVICE
    r8) — it re-anchors at the current main head."""
    e = branched
    e.sql("INSERT INTO bt VALUES (4, 'd')")  # main seq 2 > fork 1
    ff = e.sql("ALTER TABLE bt FAST FORWARD BRANCH dev").collect()[0]
    assert ff.advanced_to == 2 and ff.files_published == 0
    # the branch now overlays today's base, not the pre-divergence one
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "b"), (4, "d")]
    rows = [tuple(r) for r in e.sql("SHOW BRANCHES bt").collect()]
    assert [(r[0], r[1]) for r in rows] == [("dev", 2)]


def test_fast_forward_excludes_concurrent_branch_writers(branched):
    """A branch seq reservation in flight (writer mid-statement) makes
    fast_forward wait; a publish marker in flight makes new branch
    reservations wait (ADVICE r8: without exclusion the re-fork rmtree
    silently destroyed concurrently-committed branch rows)."""
    import threading
    import time

    e = branched
    cat = e.catalog
    spec = cat.get_table("bt")

    # writer holds a reservation -> publish drains it before moving
    n = cat._branch_next_seq(spec, "dev")
    done = {}

    def _publish():
        done["t0"] = time.monotonic()
        e.sql("ALTER TABLE bt FAST FORWARD BRANCH dev")
        done["t1"] = time.monotonic()

    th = threading.Thread(target=_publish)
    th.start()
    time.sleep(0.3)
    assert "t1" not in done, "publish must wait for the reservation"
    # finalize the writer's statement, then the publish proceeds
    cat._record_commit(spec, n, branch="dev")
    th.join(timeout=30)
    assert "t1" in done and done["t1"] - done["t0"] >= 0.25

    # publish marker up -> a FOREIGN session's reservation waits (the
    # Dekker other side; own-session actors bypass their own marker,
    # same as the maintenance protocol)
    e2 = EngineSession(spark=e.spark, warehouse=cat.warehouse)
    cat2 = e2.catalog
    spec2 = cat2.get_table("bt")
    with cat._branch_publish_lock(spec, "dev"):
        got = {}

        def _reserve():
            got["n"] = cat2._branch_next_seq(spec2, "dev")

        th2 = threading.Thread(target=_reserve)
        th2.start()
        time.sleep(0.3)
        assert "n" not in got, "reservation must wait for the publish"
    th2.join(timeout=30)
    assert "n" in got
    # release so the fixture teardown sees no stray reservation
    cat.locking.delete(
        os.path.join(
            cat._branch_commit_dir(spec, "dev"),
            f"{got['n']:010d}.inflight",
        )
    )


def test_drop_branch_clears_stale_publish_marker(branched):
    """A crashed publish leaves its marker OUTSIDE the branch dir; DROP
    BRANCH must clear it so a re-created branch isn't blocked."""
    e = branched
    cat = e.catalog
    spec = cat.get_table("bt")
    marker = cat._branch_publish_marker(spec, "dev")
    assert cat.locking.put_if_absent(marker, b"999999")
    e.sql("ALTER TABLE bt DROP BRANCH dev")
    assert cat.locking.stat_mtime(marker) is None
    e.sql("ALTER TABLE bt CREATE BRANCH dev")
    e.sql("INSERT INTO bt$branch('dev') VALUES (9, 'i')")
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "b"), (9, "i")]


def test_expire_refs_retention_policies(spark, tmp_path):
    """EXPIRE REFS [RETAIN LAST n] [OLDER THAN interval] — the Iceberg
    expireSnapshots retention analog on named refs (VERDICT r8 item 3):
    keep-last-N per ref kind, max-age cutoff, live-branch protection,
    idempotent."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE rr (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    for i in range(1, 5):
        e.sql(f"INSERT INTO rr VALUES ({i}, 'v{i}')")  # seqs 1..4
        e.sql(f"ALTER TABLE rr CREATE TAG t{i} AS OF VERSION {i}")
    e.sql("ALTER TABLE rr CREATE BRANCH b1 AS OF VERSION 1")
    e.sql("ALTER TABLE rr CREATE BRANCH b2 AS OF VERSION 2")
    e.sql("ALTER TABLE rr CREATE BRANCH b3 AS OF VERSION 3")
    # b2 carries UNPUBLISHED work: policy expiry must never take it
    e.sql("INSERT INTO rr$branch('b2') VALUES (99, 'wip')")

    # age cutoff in the future-relative sense: nothing is older than a
    # day, so OLDER THAN 1 DAY expires nothing
    row = e.sql("ALTER TABLE rr EXPIRE REFS OLDER THAN 1 DAY").collect()[0]
    assert (row.expired_tags, row.expired_branches) == (0, 0)

    # keep-last-2 per kind: tags t3/t4 survive, branches b3 survives
    # plus b2 via live-branch protection; t1/t2/b1 expire
    row = e.sql("ALTER TABLE rr EXPIRE REFS RETAIN LAST 2").collect()[0]
    assert (row.expired_tags, row.expired_branches) == (2, 1)
    refs = {
        (r.ref_name, r.ref_type)
        for r in e.sql(
            "SELECT * FROM information_schema.table_refs"
            " WHERE table_name = 'rr'"
        ).collect()
    }
    assert refs == {
        ("t3", "TAG"), ("t4", "TAG"),
        ("b2", "BRANCH"), ("b3", "BRANCH"),
    }
    # idempotent (b2 still protected by its unpublished delta)
    row = e.sql("ALTER TABLE rr EXPIRE REFS RETAIN LAST 2").collect()[0]
    assert (row.expired_tags, row.expired_branches) == (0, 0)

    # combined clauses parse in either order; OLDER THAN 0 SECONDS makes
    # everything a candidate, RETAIN LAST 1 keeps the newest of each
    # kind (t4, b3); b2 keeps its live protection
    row = e.sql(
        "ALTER TABLE rr EXPIRE REFS OLDER THAN INTERVAL '0' SECONDS"
        " RETAIN LAST 1"
    ).collect()[0]
    assert (row.expired_tags, row.expired_branches) == (1, 0)
    refs = {
        r.ref_name
        for r in e.sql(
            "SELECT * FROM information_schema.table_refs"
            " WHERE table_name = 'rr'"
        ).collect()
    }
    assert refs == {"t4", "b2", "b3"}

    # b2 forked at 2 while main is at 4 and it carries work, so
    # publication refuses on divergence — the only ways out are DROP
    # (explicit, below) or a future cherry-pick; policy expiry stays
    # unable to take it either way
    with pytest.raises(ConcurrentWriteConflict):
        e.sql("ALTER TABLE rr FAST FORWARD BRANCH b2")
    # drop the unpublishable branch explicitly, then expire the rest
    e.sql("ALTER TABLE rr DROP BRANCH b2")
    row = e.sql("ALTER TABLE rr EXPIRE REFS RETAIN LAST 0").collect()[0]
    assert (row.expired_tags, row.expired_branches) == (1, 1)
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE rr EXPIRE REFS RETAIN LAST -1")
    with pytest.raises(ValueError):
        e.sql("ALTER TABLE rr EXPIRE REFS OLDER THAN 5 FORTNIGHTS")


# -- round 9: diverged-branch cherry-pick ----------------------------------


def test_cherry_pick_publishes_diverged_branch(branched):
    """fast_forward refuses once main moves past the fork; CHERRY PICK
    re-stamps the branch statements onto the current head when no key
    was written by both histories (VERDICT r8 item 6)."""
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'c'), (5, 'e')")
    e.sql("DELETE FROM bt$branch('dev') WHERE id = 5")  # branch seq 3
    e.sql("INSERT INTO bt VALUES (4, 'd')")  # main diverges (seq 2)
    with pytest.raises(ConcurrentWriteConflict):
        e.sql("ALTER TABLE bt FAST FORWARD BRANCH dev")
    cp = e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev").collect()[0]
    # branch had 2 statements past the fork -> main advances 2 seqs
    assert cp.advanced_to == 4 and cp.files_published >= 2
    # main now carries BOTH histories: its own divergence and the
    # branch's insert + the delete of key 5
    assert _rows(e, "SELECT id, v FROM bt") == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # time travel: seq 3 = branch insert statement re-stamped
    assert _rows(e, "SELECT id, v FROM bt$v3") == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]
    # the branch survives re-forked at the new head with an empty delta
    rows = [tuple(r) for r in e.sql("SHOW BRANCHES bt").collect()]
    assert [(r[0], r[1], r[2]) for r in rows] == [("dev", 4, 4)]
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # main's seq space continues cleanly
    e.sql("INSERT INTO bt VALUES (9, 'i')")
    assert e.catalog.current_seq("bt") == 5


def test_cherry_pick_refuses_contested_keys(branched):
    """A key written by both histories since the fork refuses (safe
    default) and nothing is published."""
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (2, 'branch-2'), (3, 'c')")
    e.sql("UPDATE bt SET v = 'main-2' WHERE id = 2")  # contested key 2
    with pytest.raises(ConcurrentWriteConflict, match="both histories"):
        e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev")
    # nothing moved: main and branch unchanged
    assert _rows(e, "SELECT id, v FROM bt") == [(1, "a"), (2, "main-2")]
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "branch-2"), (3, "c")]
    # resolving on the branch (retract the contested write by matching
    # main) PUBLISHES: key 2 was written by both sides but the values
    # now agree, so there is no conflicting intent (r10 — the policy is
    # value-based; history alone no longer spuriously refuses)
    e.sql("UPDATE bt$branch('dev') SET v = 'main-2' WHERE id = 2")
    cp = e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev").collect()[0]
    assert cp.advanced_to == e.catalog.current_seq("bt")
    assert _rows(e, "SELECT id, v FROM bt") == [
        (1, "a"), (2, "main-2"), (3, "c")]


def test_cherry_pick_value_equal_contested_keys_publish(branched):
    """History-contested keys whose values AGREE publish cleanly
    (VERDICT r9 item 3): delete-on-both and same-value-written-on-both
    are not conflicts; a genuine value divergence still refuses."""
    e = branched
    # both sides delete key 1; both sides write key 2 to the SAME value
    e.sql("DELETE FROM bt WHERE id = 1")
    e.sql("UPDATE bt SET v = 'agreed' WHERE id = 2")
    e.sql("DELETE FROM bt$branch('dev') WHERE id = 1")
    e.sql("UPDATE bt$branch('dev') SET v = 'agreed' WHERE id = 2")
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'c')")
    cp = e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev").collect()[0]
    assert cp.advanced_to == e.catalog.current_seq("bt")
    assert _rows(e, "SELECT id, v FROM bt") == [(2, "agreed"), (3, "c")]

    # delete-on-branch vs update-on-main is a REAL divergence: refuse
    e.sql("UPDATE bt SET v = 'newer' WHERE id = 2")
    e.sql("DELETE FROM bt$branch('dev') WHERE id = 2")
    with pytest.raises(ConcurrentWriteConflict, match="DIVERGING"):
        e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev")
    # nothing moved
    assert _rows(e, "SELECT id, v FROM bt") == [(2, "newer"), (3, "c")]


def test_cherry_pick_non_diverged_and_empty(branched):
    """Cherry-pick subsumes the non-diverged case (offset 0) and the
    empty-branch case (re-anchor)."""
    e = branched
    e.sql("INSERT INTO bt$branch('dev') VALUES (3, 'c')")
    cp = e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev").collect()[0]
    assert cp.advanced_to == 2 and cp.files_published >= 1
    assert _rows(e, "SELECT id, v FROM bt") == [
        (1, "a"), (2, "b"), (3, "c")]
    # empty branch + diverged main: re-anchors
    e.sql("INSERT INTO bt VALUES (4, 'd')")
    cp = e.sql("ALTER TABLE bt CHERRY PICK BRANCH dev").collect()[0]
    assert cp.advanced_to == 3 and cp.files_published == 0
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_cherry_pick_preserves_buckets_and_timestamps(spark, tmp_path):
    """Re-stamped files land under the table's bucket layout and keep
    their original commit timestamps (TIMESTAMP AS OF keeps answering)."""
    import time

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE bk (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))"
        " DISTRIBUTED BY (id) BUCKETS 4"
    )
    e.sql("INSERT INTO bk VALUES (1, 'a')")
    e.sql("ALTER TABLE bk CREATE BRANCH dev")
    e.sql("INSERT INTO bk$branch('dev') VALUES (2, 'b'), (6, 'f')")
    t_branch_write = time.time()
    time.sleep(1.1)
    e.sql("INSERT INTO bk VALUES (9, 'z')")  # diverge
    e.sql("ALTER TABLE bk CHERRY PICK BRANCH dev")
    got = sorted(
        tuple(r) for r in e.sql("SELECT id, v FROM bk").collect()
    )
    assert got == [(1, "a"), (2, "b"), (6, "f"), (9, "z")]
    # bucket-pruned point lookup still works on the published rows
    assert [tuple(r) for r in e.catalog.lookup("bk", 6).select("id", "v").collect()] == [(6, "f")]
    # the re-stamped statement answers TIMESTAMP AS OF at its ORIGINAL
    # write time (after it, the row exists even though main's own later
    # insert happened afterward... the re-stamp is ordered AFTER main's
    # head, so at t_branch_write main had only seq 1)
    import datetime
    ts = datetime.datetime.fromtimestamp(t_branch_write).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    rows = sorted(
        tuple(r)
        for r in e.sql(
            f"SELECT id, v FROM bk TIMESTAMP AS OF '{ts}'"
        ).collect()
    )
    assert (1, "a") in rows


def test_cross_session_ddl_visibility(spark, tmp_path):
    """A LIVE session sees another session's DDL at its next statement
    boundary (r9 — spec reload gated on the spec file's mtime): branch
    and tag creation, new tables, and ADD COLUMN no longer require a
    session restart."""
    wh = str(tmp_path / "wh")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql("CREATE TABLE xs (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO xs VALUES (1, 'a')")
    e2 = EngineSession(spark=spark, warehouse=wh)
    # branch created in e1 is writable from e2 without a restart
    e1.sql("ALTER TABLE xs CREATE BRANCH dev")
    e2.sql("INSERT INTO xs$branch('dev') VALUES (2, 'b')")
    assert _rows(e1, "SELECT id, v FROM xs$branch('dev')") == [
        (1, "a"), (2, "b")]
    # a tag created in e2 resolves in e1
    e2.sql("ALTER TABLE xs CREATE TAG snap")
    assert _rows(e1, "SELECT id, v FROM xs VERSION AS OF 'snap'") == [
        (1, "a")]
    # a table created in e2 after e1 started is readable from e1
    e2.sql("CREATE TABLE late (k BIGINT NOT NULL, PRIMARY KEY (k))")
    e2.sql("INSERT INTO late VALUES (7)")
    assert _rows(e1, "SELECT k FROM late") == [(7,)]
    # schema evolution lands too
    e2.sql("ALTER TABLE xs ADD COLUMN extra BIGINT")
    e1.sql("INSERT INTO xs VALUES (3, 'c', 30)")
    assert _rows(e1, "SELECT id, v, extra FROM xs WHERE id = 3") == [
        (3, "c", 30)]


def test_cross_session_drop_visibility(spark, tmp_path):
    """A table dropped by another session detaches from live sessions
    at their next statement boundary; OPTIMIZE's dir-swap window never
    false-detaches."""
    wh = str(tmp_path / "wh")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql("CREATE TABLE gone (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO gone VALUES (1, 'a')")
    e1.sql("CREATE TABLE stays (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e1.sql("INSERT INTO stays VALUES (1, 'a')")
    e2 = EngineSession(spark=spark, warehouse=wh)
    e2.sql("DROP TABLE gone")
    # e1's next boundary detaches 'gone' but keeps 'stays'
    assert _rows(e1, "SELECT id, v FROM stays") == [(1, "a")]
    assert not e1.catalog.has_table("gone")
    with pytest.raises(Exception):
        e1.sql("SELECT * FROM gone").collect()
    # maintenance on a surviving table doesn't trip the detach
    e1.sql("OPTIMIZE stays")
    assert _rows(e2, "SELECT id, v FROM stays") == [(1, "a")]
