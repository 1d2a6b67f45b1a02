"""Incrementally-maintained materialized views (catalog/matview.py).

Hard signal: after every mixed-DML batch + REFRESH, the view equals a
full re-aggregation of the current source — including group
appearance/disappearance, key moves across groups, NULL aggregate
semantics, WHERE-boundary crossings, and the compaction-floor
full-rebuild fallback."""

import pytest

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog.matview import parse_matview_select

MV_SELECT = (
    "SELECT g, count(*) AS n, count(x) AS nx, sum(x) AS sx, avg(x) AS ax"
    " FROM src GROUP BY g"
)


def _mk(spark, tmp_path, name):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / name))
    e.sql(
        "CREATE TABLE src (id BIGINT NOT NULL, g STRING, x BIGINT,"
        " PRIMARY KEY (id))"
    )
    e.sql("INSERT INTO src VALUES (1, 'a', 10), (2, 'a', NULL), (3, 'b', 7)")
    return e


def _expect(e, where=""):
    return sorted(
        tuple(r)
        for r in e.sql(
            "SELECT g, count(*) AS n, count(x) AS nx, sum(x) AS sx,"
            f" avg(x) AS ax FROM src {where} GROUP BY g"
        ).collect()
    )


def _got(e, name="mv"):
    return sorted(tuple(r) for r in e.sql(f"SELECT * FROM {name}").collect())


# -- parser -----------------------------------------------------------------


def test_parse_matview_select():
    mv = parse_matview_select(MV_SELECT)
    assert mv["sources"][0]["name"] == "src" and mv["group_cols"] == ["g"]
    assert [a["fn"] for a in mv["aggs"]] == ["count", "count", "sum", "avg"]
    assert mv["aggs"][0]["col"] is None and mv["aggs"][1]["col"] == "x"
    assert mv["where"] is None
    mv = parse_matview_select(
        "SELECT a, b, sum(x) AS s FROM t WHERE x > 0 GROUP BY a, b"
    )
    assert mv["group_cols"] == ["a", "b"] and mv["where"] == "x > 0"


def test_parse_matview_refusals():
    mv = parse_matview_select("SELECT g, max(x) AS m FROM t GROUP BY g")
    assert mv["aggs"] == [{"fn": "max", "col": "x", "alias": "m"}]
    with pytest.raises(ValueError, match="not a valid aggregate"):
        parse_matview_select("SELECT g, min(*) AS m FROM t GROUP BY g")
    with pytest.raises(ValueError, match="unsupported select item"):
        parse_matview_select("SELECT g, x + 1 AS y FROM t GROUP BY g")
    with pytest.raises(ValueError, match="at least one aggregate"):
        parse_matview_select("SELECT g FROM t GROUP BY g")
    with pytest.raises(ValueError, match="lead with the GROUP BY"):
        parse_matview_select("SELECT count(*) AS n FROM t GROUP BY g")
    with pytest.raises(ValueError, match="duplicate"):
        parse_matview_select("SELECT g, count(*) AS g FROM t GROUP BY g")


# -- end-to-end maintenance -------------------------------------------------


def test_matview_initial_build_and_null_semantics(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mv1")
    n = e.sql(f"CREATE MATERIALIZED VIEW mv AS {MV_SELECT}").collect()[0][0]
    assert n == 2
    got = _got(e)
    assert got == _expect(e)
    # group 'a': one NULL x -> n=2, nx=1, sx=10, ax=10.0
    assert ("a", 2, 1, 10, 10.0) in got


def test_matview_incremental_mixed_dml(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mv2")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {MV_SELECT}")

    # new group + growth of existing group
    e.sql("INSERT INTO src VALUES (4, 'c', 100), (5, 'b', 3)")
    # view is STALE until refreshed
    assert ("c", 1, 1, 100, 100.0) not in _got(e)
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.full_rebuild == 0 and r.upserted == 2 and r.deleted == 0
    assert _got(e) == _expect(e)

    # key moves groups (b -> a): -U retracts from b, +U adds to a
    e.sql("UPDATE src SET g = 'a' WHERE id = 3")
    # value change within a group
    e.sql("UPDATE src SET x = 200 WHERE id = 4")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)

    # group disappears entirely (only 'c' member deleted)
    e.sql("DELETE FROM src WHERE id = 4")
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.deleted == 1
    assert _got(e) == _expect(e)
    assert not any(row[0] == "c" for row in _got(e))

    # group reappears; a NULL-x group exercises sum-over-none = NULL
    e.sql("INSERT INTO src VALUES (6, 'c', NULL)")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)
    assert ("c", 1, 0, None, None) in _got(e)

    # no-op refresh
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert tuple(r) == (0, 0, 0)


def test_matview_where_boundary(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mv3")
    e.catalog  # noqa: B018
    from fluss_datafusion_spark.catalog import matview

    matview.create_matview(
        e.catalog, "mv",
        "SELECT g, count(*) AS n, count(x) AS nx, sum(x) AS sx,"
        " avg(x) AS ax FROM src WHERE x >= 5 GROUP BY g",
    )
    assert _got(e) == _expect(e, "WHERE x >= 5")
    # id=3 (b, 7) drops below the WHERE bound: group b must vanish
    e.sql("UPDATE src SET x = 1 WHERE id = 3")
    # id=2 (a, NULL) crosses INTO the view
    e.sql("UPDATE src SET x = 50 WHERE id = 2")
    matview.refresh_matview(e.catalog, "mv")
    assert _got(e) == _expect(e, "WHERE x >= 5")
    assert not any(row[0] == "b" for row in _got(e))


def test_matview_composite_group_key(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mv4"))
    e.sql(
        "CREATE TABLE src (id BIGINT NOT NULL, g1 STRING, g2 BIGINT,"
        " x BIGINT, PRIMARY KEY (id))"
    )
    e.sql("INSERT INTO src VALUES (1,'a',1,5), (2,'a',2,6), (3,'a',1,7)")
    e.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g1, g2, sum(x) AS sx"
        " FROM src GROUP BY g1, g2"
    )
    e.sql("UPDATE src SET g2 = 2 WHERE id = 3")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    got = sorted(tuple(r) for r in e.sql("SELECT * FROM mv").collect())
    assert got == [("a", 1, 5), ("a", 2, 13)]


def test_matview_full_rebuild_after_source_compaction(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mv5")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {MV_SELECT}")
    e.sql("INSERT INTO src VALUES (7, 'd', 4)")
    e.catalog.compact("src")  # floor rises past the view's checkpoint
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.full_rebuild == 1
    assert _got(e) == _expect(e)
    # post-rebuild the checkpoint is current again: incremental resumes
    e.sql("INSERT INTO src VALUES (8, 'd', 6)")
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.full_rebuild == 0
    assert _got(e) == _expect(e)


def test_matview_refuses_log_source_and_null_groups(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mv6"))
    e.sql("CREATE TABLE logt (g STRING, x BIGINT)")
    from fluss_datafusion_spark.catalog import matview

    with pytest.raises(ValueError, match="primary-key source"):
        matview.create_matview(
            e.catalog, "mv", "SELECT g, sum(x) AS s FROM logt GROUP BY g"
        )
    e.sql(
        "CREATE TABLE pkt (id BIGINT NOT NULL, g STRING, x BIGINT,"
        " PRIMARY KEY (id))"
    )
    e.sql("INSERT INTO pkt VALUES (1, NULL, 5)")
    with pytest.raises(ValueError, match="non-null"):
        matview.create_matview(
            e.catalog, "mv", "SELECT g, sum(x) AS s FROM pkt GROUP BY g"
        )
    # the documented carve-out works
    matview.create_matview(
        e.catalog, "mv",
        "SELECT g, sum(x) AS s FROM pkt WHERE g IS NOT NULL GROUP BY g",
    )
    assert e.sql("SELECT * FROM mv").collect() == []


def test_matview_minmax_bounded_rescan(spark, tmp_path):
    """min/max maintenance: inserts fold directly; retracting the stored
    extremum triggers a per-group rescan (incl. the duplicate-extremum
    case where the rescan finds the value unchanged); other groups stay
    delta-maintained."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mv7"))
    e.sql(
        "CREATE TABLE src (id BIGINT NOT NULL, g STRING, x BIGINT,"
        " PRIMARY KEY (id))"
    )
    e.sql(
        "INSERT INTO src VALUES (1,'a',5), (2,'a',9), (3,'a',5),"
        " (4,'b',100), (5,'b',NULL)"
    )
    e.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n,"
        " min(x) AS mn, max(x) AS mx FROM src GROUP BY g"
    )

    def expect():
        return sorted(
            tuple(r) for r in e.sql(
                "SELECT g, count(*) AS n, min(x) AS mn, max(x) AS mx"
                " FROM src GROUP BY g"
            ).collect()
        )

    assert _got(e) == expect()
    assert ("a", 3, 5, 9) in _got(e)

    # insert-only: new max folds in without rescan
    e.sql("INSERT INTO src VALUES (6, 'a', 20)")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()

    # retract ONE of the duplicate minima (5): min must stay 5
    e.sql("DELETE FROM src WHERE id = 1")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()
    assert ("a", 3, 5, 20) in _got(e)

    # retract the last minimum: rescan must surface the next one (9)
    e.sql("DELETE FROM src WHERE id = 3")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()
    assert ("a", 2, 9, 20) in _got(e)

    # update that moves the maximum DOWN (retraction of 20 via -U)
    e.sql("UPDATE src SET x = 1 WHERE id = 6")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()
    assert ("a", 2, 1, 9) in _got(e)

    # all-null group: min/max NULL, then first non-null appears
    e.sql("UPDATE src SET x = NULL WHERE g = 'b'")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert ("b", 2, None, None) in _got(e)
    e.sql("UPDATE src SET x = 7 WHERE id = 5")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()
    assert ("b", 2, 7, 7) in _got(e)


def test_matview_minmax_rescan_is_bounded(spark, tmp_path):
    """The rescan recomputes ONLY flagged groups: an untouched group's
    stored row survives a refresh that rescans another group."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mv8"))
    e.sql(
        "CREATE TABLE src (id BIGINT NOT NULL, g STRING, x BIGINT,"
        " PRIMARY KEY (id))"
    )
    e.sql("INSERT INTO src VALUES (1,'a',5), (2,'a',8), (3,'b',50), (4,'b',60)")
    e.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n,"
        " min(x) AS mn FROM src GROUP BY g"
    )
    e.sql("DELETE FROM src WHERE id = 1")  # retracts a's minimum only
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    # exactly one group rewritten (the rescanned 'a'); 'b' untouched
    assert r.upserted == 1
    got = sorted(tuple(r) for r in e.sql("SELECT * FROM mv").collect())
    assert got == [("a", 1, 8), ("b", 2, 50)]


def test_matview_continuous_refresh_sink(spark, tmp_path):
    """Streaming maintenance: the refresh sink follows source commits
    and keeps the view current without manual REFRESH calls; re-running
    after more DML catches up incrementally (no full rebuild)."""
    from fluss_datafusion_spark.catalog import matview

    e = _mk(spark, tmp_path, "wh_mv9")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {MV_SELECT}")
    e.sql("INSERT INTO src VALUES (4, 'c', 100)")
    e.sql("UPDATE src SET x = 11 WHERE id = 1")

    q = matview.matview_refresh_sink(e.catalog, "mv", str(tmp_path / "ckpt9"))
    q.awaitTermination()
    assert _got(e) == _expect(e)

    e.sql("DELETE FROM src WHERE id = 4")  # kills group c
    e.sql("INSERT INTO src VALUES (5, 'b', 2)")
    q = matview.matview_refresh_sink(e.catalog, "mv", str(tmp_path / "ckpt9"))
    q.awaitTermination()
    assert _got(e) == _expect(e)
    assert not any(row[0] == "c" for row in _got(e))


def test_information_schema_materialized_views(spark, tmp_path):
    from fluss_datafusion_spark.catalog import information_schema

    e = _mk(spark, tmp_path, "wh_mv10")
    e.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, sum(x) AS sx"
        " FROM src WHERE x > 0 GROUP BY g"
    )
    information_schema.register_views(e.catalog, include_stats=False)
    rows = e.spark.sql(
        "SELECT * FROM information_schema_materialized_views"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.table_name == "mv" and r.source_table == "src"
    assert r.group_columns == "g" and "sum(x) AS sx" in r.aggregates
    assert r.where_clause == "x > 0"
    assert r.last_refresh_seq == e.catalog.current_seq("src")
    assert r.staleness_statements == 0 and r.is_fresh
    # plain tables don't appear
    assert all(row.table_name != "src" for row in rows)
    # staleness (r6): source statements past the checkpoint surface as
    # the number of statements a REFRESH would apply, then reset to 0
    e.sql("INSERT INTO src VALUES (8, 'a', 1)")
    e.sql("DELETE FROM src WHERE id = 8")
    information_schema.register_views(e.catalog, include_stats=False)
    r = e.spark.sql(
        "SELECT * FROM information_schema_materialized_views"
    ).collect()[0]
    assert r.staleness_statements == 2 and not r.is_fresh
    e.sql("REFRESH MATERIALIZED VIEW mv")
    information_schema.register_views(e.catalog, include_stats=False)
    r = e.spark.sql(
        "SELECT * FROM information_schema_materialized_views"
    ).collect()[0]
    assert r.staleness_statements == 0 and r.is_fresh


def test_matview_float_sum_kahan_compensation(spark, tmp_path):
    """Float sums carry a hidden Kahan compensation term: twenty +1.0
    inserts against a 1e16-magnitude group would each be absorbed by
    naive accumulation (ulp(1e16) = 2 — every refresh loses its delta),
    and retracting the big row afterwards would leave ~0 instead of 20.
    Compensated summation recovers both exactly."""
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mvk"))
    e.sql(
        "CREATE TABLE fsrc (id BIGINT NOT NULL, g STRING, x DOUBLE,"
        " PRIMARY KEY (id))"
    )
    e.sql("INSERT INTO fsrc VALUES (0, 'a', 1e16)")
    e.sql(
        "CREATE MATERIALIZED VIEW fmv AS"
        " SELECT g, count(*) AS n, sum(x) AS sx, avg(x) AS ax"
        " FROM fsrc GROUP BY g"
    )
    for i in range(1, 21):  # one refresh per +1.0 — worst case for drift
        e.sql(f"INSERT INTO fsrc VALUES ({i}, 'a', 1.0)")
        e.sql("REFRESH MATERIALIZED VIEW fmv")
    row = e.sql("SELECT sx FROM fmv").collect()[0]
    assert row.sx == 1e16 + 20  # exactly representable; naive gives 1e16
    e.sql("DELETE FROM fsrc WHERE id = 0")
    e.sql("REFRESH MATERIALIZED VIEW fmv")
    row = e.sql("SELECT n, sx, ax FROM fmv").collect()[0]
    assert row.n == 20 and row.sx == 20.0 and row.ax == 1.0
    # full re-aggregation agrees (the view is not drifting)
    want = e.sql("SELECT sum(x) FROM fsrc").collect()[0][0]
    assert row.sx == want


def test_concurrent_refresh_applies_window_exactly_once(spark, tmp_path):
    """REFRESH CONCURRENTLY safety (r6): two sessions refreshing one
    view must not double-apply a change window.  The loser's seq
    reservation on the view's backing table conflicts (or the
    checkpoint re-validation fails), it aborts before writing, and the
    retry sees the winner's checkpoint — a no-op."""
    from fluss_datafusion_spark import EngineSession

    wh = str(tmp_path / "wh_mv_cc")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql(
        "CREATE TABLE src (id BIGINT NOT NULL, g STRING, x BIGINT,"
        " PRIMARY KEY (id))"
    )
    e1.sql("INSERT INTO src VALUES (1, 'a', 10), (2, 'b', 7)")
    e1.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n,"
        " sum(x) AS sx FROM src GROUP BY g"
    )
    e1.sql("INSERT INTO src VALUES (3, 'a', 5)")  # the contested window

    e2 = EngineSession(spark=spark, warehouse=wh)
    cat = e1.catalog
    orig = cat._reserve_seqs
    state = {"fired": False}

    def winner_first(spec, count=1, expect_base=None):
        if not state["fired"] and spec.name == "mv":
            state["fired"] = True
            e2.sql("REFRESH MATERIALIZED VIEW mv")  # the winner lands
        return orig(spec, count, expect_base=expect_base)

    cat._reserve_seqs = winner_first
    try:
        res = e1.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    finally:
        cat._reserve_seqs = orig
    assert state["fired"], "winner refresh must have run"
    # the loser retried into a no-op: nothing double-applied
    assert (res.upserted, res.deleted, res.full_rebuild) == (0, 0, 0)
    for e in (e1, e2):
        got = sorted(tuple(r) for r in e.sql("SELECT * FROM mv").collect())
        assert got == [("a", 2, 15), ("b", 1, 7)], got


def test_streaming_refresh_vs_manual_refresh_exactly_once(spark, tmp_path):
    """r7 (VERDICT r6 item 8): the CONTINUOUS refresher goes through the
    same commit-protocol refresh as manual REFRESH — a manual refresh
    from another session landing mid-batch must not let the streaming
    batch double-apply the window.  The injected winner commits while
    the streaming refresh is reserving; the loser retries into a no-op
    and both sessions read the exactly-once state."""
    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.catalog import matview

    wh = str(tmp_path / "wh_mv_scc")
    e1 = EngineSession(spark=spark, warehouse=wh)
    e1.sql(
        "CREATE TABLE src (id BIGINT NOT NULL, g STRING, x BIGINT,"
        " PRIMARY KEY (id))"
    )
    e1.sql("INSERT INTO src VALUES (1, 'a', 10), (2, 'b', 7)")
    e1.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, count(*) AS n,"
        " sum(x) AS sx FROM src GROUP BY g"
    )
    e1.sql("INSERT INTO src VALUES (3, 'a', 5)")  # the contested window

    e2 = EngineSession(spark=spark, warehouse=wh)
    cat = e1.catalog
    orig = cat._reserve_seqs
    state = {"fired": False}

    def winner_first(spec, count=1, expect_base=None):
        if not state["fired"] and spec.name == "mv":
            state["fired"] = True
            e2.sql("REFRESH MATERIALIZED VIEW mv")  # manual winner lands
        return orig(spec, count, expect_base=expect_base)

    cat._reserve_seqs = winner_first
    try:
        q = matview.matview_refresh_sink(cat, "mv", str(tmp_path / "ckpt_scc"))
        q.awaitTermination()
    finally:
        cat._reserve_seqs = orig
    assert state["fired"], "the manual refresh must have interleaved"
    for e in (e1, e2):
        got = sorted(tuple(r) for r in e.sql("SELECT * FROM mv").collect())
        assert got == [("a", 2, 15), ("b", 1, 7)], got

    # and the streaming refresher still catches up AFTER a foreign
    # manual refresh advanced the checkpoint (no stuck/no rewind)
    e2.sql("INSERT INTO src VALUES (4, 'b', 3)")
    q = matview.matview_refresh_sink(cat, "mv", str(tmp_path / "ckpt_scc"))
    q.awaitTermination()
    got = sorted(tuple(r) for r in e1.sql("SELECT * FROM mv").collect())
    assert got == [("a", 2, 15), ("b", 2, 10)], got
