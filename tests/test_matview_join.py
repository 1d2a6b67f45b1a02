"""Incrementally-maintained materialized views over a two-table
equi-join (catalog/matview.py — the δ(A⋈B) = δA⋈B₁ + A₁⋈δB − δA⋈δB
delta rule with sign products).

Hard signal: after every mixed-DML batch touching either or BOTH
sides + REFRESH, the view equals a full re-aggregation of the current
join — including dim-attribute updates that re-attribute every joined
fact row, dim deletes that remove fact rows from the view, fact/dim
changes landing in the same refresh window (the δA⋈δB correction
term), min/max bounded rescans through the join, and the
compaction-floor full-rebuild fallback."""

import pytest

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog import matview
from fluss_datafusion_spark.catalog.matview import parse_matview_select

JOIN_SELECT = (
    "SELECT d.region, count(*) AS n, count(f.amt) AS nx,"
    " sum(f.amt) AS sx, avg(f.amt) AS ax"
    " FROM fact f JOIN dim d ON f.dk = d.k GROUP BY d.region"
)


def _mk(spark, tmp_path, name):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / name))
    e.sql(
        "CREATE TABLE fact (id BIGINT NOT NULL, dk BIGINT, amt BIGINT,"
        " PRIMARY KEY (id))"
    )
    e.sql(
        "CREATE TABLE dim (k BIGINT NOT NULL, region STRING,"
        " PRIMARY KEY (k))"
    )
    e.sql("INSERT INTO dim VALUES (1, 'east'), (2, 'west'), (3, 'east')")
    e.sql(
        "INSERT INTO fact VALUES (10, 1, 100), (11, 1, NULL),"
        " (12, 2, 7), (13, 3, 40), (14, 9, 999)"  # 14 dangles (no dim)
    )
    return e


def _expect(e, extra_aggs=""):
    return sorted(
        tuple(r)
        for r in e.sql(
            "SELECT d.region, count(*) AS n, count(f.amt) AS nx,"
            f" sum(f.amt) AS sx, avg(f.amt) AS ax{extra_aggs}"
            " FROM fact f JOIN dim d ON f.dk = d.k GROUP BY d.region"
        ).collect()
    )


def _got(e, name="mv"):
    return sorted(tuple(r) for r in e.sql(f"SELECT * FROM {name}").collect())


def test_parse_join_select():
    mv = parse_matview_select(JOIN_SELECT)
    assert mv["sources"][0]["name"] == "fact"
    assert mv["sources"][1]["name"] == "dim"
    assert mv["sources"][0]["alias"] == "f"
    assert mv["sources"][1]["alias"] == "d"
    assert mv["joins"][0] == [["f.dk", "d.k"]]
    assert mv["group_cols"] == ["d.region"]
    assert mv["group_names"] == ["region"]
    assert mv["aggs"][3]["col"] == "f.amt"
    # alias defaults to the table name; ON sides normalize left=first
    mv = parse_matview_select(
        "SELECT dim.region, count(*) AS n FROM fact JOIN dim"
        " ON dim.k = fact.dk GROUP BY dim.region"
    )
    assert mv["sources"][0]["alias"] == "fact"
    assert mv["sources"][1]["alias"] == "dim"
    assert mv["joins"][0] == [["fact.dk", "dim.k"]]


def test_join_matview_initial_build(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mvj1")
    n = e.sql(f"CREATE MATERIALIZED VIEW mv AS {JOIN_SELECT}").collect()[0][0]
    assert n == 2  # east, west; the dangling fact row joins nothing
    got = _got(e)
    assert got == _expect(e)
    assert ("east", 3, 2, 140, 70.0) in got


def test_join_matview_fact_side_dml(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mvj2")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {JOIN_SELECT}")

    # fact insert into existing group + a new dangling row (no effect)
    e.sql("INSERT INTO fact VALUES (15, 2, 50), (16, 8, 1)")
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.full_rebuild == 0
    assert _got(e) == _expect(e)

    # fact row moves to a dim key in another group
    e.sql("UPDATE fact SET dk = 2 WHERE id = 10")
    # value change
    e.sql("UPDATE fact SET amt = 123 WHERE id = 13")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)

    # deleting every west-joined fact row kills the group
    e.sql("DELETE FROM fact WHERE dk = 2")
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.deleted == 1
    assert _got(e) == _expect(e)
    assert not any(row[0] == "west" for row in _got(e))


def test_join_matview_dim_side_dml(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mvj3")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {JOIN_SELECT}")

    # dim attribute update re-attributes EVERY joined fact row
    # (the multiplicity case: one dim change, many view-row deltas)
    e.sql("UPDATE dim SET region = 'west' WHERE k = 1")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)
    assert ("west", 3, 2, 107, 53.5) in _got(e)

    # dim delete: its fact rows leave the view entirely
    e.sql("DELETE FROM dim WHERE k = 3")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)
    assert not any(row[0] == "east" for row in _got(e))

    # new dim key adopts the previously-dangling fact row
    e.sql("INSERT INTO dim VALUES (9, 'north')")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)
    assert ("north", 1, 1, 999, 999.0) in _got(e)


def test_join_matview_both_sides_one_window(spark, tmp_path):
    """Fact and dim change in the SAME refresh window — the δA⋈δB
    correction term: without it a new fact row matching a new dim row
    would be double-counted (once by δA⋈B₁, once by A₁⋈δB)."""
    e = _mk(spark, tmp_path, "wh_mvj4")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {JOIN_SELECT}")

    e.sql("INSERT INTO dim VALUES (4, 'south')")
    e.sql("INSERT INTO fact VALUES (20, 4, 11), (21, 4, 22)")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)
    assert ("south", 2, 2, 33, 16.5) in _got(e)

    # simultaneous retractions both sides: dim 4 dies while one of its
    # fact rows is also deleted
    e.sql("DELETE FROM fact WHERE id = 20")
    e.sql("DELETE FROM dim WHERE k = 4")
    e.sql("UPDATE dim SET region = 'mid' WHERE k = 2")
    e.sql("UPDATE fact SET amt = 8 WHERE id = 12")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == _expect(e)
    assert not any(row[0] == "south" for row in _got(e))
    assert ("mid", 1, 1, 8, 8.0) in _got(e)


def test_join_matview_minmax_bounded_rescan(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mvj5")
    sel = (
        "SELECT d.region, count(*) AS n, min(f.amt) AS mn, max(f.amt) AS mx"
        " FROM fact f JOIN dim d ON f.dk = d.k GROUP BY d.region"
    )
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {sel}")

    def expect():
        return sorted(
            tuple(r)
            for r in e.sql(
                "SELECT d.region, count(*) AS n, min(f.amt) AS mn,"
                " max(f.amt) AS mx FROM fact f JOIN dim d ON f.dk = d.k"
                " GROUP BY d.region"
            ).collect()
        )

    # retract the stored max of 'east' (fact row 10, amt=100) — a
    # rescan through the JOIN recomputes the group
    e.sql("DELETE FROM fact WHERE id = 10")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()
    assert ("east", 2, 40, 40) in _got(e)

    # retract an extremum via the DIM side: deleting dim key 3 removes
    # amt=40, leaving only the NULL-amt row in 'east'
    e.sql("DELETE FROM dim WHERE k = 3")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()
    assert ("east", 1, None, None) in _got(e)


def test_join_matview_where_and_full_rebuild(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mvj6")
    sel = (
        "SELECT d.region, count(*) AS n, sum(f.amt) AS sx"
        " FROM fact f JOIN dim d ON f.dk = d.k"
        " WHERE f.amt >= 10 GROUP BY d.region"
    )
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {sel}")

    def expect():
        return sorted(
            tuple(r)
            for r in e.sql(
                "SELECT d.region, count(*) AS n, sum(f.amt) AS sx"
                " FROM fact f JOIN dim d ON f.dk = d.k"
                " WHERE f.amt >= 10 GROUP BY d.region"
            ).collect()
        )

    # an update crossing the WHERE boundary retracts the old image only
    e.sql("UPDATE fact SET amt = 3 WHERE id = 13")  # 40 -> 3: leaves view
    e.sql("UPDATE fact SET amt = 90 WHERE id = 12")  # 7 -> 90: enters view
    e.sql("REFRESH MATERIALIZED VIEW mv")
    assert _got(e) == expect()

    # compaction of the DIM side past the checkpoint forces the
    # full-rebuild fallback
    e.sql("INSERT INTO dim VALUES (5, 'south')")
    e.sql("INSERT INTO fact VALUES (30, 5, 77)")
    e.catalog.compact("dim")
    r = e.sql("REFRESH MATERIALIZED VIEW mv").collect()[0]
    assert r.full_rebuild == 1
    assert _got(e) == expect()
    assert ("south", 1, 77) in _got(e)


def test_join_matview_composite_join_key(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mvj7"))
    e.sql(
        "CREATE TABLE f2 (id BIGINT NOT NULL, k1 BIGINT, k2 STRING,"
        " x BIGINT, PRIMARY KEY (id))"
    )
    e.sql(
        "CREATE TABLE d2 (k1 BIGINT NOT NULL, k2 STRING NOT NULL,"
        " g STRING, PRIMARY KEY (k1, k2))"
    )
    e.sql("INSERT INTO d2 VALUES (1, 'a', 'g1'), (1, 'b', 'g2')")
    e.sql(
        "INSERT INTO f2 VALUES (1, 1, 'a', 10), (2, 1, 'b', 20),"
        " (3, 1, 'a', 30), (4, 2, 'a', 99)"
    )
    e.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT d.g, count(*) AS n,"
        " sum(f.x) AS sx FROM f2 f JOIN d2 d"
        " ON f.k1 = d.k1 AND f.k2 = d.k2 GROUP BY d.g"
    )
    e.sql("UPDATE f2 SET k2 = 'b' WHERE id = 3")
    e.sql("DELETE FROM d2 WHERE k2 = 'a'")
    e.sql("INSERT INTO d2 VALUES (2, 'a', 'g3')")
    e.sql("REFRESH MATERIALIZED VIEW mv")
    got = _got(e)
    assert got == sorted(
        tuple(r)
        for r in e.sql(
            "SELECT d.g, count(*) AS n, sum(f.x) AS sx FROM f2 f JOIN d2 d"
            " ON f.k1 = d.k1 AND f.k2 = d.k2 GROUP BY d.g"
        ).collect()
    )
    assert ("g2", 2, 50) in got and ("g3", 1, 99) in got


def test_join_matview_continuous_sink_follows_both_sources(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_mvj8")
    e.sql(f"CREATE MATERIALIZED VIEW mv AS {JOIN_SELECT}")
    ckpt = str(tmp_path / "mvj8_ckpt")

    e.sql("INSERT INTO fact VALUES (15, 2, 50)")
    matview.matview_refresh_sink(e.catalog, "mv", ckpt).awaitTermination()
    assert _got(e) == _expect(e)

    # a DIM-side commit alone must also trigger maintenance
    e.sql("UPDATE dim SET region = 'west' WHERE k = 3")
    matview.matview_refresh_sink(e.catalog, "mv", ckpt).awaitTermination()
    assert _got(e) == _expect(e)


def test_join_matview_refuses_log_source(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_mvj9"))
    e.sql("CREATE TABLE fpk (id BIGINT NOT NULL, dk BIGINT, PRIMARY KEY (id))")
    e.sql("CREATE TABLE dlog (k BIGINT, g STRING)")  # no PK: log table
    with pytest.raises(ValueError, match="log table"):
        e.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT d.g, count(*) AS n"
            " FROM fpk f JOIN dlog d ON f.dk = d.k GROUP BY d.g"
        )
    with pytest.raises(ValueError, match="unknown source columns"):
        e.sql("CREATE TABLE dpk (k BIGINT NOT NULL, g STRING, PRIMARY KEY (k))")
        e.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT d.g, count(*) AS n,"
            " sum(f.nope) AS s FROM fpk f JOIN dpk d ON f.dk = d.k"
            " GROUP BY d.g"
        )
