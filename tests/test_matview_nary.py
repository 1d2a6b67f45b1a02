"""n-ary (3+ table) incrementally-maintained join materialized views
(catalog/matview.py — VERDICT r5 #5): the two-relation join delta rule
folded pairwise over a star schema (fact + 2 dims).  Hard signal: after
every mixed-DML batch + REFRESH, the view equals a full re-aggregation
of the current sources."""

import pytest

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog.matview import parse_matview_select

MV3 = (
    "SELECT c.region, p.cat, count(*) AS n, sum(f.amount) AS amt"
    " FROM fact f JOIN cust c ON f.cust_id = c.cust_id"
    " JOIN prod p ON f.prod_id = p.prod_id"
    " GROUP BY c.region, p.cat"
)


def _mk(spark, tmp_path, name):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / name))
    e.sql(
        "CREATE TABLE fact (fid BIGINT NOT NULL, cust_id BIGINT,"
        " prod_id BIGINT, amount BIGINT, PRIMARY KEY (fid))"
    )
    e.sql(
        "CREATE TABLE cust (cust_id BIGINT NOT NULL, region STRING,"
        " PRIMARY KEY (cust_id))"
    )
    e.sql(
        "CREATE TABLE prod (prod_id BIGINT NOT NULL, cat STRING,"
        " PRIMARY KEY (prod_id))"
    )
    e.sql("INSERT INTO cust VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    e.sql("INSERT INTO prod VALUES (10, 'a'), (20, 'b')")
    e.sql(
        "INSERT INTO fact VALUES (100, 1, 10, 5), (101, 2, 10, 7),"
        " (102, 3, 20, 11), (103, 1, 20, 13)"
    )
    return e


def _expect(e):
    return sorted(
        tuple(r)
        for r in e.sql(
            "SELECT c.region, p.cat, count(*) AS n, sum(f.amount) AS amt"
            " FROM fact f JOIN cust c ON f.cust_id = c.cust_id"
            " JOIN prod p ON f.prod_id = p.prod_id"
            " GROUP BY c.region, p.cat"
        ).collect()
    )


def _got(e):
    return sorted(tuple(r) for r in e.sql("SELECT * FROM mv3").collect())


def test_parse_three_table_join():
    mv = parse_matview_select(MV3)
    assert [s["name"] for s in mv["sources"]] == ["fact", "cust", "prod"]
    assert [s["alias"] for s in mv["sources"]] == ["f", "c", "p"]
    assert mv["joins"] == [
        [["f.cust_id", "c.cust_id"]],
        [["f.prod_id", "p.prod_id"]],
    ]
    assert mv["sources"][0]["name"] == "fact"
    assert mv["sources"][1]["name"] == "cust"
    # a later join may reference ANY earlier alias
    mv = parse_matview_select(
        "SELECT a.g, sum(cc.x) AS s FROM t a JOIN u b ON a.k = b.k"
        " JOIN v cc ON b.j = cc.j AND a.m = cc.m GROUP BY a.g"
    )
    assert mv["joins"][1] == [["b.j", "cc.j"], ["a.m", "cc.m"]]
    with pytest.raises(ValueError, match="distinct aliases"):
        parse_matview_select(
            "SELECT a.g, sum(a.x) AS s FROM t a JOIN u a ON a.k = a.k"
            " GROUP BY a.g"
        )
    with pytest.raises(ValueError, match="earlier alias"):
        parse_matview_select(
            "SELECT a.g, sum(a.x) AS s FROM t a JOIN u b ON a.k = b.k"
            " JOIN v c ON c.j = d.j GROUP BY a.g"
        )


def test_nary_initial_build(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_n1")
    n = e.sql(f"CREATE MATERIALIZED VIEW mv3 AS {MV3}").collect()[0][0]
    assert n == 3  # (eu,a) (us,a) (eu,b)
    assert _got(e) == _expect(e)


def test_nary_incremental_fact_and_dim_dml(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_n2")
    e.sql(f"CREATE MATERIALIZED VIEW mv3 AS {MV3}")

    # fact inserts + update
    e.sql("INSERT INTO fact VALUES (104, 2, 20, 17)")
    e.sql("UPDATE fact SET amount = 6 WHERE fid = 100")
    res = e.sql("REFRESH MATERIALIZED VIEW mv3").collect()[0]
    assert res.full_rebuild == 0
    assert _got(e) == _expect(e)

    # dim update re-attributes every joined fact row (cust 1: eu -> ap)
    e.sql("UPDATE cust SET region = 'ap' WHERE cust_id = 1")
    res = e.sql("REFRESH MATERIALIZED VIEW mv3").collect()[0]
    assert res.full_rebuild == 0
    assert _got(e) == _expect(e)
    regions = {r[0] for r in _got(e)}
    assert "ap" in regions

    # second dim churn + fact delete in ONE window (all three sources
    # changed: every fold term fires, incl. both-delta corrections)
    e.sql("UPDATE prod SET cat = 'c' WHERE prod_id = 10")
    e.sql("DELETE FROM fact WHERE fid = 102")
    e.sql("INSERT INTO fact VALUES (105, 3, 10, 19)")
    res = e.sql("REFRESH MATERIALIZED VIEW mv3").collect()[0]
    assert res.full_rebuild == 0
    assert _got(e) == _expect(e)

    # group death: remove the last (eu, b) fact rows
    e.sql("DELETE FROM fact WHERE prod_id = 20 AND cust_id = 3")
    e.sql("REFRESH MATERIALIZED VIEW mv3")
    assert _got(e) == _expect(e)


def test_nary_dim_key_move_and_noop_refresh(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_n3")
    e.sql(f"CREATE MATERIALIZED VIEW mv3 AS {MV3}")
    # no-op refresh touches nothing
    res = e.sql("REFRESH MATERIALIZED VIEW mv3").collect()[0]
    assert (res.upserted, res.deleted, res.full_rebuild) == (0, 0, 0)
    # a dim row vanishing drops its facts from the join (inner join)
    e.sql("DELETE FROM prod WHERE prod_id = 20")
    e.sql("REFRESH MATERIALIZED VIEW mv3")
    assert _got(e) == _expect(e)
    cats = {r[1] for r in _got(e)}
    assert cats == {"a"}


def test_nary_compaction_falls_back_to_full_rebuild(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_n4")
    e.sql(f"CREATE MATERIALIZED VIEW mv3 AS {MV3}")
    e.sql("INSERT INTO fact VALUES (104, 2, 20, 17)")
    # a dim WRITE whose change window is then compacted away — the
    # bounded CDC read refuses and the refresh must fall back
    e.sql("UPDATE cust SET region = 'ap' WHERE cust_id = 1")
    e.sql("COMPACT TABLE cust")
    res = e.sql("REFRESH MATERIALIZED VIEW mv3").collect()[0]
    assert res.full_rebuild == 1
    assert _got(e) == _expect(e)
    # and incremental maintenance resumes afterwards
    e.sql("INSERT INTO fact VALUES (106, 1, 10, 23)")
    res = e.sql("REFRESH MATERIALIZED VIEW mv3").collect()[0]
    assert res.full_rebuild == 0
    assert _got(e) == _expect(e)


def test_nary_where_and_avg_and_minmax(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_n5")
    sql = (
        "SELECT c.region, count(*) AS n, avg(f.amount) AS aamt,"
        " max(f.amount) AS mamt"
        " FROM fact f JOIN cust c ON f.cust_id = c.cust_id"
        " JOIN prod p ON f.prod_id = p.prod_id"
        " WHERE f.amount > 5 GROUP BY c.region"
    )
    e.sql(f"CREATE MATERIALIZED VIEW mvw AS {sql}")

    def expect():
        return sorted(
            tuple(r)
            for r in e.sql(
                "SELECT c.region, count(*) AS n, avg(f.amount) AS aamt,"
                " max(f.amount) AS mamt"
                " FROM fact f JOIN cust c ON f.cust_id = c.cust_id"
                " JOIN prod p ON f.prod_id = p.prod_id"
                " WHERE f.amount > 5 GROUP BY c.region"
            ).collect()
        )

    def got():
        return sorted(tuple(r) for r in e.sql("SELECT * FROM mvw").collect())

    assert got() == expect()
    # retraction AT the stored max triggers the bounded rescan path
    e.sql("DELETE FROM fact WHERE fid = 103")  # eu's max (13)
    e.sql("INSERT INTO fact VALUES (107, 2, 10, 2)")  # filtered by WHERE
    e.sql("REFRESH MATERIALIZED VIEW mvw")
    assert got() == expect()
    # WHERE-boundary crossing via UPDATE (5 -> 9 enters the view)
    e.sql("UPDATE fact SET amount = 9 WHERE fid = 100")
    e.sql("REFRESH MATERIALIZED VIEW mvw")
    assert got() == expect()
