"""Materialized views of every shape maintained through the one n-source
delta fold (catalog/matview.py): alias-qualified WHERE predicates whose
string literals spell an ``alias.col`` ref, and pre-n-ary ``_mv.json``
specs (legacy ``source``/``source2``/``last_seq`` keys) that keep
loading, reporting and refreshing.  Hard signal: the view equals the
oracle re-aggregation of the current sources."""

import json

import pytest

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog import information_schema, matview

_SELECT_2 = (
    "SELECT c.region, count(*) AS n FROM fact f"
    " JOIN cust c ON f.cust_id = c.cust_id"
    " WHERE c.region = 'c.region' GROUP BY c.region"
)
_SELECT_3 = (
    "SELECT c.region, count(*) AS n FROM fact f"
    " JOIN cust c ON f.cust_id = c.cust_id"
    " JOIN prod p ON f.prod_id = p.prod_id"
    " WHERE c.region = 'c.region' GROUP BY c.region"
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
    e.sql("INSERT INTO cust VALUES (1, 'c.region'), (2, 'us')")
    e.sql("INSERT INTO prod VALUES (10, 'a'), (20, 'b')")
    e.sql(
        "INSERT INTO fact VALUES (100, 1, 10, 5), (101, 2, 10, 7),"
        " (102, 1, 20, 11)"
    )
    return e


def _rows(e, sql):
    return sorted(tuple(r) for r in e.sql(sql).collect())


def _check_literal_where(e, select_sql):
    e.sql(f"CREATE MATERIALIZED VIEW mvl AS {select_sql}")
    assert _rows(e, "SELECT * FROM mvl") == _rows(e, select_sql)
    assert _rows(e, select_sql) == [("c.region", 2)]
    e.sql("INSERT INTO fact VALUES (103, 1, 10, 1)")
    e.sql("UPDATE cust SET region = 'c.region' WHERE cust_id = 2")
    e.sql("REFRESH MATERIALIZED VIEW mvl")
    assert _rows(e, "SELECT * FROM mvl") == _rows(e, select_sql)
    assert _rows(e, select_sql) == [("c.region", 4)]


def test_two_source_where_literal_spelling_a_ref(spark, tmp_path):
    _check_literal_where(_mk(spark, tmp_path, "wh_fold2"), _SELECT_2)


def test_three_source_where_literal_spelling_a_ref(spark, tmp_path):
    _check_literal_where(_mk(spark, tmp_path, "wh_fold3"), _SELECT_3)


_SELECT_BARE = (
    "SELECT c.region, count(*) AS n, sum(f.amount) AS s FROM fact f"
    " JOIN cust c ON f.cust_id = c.cust_id"
    " WHERE amount > 5 AND C.region <> 'f.amount' GROUP BY c.region"
)


def test_two_source_where_bare_and_case_folded_refs(spark, tmp_path):
    # the WHERE names ``amount`` unqualified and ``C.region`` with the
    # alias in another case: Spark resolves both over the aliased join
    e = _mk(spark, tmp_path, "wh_bare")
    select_sql = _SELECT_BARE
    e.sql(f"CREATE MATERIALIZED VIEW mvb AS {select_sql}")
    assert _rows(e, "SELECT * FROM mvb") == _rows(e, select_sql) == [
        ("c.region", 1, 11), ("us", 1, 7)
    ]
    e.sql("INSERT INTO fact VALUES (103, 2, 10, 9), (104, 1, 20, 2)")
    e.sql("UPDATE cust SET region = 'eu' WHERE cust_id = 1")
    e.sql("REFRESH MATERIALIZED VIEW mvb")
    assert _rows(e, "SELECT * FROM mvb") == _rows(e, select_sql) == [
        ("eu", 1, 11), ("us", 2, 16)
    ]


def test_join_where_ambiguous_or_unknown_ref_is_a_value_error(
        spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_ambig")
    for where, needle in (("cust_id > 0", "ambiguous"),
                          ("f.nope > 0", "unknown column f.nope")):
        with pytest.raises(ValueError, match=needle):
            e.sql(
                "CREATE MATERIALIZED VIEW mva AS SELECT c.region,"
                " count(*) AS n FROM fact f JOIN cust c"
                f" ON f.cust_id = c.cust_id WHERE {where} GROUP BY c.region"
            )


def test_flat_expr_leaves_literals_alone():
    mv = matview.parse_matview_select(_SELECT_3)
    assert matview._flat_expr(mv, mv["where"]) == (
        "c__region = 'c.region'"
    )
    # backticked refs flatten too (they bound as written before the fold)
    expr = "`c`.`region` <> 'p.cat' OR p.cat = f.x"
    assert matview._flat_expr(mv, expr) == (
        "c__region <> 'p.cat' OR p__cat = f__x"
    )
    single = matview.parse_matview_select(
        "SELECT g, count(*) AS n FROM src WHERE g <> 'src.g' GROUP BY g"
    )
    assert matview._flat_expr(single, single["where"]) == single["where"]


def test_flat_expr_bare_refs_skip_types_functions_and_typed_literals():
    mv = matview.parse_matview_select(_SELECT_3)
    # columns named like a type, a function and a typed-literal keyword
    cols = {"f": ["amount", "date", "upper"], "c": ["region"], "p": ["cat"]}
    expr = (
        "date > DATE '2020-01-01' AND CAST(amount AS date) IS NOT NULL"
        " AND upper(region) = upper AND Region.x = 1"
    )
    assert matview._flat_expr(mv, expr, cols) == (
        "f__date > DATE '2020-01-01' AND CAST(f__amount AS date) IS NOT NULL"
        " AND upper(c__region) = f__upper AND c__region.x = 1"
    )


# -- legacy (pre-n-ary) _mv.json specs ---------------------------------------

_AGGS_1 = [
    {"fn": "count", "col": None, "alias": "n"},
    {"fn": "sum", "col": "amount", "alias": "s"},
]
_AGGS_2 = [
    {"fn": "count", "col": None, "alias": "n"},
    {"fn": "sum", "col": "f.amount", "alias": "s"},
]
_FRESH_1 = (
    "SELECT cust_id, count(*) AS n, sum(amount) AS s FROM fact"
    " GROUP BY cust_id"
)
_FRESH_2 = (
    "SELECT c.region, count(*) AS n, sum(f.amount) AS s"
    " FROM fact f JOIN cust c ON f.cust_id = c.cust_id GROUP BY c.region"
)


def _mv_row(e, name):
    information_schema.register_views(e.catalog, include_stats=False)
    return e.spark.sql(
        "SELECT * FROM information_schema_materialized_views"
        f" WHERE table_name = '{name}'"
    ).collect()[0]


def _write_legacy(e, name, spec):
    with open(matview._mv_path(e.catalog, name), "w") as fh:
        json.dump(spec, fh)


def _check_legacy(e, tmp_path, wh, name, select_sql, legacy, n_sources):
    e.sql(f"CREATE MATERIALIZED VIEW {name} AS {select_sql}")
    _write_legacy(e, name, legacy)
    e.sql("INSERT INTO fact VALUES (104, 2, 20, 3)")
    e.sql("UPDATE cust SET region = 'eu' WHERE cust_id = 2")
    # a fresh session loads the hand-written spec from disk (and has
    # not written the sources itself: staleness must count e's writes)
    e2 = EngineSession(spark=e.spark, warehouse=str(tmp_path / wh))
    mv = matview._load_mv(e2.catalog, name)
    assert len(mv["sources"]) == n_sources
    assert len(mv["last_seqs"]) == n_sources
    assert not {"source", "source2", "alias", "alias2", "join_on",
                "last_seq", "last_seq2"} & set(mv)
    r = _mv_row(e2, name)
    assert r.last_refresh_seq == legacy["last_seq"]
    stale = e.catalog.current_seq("fact") - legacy["last_seq"]
    if n_sources == 2:
        stale += e.catalog.current_seq("cust") - legacy["last_seq2"]
    assert r.staleness_statements == stale > 0 and not r.is_fresh
    e2.sql(f"REFRESH MATERIALIZED VIEW {name}")
    e2.sql(f"CREATE MATERIALIZED VIEW {name}_new AS {select_sql}")
    assert _rows(e2, f"SELECT * FROM {name}") == _rows(
        e2, f"SELECT * FROM {name}_new"
    ) == _rows(e2, select_sql)
    r = _mv_row(e2, name)
    assert r.staleness_statements == 0 and r.is_fresh
    assert r.last_refresh_seq == e.catalog.current_seq("fact")
    # the refresh rewrote the spec in the n-source form only
    with open(matview._mv_path(e2.catalog, name)) as fh:
        stored = json.load(fh)
    assert {"sources", "joins", "last_seqs"} <= set(stored)
    assert not {"source", "source2", "alias", "alias2", "join_on",
                "last_seq", "last_seq2"} & set(stored)


def test_legacy_single_source_spec_loads_and_refreshes(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_leg1")
    legacy = {
        "source": "fact",
        "alias": None,
        "where": None,
        "group_cols": ["cust_id"],
        "aggs": _AGGS_1,
        "last_seq": e.catalog.current_seq("fact"),
    }
    _check_legacy(e, tmp_path, "wh_leg1", "mv1", _FRESH_1, legacy, 1)


def test_legacy_two_source_spec_loads_and_refreshes(spark, tmp_path):
    e = _mk(spark, tmp_path, "wh_leg2")
    legacy = {
        "source": "fact",
        "alias": "f",
        "source2": "cust",
        "alias2": "c",
        "join_on": [["f.cust_id", "c.cust_id"]],
        "where": None,
        "group_cols": ["c.region"],
        "group_names": ["region"],
        "aggs": _AGGS_2,
        "float_sums": [],
        "last_seq": e.catalog.current_seq("fact"),
        "last_seq2": e.catalog.current_seq("cust"),
    }
    _check_legacy(e, tmp_path, "wh_leg2", "mv2", _FRESH_2, legacy, 2)


def test_legacy_two_source_spec_with_bare_where_refreshes(spark, tmp_path):
    # a pre-n-source spec whose WHERE names a column unqualified (the
    # two-source path bound it over the aliased join) keeps refreshing
    e = _mk(spark, tmp_path, "wh_leg2w")
    legacy = {
        "source": "fact",
        "alias": "f",
        "source2": "cust",
        "alias2": "c",
        "join_on": [["f.cust_id", "c.cust_id"]],
        "where": "amount > 4",
        "group_cols": ["c.region"],
        "group_names": ["region"],
        "aggs": _AGGS_2,
        "float_sums": [],
        "last_seq": e.catalog.current_seq("fact"),
        "last_seq2": e.catalog.current_seq("cust"),
    }
    select_sql = _FRESH_2.replace(" GROUP BY", " WHERE amount > 4 GROUP BY")
    _check_legacy(e, tmp_path, "wh_leg2w", "mv2w", select_sql, legacy, 2)
