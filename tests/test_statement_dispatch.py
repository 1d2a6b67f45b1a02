"""One statement path through ``EngineSession.sql``.

- SHOW TAGS / SHOW BRANCHES are string rewrites onto
  ``information_schema.table_refs`` (sql/rewriter.py), and every
  information_schema view reads each spec through ``get_table``, so a
  live session answers from another session's DDL, not a cached spec.
- Branch DML (``t$branch('b')``) strips the suffix and runs the main
  DML handlers with ``branch=``; a branch statement no handler parses
  raises ValueError instead of reaching Spark with the MAIN table name.
- EXPLAIN is matched once, for the fast paths and for Catalyst.
"""

import pytest
from pyspark.errors import AnalysisException

from fluss_datafusion_spark import EngineSession


def _rows(e, sql):
    return sorted(tuple(r) for r in e.sql(sql).collect())


def test_information_schema_sees_another_live_sessions_ddl(spark, tmp_path):
    wh = str(tmp_path / "wh")
    a = EngineSession(spark=spark, warehouse=wh)
    a.sql("CREATE TABLE tt (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    a.sql("INSERT INTO tt VALUES (1, 'a')")
    a.sql("ALTER TABLE tt CREATE TAG v1")
    c = EngineSession(spark=spark, warehouse=wh)
    # C has loaded and answered from the spec before A's DDL below
    assert [r.tag_name for r in c.sql("SHOW TAGS tt").collect()] == ["v1"]
    assert [r.column_name for r in c.sql("DESCRIBE tt").collect()] == [
        "id", "v"]

    a.sql("ALTER TABLE tt CREATE TAG v2")
    a.sql("ALTER TABLE tt CREATE BRANCH dev")
    a.sql("ALTER TABLE tt ADD COLUMN w BIGINT")

    refs = _rows(
        c,
        "SELECT ref_name, ref_type FROM information_schema.table_refs"
        " WHERE table_name = 'tt'",
    )
    assert refs == [("dev", "BRANCH"), ("v1", "TAG"), ("v2", "TAG")]
    assert [r.tag_name for r in c.sql("SHOW TAGS tt").collect()] == [
        "v1", "v2"]
    assert [
        (r.branch_name, r.fork_seq, r.head_seq, r.readable)
        for r in c.sql("SHOW BRANCHES tt").collect()
    ] == [("dev", 1, 1, True)]
    assert [r.column_name for r in c.sql("DESCRIBE tt").collect()] == [
        "id", "v", "w"]
    assert c.sql("SELECT * FROM tt").columns == ["id", "v", "w"]


def test_show_tags_and_branches_columns_and_spellings(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE rt (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO rt VALUES (1, 'a')")
    e.sql("ALTER TABLE rt CREATE TAG b-tag")
    e.sql("ALTER TABLE rt CREATE TAG a-tag")
    e.sql("ALTER TABLE rt CREATE BRANCH dev")
    e.sql("INSERT INTO rt$branch('dev') VALUES (2, 'b')")
    tags = e.sql("SHOW TAGS rt")
    assert tags.schema.simpleString() == (
        "struct<tag_name:string,seq:bigint,created_at:string,"
        "time_travelable:boolean>"
    )
    assert [(r.tag_name, r.seq, r.time_travelable) for r in tags.collect()] == [
        ("a-tag", 1, True), ("b-tag", 1, True)]
    branches = e.sql("SHOW BRANCHES IN fluss.rt")
    assert branches.schema.simpleString() == (
        "struct<branch_name:string,fork_seq:bigint,head_seq:bigint,"
        "created_at:string,readable:boolean>"
    )
    assert [tuple(r)[:3] + (r.readable,) for r in branches.collect()] == [
        ("dev", 1, 2, True)]
    assert [r.tag_name for r in e.sql("SHOW TAGS FROM rt").collect()] == [
        "a-tag", "b-tag"]
    # not an engine table: no rewrite, Spark's own error
    with pytest.raises(AnalysisException):
        e.sql("SHOW TAGS no_such_table").collect()
    with pytest.raises(AnalysisException):
        e.sql("SHOW BRANCHES no_such_table").collect()


@pytest.fixture()
def branched(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE bt (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO bt VALUES (1, 'a'), (2, 'b')")
    e.sql("ALTER TABLE bt CREATE BRANCH dev")
    return e


@pytest.mark.parametrize("stmt,match", [
    ("DELETE FROM bt$branch('dev')", "requires a WHERE clause"),
    ("UPDATE bt$branch('dev') v = 'x' WHERE id = 1",
     "cannot parse branch UPDATE"),
    ("MERGE INTO bt$branch('dev') USING src", "cannot parse MERGE"),
])
def test_unparsable_branch_dml_is_a_value_error(branched, stmt, match):
    e = branched
    with pytest.raises(ValueError, match=match):
        e.sql(stmt)
    # nothing was written to either side
    assert _rows(e, "SELECT id, v FROM bt") == [(1, "a"), (2, "b")]
    assert _rows(e, "SELECT id, v FROM bt$branch('dev')") == [
        (1, "a"), (2, "b")]


def test_explain_is_matched_once_for_fast_path_and_catalyst(branched):
    e = branched
    # a point lookup: the fast path answers the EXPLAIN, mode and all
    plan = e.sql("EXPLAIN EXTENDED SELECT * FROM bt WHERE id = 1").collect()[0][0]
    assert "primary-key point lookup" in plan
    # not a point lookup: Catalyst explains the rewritten statement
    plan = e.sql(
        "EXPLAIN EXTENDED SELECT * FROM bt$branch('dev') WHERE id > 1"
    ).collect()[0][0]
    assert "primary-key point lookup" not in plan
    assert "== Parsed Logical Plan ==" in plan
