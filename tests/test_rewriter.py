"""Parser-level golden tests, mirroring the reference's 18 inline unit
tests 1:1 (src/sql/rewriter.rs:263-402, src/sql/show.rs:191-279,
src/sql/dialect.rs:96-125).  Pure string tests — no Spark session.
"""

from fluss_datafusion_spark.sql.dialect import (
    escape_sql_string,
    extract_table_name_from_show,
    is_fluss_special_command,
    parse_qualified_name,
)
from fluss_datafusion_spark.sql.rewriter import rewrite_sql


class FakeCatalog:
    default_database = "fluss"


CTX = FakeCatalog()


def rw(sql):
    return rewrite_sql(sql, None if CTX is None else CTX)


# -- rewriter.rs tests ------------------------------------------------------


def test_rewrite_show_tables():
    result = rw("SHOW TABLES")
    assert "information_schema_tables" in result
    assert "fluss" in result

    assert "mydb" in rw("SHOW TABLES FROM mydb")
    assert "mydb" in rw("SHOW TABLES IN mydb")


def test_rewrite_show_create_table():
    result = rw("SHOW CREATE TABLE my_table")
    assert "information_schema_table_ddl" in result
    assert "fluss" in result
    assert "my_table" in result

    result = rw("SHOW CREATE TABLE mydb.my_table")
    assert "mydb" in result and "my_table" in result

    result = rw("SHOW CREATE TABLE `my-db`.`my-table`")
    assert "my-db" in result and "my-table" in result


def test_rewrite_show_partitions():
    result = rw("SHOW PARTITIONS my_table")
    assert "information_schema_partitions" in result
    assert "fluss" in result
    assert "my_table" in result
    assert "partition_id" in result
    assert "partition_qualified_name" in result
    # Filter out default partitions for non-partitioned tables
    assert "partition_id >= 0" in result


def test_rewrite_show_buckets():
    result = rw("SHOW BUCKETS my_table")
    assert "information_schema_buckets" in result
    assert "bucket_id" in result


def test_rewrite_show_options():
    result = rw("SHOW OPTIONS my_table")
    assert "information_schema_table_options" in result
    assert "option_name" in result


def test_rewrite_show_table_options():
    assert "information_schema_table_options" in rw("SHOW TABLE OPTIONS my_table")


def test_rewrite_describe():
    result = rw("DESCRIBE my_table")
    assert "information_schema_columns" in result
    assert "column_name" in result

    assert "information_schema_columns" in rw("DESCRIBE TABLE my_table")
    assert "information_schema_columns" in rw("DESC my_table")


def test_rewrite_show_tags_and_branches():
    result = rw("SHOW TAGS t")
    assert "information_schema_table_refs" in result
    assert "ref_type = 'TAG'" in result
    assert "'fluss'" in result and "'t'" in result
    assert "tag_name" in result

    result = rw("SHOW BRANCHES t")
    assert "information_schema_table_refs" in result
    assert "ref_type = 'BRANCH'" in result
    assert "branch_name" in result

    result = rw("SHOW BRANCHES FROM db.t")
    assert "information_schema_table_refs" in result
    assert "ref_type = 'BRANCH'" in result
    assert "'db'" in result and "'t'" in result


def test_show_refs_rewrite_only_engine_tables():
    """SHOW TAGS/BRANCHES rewrite only for an engine table, so an
    unknown name keeps Spark's error.  A catalog without ``has_table``
    (a plain string context such as FakeCatalog) cannot tell, and
    rewrites like every other per-table command."""

    class Engine(FakeCatalog):
        def has_table(self, name):
            return name == "fluss.t"

    assert "information_schema_table_refs" in rewrite_sql("SHOW TAGS t", Engine())
    assert rewrite_sql("SHOW TAGS u", Engine()) == "SHOW TAGS u"
    assert rewrite_sql("SHOW BRANCHES u", Engine()) == "SHOW BRANCHES u"
    assert "information_schema_table_refs" in rewrite_sql("SHOW TAGS u", None)


def test_no_rewrite_standard_sql():
    assert rw("SELECT * FROM my_table") == "SELECT * FROM my_table"
    assert rw("INSERT INTO my_table VALUES (1)") == "INSERT INTO my_table VALUES (1)"
    assert rw("CREATE TABLE my_table (id INT)") == "CREATE TABLE my_table (id INT)"


def test_parse_table_name():
    assert parse_qualified_name("my_table") == ["my_table"]
    assert parse_qualified_name("mydb.my_table") == ["mydb", "my_table"]
    assert parse_qualified_name("`my-db`.`my-table`") == ["my-db", "my-table"]
    assert parse_qualified_name("`my-db`.my_table") == ["my-db", "my_table"]
    assert parse_qualified_name("my_db.`my-table`") == ["my_db", "my-table"]


def test_escape_sql_string():
    assert escape_sql_string("hello") == "hello"
    assert escape_sql_string("it's") == "it''s"
    assert escape_sql_string("a'b'c") == "a''b''c"


# -- show.rs tests (command recognition + rendered SQL) ---------------------


def test_parse_show_tables_variants():
    assert "table_name" in rw("SHOW TABLES")
    assert "'mydb'" in rw("SHOW TABLES FROM mydb")
    assert "'mydb'" in rw("SHOW TABLES IN mydb")


def test_parse_show_databases():
    for sql in ("SHOW DATABASES", "SHOW SCHEMAS"):
        result = rw(sql)
        assert "information_schema_schemata" in result
        assert "database_name" in result


def test_parse_show_create_table_qualification():
    assert "'fluss'" in rw("SHOW CREATE TABLE my_table")
    assert "'mydb'" in rw("SHOW CREATE TABLE mydb.my_table")


def test_parse_show_partitions_qualification():
    result = rw("SHOW PARTITIONS my_table")
    assert "'fluss'" in result and "'my_table'" in result


def test_command_to_sql():
    assert "information_schema_tables" in rw("SHOW TABLES")
    sql = rw("SHOW PARTITIONS some_table")
    assert "information_schema_partitions" in sql
    assert "partition_qualified_name" in sql
    assert "partition_id >= 0" in sql  # only show real partitions


def test_not_show_command():
    assert rw("SELECT * FROM t") == "SELECT * FROM t"
    assert rw("INSERT INTO t VALUES (1)") == "INSERT INTO t VALUES (1)"


# -- dialect.rs tests -------------------------------------------------------


def test_is_fluss_special_command():
    assert is_fluss_special_command("SHOW PARTITIONS my_table")
    assert is_fluss_special_command("show partitions my_table")
    assert is_fluss_special_command("SHOW BUCKETS my_table")
    assert is_fluss_special_command("DESCRIBE TABLE my_table")
    assert not is_fluss_special_command("SELECT * FROM my_table")
    assert not is_fluss_special_command("SHOW TABLES")


def test_extract_table_name():
    assert extract_table_name_from_show("SHOW PARTITIONS my_table") == "my_table"
    assert (
        extract_table_name_from_show("show partitions `my-db`.`my-table`;")
        == "`my-db`.`my-table`"
    )
    assert extract_table_name_from_show("DESCRIBE TABLE my_table") == "my_table"


def test_show_stats_rewrite():
    from fluss_datafusion_spark.sql.rewriter import rewrite_sql

    out = rewrite_sql("SHOW STATS FOR db1.t1")
    assert "information_schema_column_stats" in out
    assert "table_schema = 'db1'" in out and "table_name = 't1'" in out
    assert rewrite_sql("SHOW STATS t1") == rewrite_sql("SHOW STATS FOR t1")


def test_explain_runs_the_engine_rewrite_chain(spark, tmp_path):
    """EXPLAIN (r6) resolves through the SAME rewrites as execution —
    time travel, system tables, QUALIFY — so the inspected plan is the
    executed plan."""
    from fluss_datafusion_spark import EngineSession

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_explain"))
    e.sql("CREATE TABLE t (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))")
    e.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    e.sql("INSERT INTO t VALUES (1, 'a2')")
    plan = e.sql("EXPLAIN SELECT * FROM t VERSION AS OF 1").collect()[0][0]
    assert "Physical Plan" in plan and "__rn__" in plan
    plan = e.sql(
        "EXPLAIN SELECT id, v, row_number() OVER (ORDER BY id) AS rn"
        " FROM t QUALIFY rn = 1"
    ).collect()[0][0]
    assert "Window" in plan or "window" in plan
    plan = e.sql("EXPLAIN FORMATTED SELECT id FROM t$history").collect()[0][0]
    assert "Physical Plan" in plan
