"""RMW driver-local append fast path (r12 fd7409e, tested r13):
UPDATE / predicate-DELETE / MERGE deltas at or under _LOCAL_ROW_CAP are
collected once and written as ONE driver-side pyarrow file.  These
tests pin (a) state parity with the distributed writer, (b) the cap
boundary and fallback past it, (c) branch variants, (d) the
CHECK-constraint bypass gate, and (e) GENERATED ALWAYS AS columns being
computed on the MERGE fused local path (ADVICE r12 high: the direct
call site bypassed _apply_generated and persisted stale values)."""

import os
import random

import pytest

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.catalog import catalog as cat_mod
from fluss_datafusion_spark.catalog.catalog import FlussCatalog


@pytest.fixture()
def engine(spark, tmp_path):
    return EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))


def _local_files(e, name):
    tp = e.catalog.table_path(e.catalog.get_table(name))
    out = []
    for root, _dirs, files in os.walk(tp):
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and "-local" in f
        ]
    return out


def _disable_rmw_local(monkeypatch):
    # disable the driver-local seam so the comparison engine is pure
    # distributed writes (literal INSERTs included)
    monkeypatch.setattr(
        FlussCatalog, "_try_local_write", lambda self, *a, **k: None
    )


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_update_delete_where_parity(engine, monkeypatch, spark, tmp_path):
    """The same UPDATE / DELETE-WHERE sequence through the collect-local
    writer and the distributed writer yields identical state, time
    travel, and changelog."""
    stmts = [
        "CREATE TABLE rt (k BIGINT NOT NULL, g STRING, x DOUBLE,"
        " PRIMARY KEY (k))",
        "INSERT INTO rt VALUES (1, 'a', 1.0), (2, 'b', 2.5), (3, 'a', 3.0),"
        " (4, 'c', NULL)",
        "UPDATE rt SET x = x * 10 WHERE g = 'a'",
        "DELETE FROM rt WHERE x > 20",
        "UPDATE rt SET g = 'z' WHERE x IS NULL",
    ]
    e1 = engine
    for s in stmts:
        e1.sql(s)
    assert len(_local_files(e1, "rt")) > 0, "collect-local path never engaged"

    _disable_rmw_local(monkeypatch)
    e2 = EngineSession(spark=spark, warehouse=str(tmp_path / "wh2"))
    for s in stmts:
        e2.sql(s)
    assert _local_files(e2, "rt") == []

    assert _canon(e1.sql("SELECT * FROM rt")) == _canon(
        e2.sql("SELECT * FROM rt"))
    for seq in (1, 2, 3, 4):
        assert _canon(
            e1.sql(f"SELECT * FROM rt VERSION AS OF {seq}")
        ) == _canon(e2.sql(f"SELECT * FROM rt VERSION AS OF {seq}"))
    ch1 = _canon(e1.catalog.read_changes("rt", 1, 4).select(
        "k", "g", "x", "op"))
    ch2 = _canon(e2.catalog.read_changes("rt", 1, 4).select(
        "k", "g", "x", "op"))
    assert ch1 == ch2


def test_merge_parity_with_distributed(engine, monkeypatch, spark, tmp_path):
    """MERGE with update + delete + insert branches: fused local path
    state/count parity with the distributed Observation path."""
    setup = [
        "CREATE TABLE mt (id BIGINT NOT NULL, price DOUBLE, qty BIGINT,"
        " PRIMARY KEY (id))",
        "INSERT INTO mt VALUES (1, 10.0, 5), (2, 20.0, 0), (3, 30.0, 7)",
        "CREATE TABLE ms_src (id BIGINT NOT NULL, price DOUBLE,"
        " qty BIGINT, PRIMARY KEY (id))",
        "INSERT INTO ms_src VALUES (1, 11.0, 5), (2, 21.0, 0), (4, 40.0, 1)",
    ]
    merge = (
        "MERGE INTO mt AS t USING (SELECT * FROM ms_src) AS s ON t.id = s.id"
        " WHEN MATCHED AND s.qty = 0 THEN DELETE"
        " WHEN MATCHED THEN UPDATE SET price = s.price"
        " WHEN NOT MATCHED THEN INSERT (id, price, qty)"
        " VALUES (s.id, s.price, s.qty)"
    )
    e1 = engine
    for s in setup:
        e1.sql(s)
    r1 = e1.sql(merge).collect()[0]
    assert (r1.upserted, r1.deleted) == (2, 1)
    assert len(_local_files(e1, "mt")) > 0, "MERGE local path never engaged"

    _disable_rmw_local(monkeypatch)
    e2 = EngineSession(spark=spark, warehouse=str(tmp_path / "wh2"))
    for s in setup:
        e2.sql(s)
    r2 = e2.sql(merge).collect()[0]
    assert (r2.upserted, r2.deleted) == (r1.upserted, r1.deleted)
    assert _canon(e1.sql("SELECT * FROM mt")) == _canon(
        e2.sql("SELECT * FROM mt"))
    ch1 = _canon(e1.catalog.read_changes("mt", 1, 2).select(
        "id", "price", "qty", "op"))
    ch2 = _canon(e2.catalog.read_changes("mt", 1, 2).select(
        "id", "price", "qty", "op"))
    assert ch1 == ch2


def test_merge_local_applies_generated_columns(engine):
    """ADVICE r12 (high): MERGE's fused local write must recompute
    GENERATED ALWAYS AS columns — updates must not persist stale derived
    values, inserts must not persist NULLs."""
    e = engine
    e.sql("CREATE TABLE gt (id BIGINT NOT NULL, v BIGINT,"
          " v2 BIGINT GENERATED ALWAYS AS (v * 2), PRIMARY KEY (id))")
    e.sql("INSERT INTO gt VALUES (1, 7), (2, 9)")
    assert {(r.id, r.v, r.v2) for r in e.sql("SELECT * FROM gt").collect()} \
        == {(1, 7, 14), (2, 9, 18)}
    e.sql(
        "MERGE INTO gt AS t USING"
        " (SELECT 1 AS id, CAST(50 AS BIGINT) AS v"
        "  UNION ALL SELECT 2, NULL"
        "  UNION ALL SELECT 3, CAST(6 AS BIGINT)) AS s"
        " ON t.id = s.id"
        " WHEN MATCHED AND s.v IS NULL THEN DELETE"
        " WHEN MATCHED THEN UPDATE SET v = s.v"
        " WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    # the fused upsert+tombstone output qualified for the local path
    assert len(_local_files(e, "gt")) > 0
    assert {(r.id, r.v, r.v2) for r in e.sql("SELECT * FROM gt").collect()} \
        == {(1, 50, 100), (3, 6, 12)}


# Cap-boundary paths: each sets up its target and returns (write(n) for
# an n-row input, local file count, state, expected final state, local
# files per local write).
def _cap_path_values(e, spark, tmp_path):
    e.sql("CREATE TABLE ct (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")

    def write(n):
        e.sql("INSERT INTO ct VALUES " + ", ".join(
            f"({k}, {k * 10})" for k in range(10 * n, 11 * n)))

    want = sorted((k, k * 10) for n in (3, 4) for k in range(10 * n, 11 * n))
    return (write, lambda: len(_local_files(e, "ct")),
            lambda: _canon(e.sql("SELECT k, v FROM ct")), want, 1)


def _cap_path_update(e, spark, tmp_path):
    e.sql("CREATE TABLE ct (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    e.sql("INSERT INTO ct VALUES " + ", ".join(
        f"({i}, {i * 10})" for i in range(1, 8)))

    def write(n):
        e.sql(f"UPDATE ct SET v = v + 1 WHERE k <= {n}")

    want = sorted(
        (i, i * 10 + (2 if i <= 3 else 1 if i == 4 else 0))
        for i in range(1, 8)
    )
    return (write, lambda: len(_local_files(e, "ct")),
            lambda: _canon(e.sql("SELECT k, v FROM ct")), want, 1)


def _cap_path_cached_insert(e, spark, tmp_path):
    e.sql("CREATE TABLE ct (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")

    def write(n):
        batch = spark.createDataFrame(
            [(k, k * 10) for k in range(10 * n, 11 * n)], "k long, v long"
        ).persist()
        batch.count()
        e.catalog.insert("ct", batch, local=True)
        batch.unpersist()

    want = sorted((k, k * 10) for n in (3, 4) for k in range(10 * n, 11 * n))
    return (write, lambda: len(_local_files(e, "ct")),
            lambda: _canon(e.sql("SELECT k, v FROM ct")), want, 1)


def _cap_path_hamming(e, spark, tmp_path):
    from fluss_datafusion_spark.operators import incremental as inc

    rng = random.Random(7)
    idx = str(tmp_path / "idx")
    corpus = [(i, rng.getrandbits(63)) for i in range(20)]
    inc.write_hamming_index(
        spark.createDataFrame(corpus, "media_id long, dhash long"),
        "media_id", "dhash", idx,
    )
    batches = {
        n: [(k, rng.getrandbits(63)) for k in range(10 * n, 11 * n)]
        for n in (3, 4)
    }

    def write(n):
        inc.append_to_hamming_index(
            spark.createDataFrame(batches[n], "media_id long, dhash long"),
            "media_id", "dhash", idx, local=True,
        )

    def n_local():
        return sum(
            "-local" in f
            for store in ("hashes", "buckets")
            for f in os.listdir(os.path.join(idx, store))
        )

    def state():
        hashes = _canon(spark.read.parquet(os.path.join(idx, "hashes")))
        bucket_ids = sorted({
            r[0] for r in spark.read.parquet(
                os.path.join(idx, "buckets")).select("__id__").collect()
        })
        return hashes, bucket_ids

    rows = corpus + batches[3] + batches[4]
    # one part file per store
    return (write, n_local, state,
            (sorted(rows), sorted(k for k, _ in rows)), 2)


def _cap_path_dedup_index(e, spark, tmp_path):
    from fluss_datafusion_spark.operators import incremental as inc

    rng = random.Random(7)
    words = "spark fluss table scan merge join window batch key value".split()

    def docs(ids):
        return spark.createDataFrame(
            [(i, " ".join(rng.choice(words) for _ in range(12))) for i in ids],
            "doc_id long, text string",
        )

    corpus = docs(range(20))
    batches = {n: docs(range(10 * n, 11 * n)) for n in (3, 4)}
    idx, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    inc.write_dedup_index(corpus, "doc_id", "text", idx)

    def write(n):
        inc.append_to_index(batches[n], "doc_id", "text", idx, local=True)

    def n_local():
        return sum(
            "-local" in f
            for store in ("shingles", "buckets")
            for f in os.listdir(os.path.join(idx, store))
        )

    def state(path=idx):
        return tuple(
            _canon(spark.read.parquet(os.path.join(path, store)))
            for store in ("shingles", "buckets")
        )

    # appends (local, then distributed) land what one build of the
    # whole corpus writes
    inc.write_dedup_index(
        corpus.unionByName(batches[3]).unionByName(batches[4]),
        "doc_id", "text", ref,
    )
    # one part file per store
    return write, n_local, state, state(ref), 2


def _cap_path_matview(e, spark, tmp_path):
    e.sql("CREATE TABLE ms (k BIGINT NOT NULL, g STRING, x BIGINT,"
          " PRIMARY KEY (k))")
    e.sql("INSERT INTO ms VALUES (1, 'a', 10), (2, 'b', 20)")
    e.sql("CREATE MATERIALIZED VIEW msv AS SELECT g, count(*) AS n,"
          " sum(x) AS sx FROM ms GROUP BY g")

    def write(n):
        # n new groups -> an n-group refresh delta
        e.sql("INSERT INTO ms VALUES " + ", ".join(
            f"({k}, 'g{k}', {k})" for k in range(10 * n, 11 * n)))
        e.sql("REFRESH MATERIALIZED VIEW msv")

    want = sorted(
        [("a", 1, 10), ("b", 1, 20)]
        + [(f"g{k}", 1, k) for n in (3, 4) for k in range(10 * n, 11 * n)]
    )
    return (write, lambda: len(_local_files(e, "msv")),
            lambda: _canon(e.sql("SELECT g, n, sx FROM msv")), want, 1)


_CAP_PATHS = {
    "values": _cap_path_values,
    "update": _cap_path_update,
    "cached_insert": _cap_path_cached_insert,
    "hamming": _cap_path_hamming,
    "dedup_index": _cap_path_dedup_index,
    "matview": _cap_path_matview,
}


@pytest.mark.parametrize("path", list(_CAP_PATHS))
def test_rmw_cap_boundary_and_fallback(engine, spark, tmp_path, monkeypatch,
                                       path):
    """Every driver-local write path obeys the one row cap: at the cap
    the rows still write locally; one row past it the capped collect
    declines and the distributed writer runs — same results."""
    write, n_local, state, want, files_per_write = _CAP_PATHS[path](
        engine, spark, tmp_path)
    monkeypatch.setattr(cat_mod, "_LOCAL_ROW_CAP", 3)
    before = n_local()
    write(3)  # rows == cap -> local
    assert n_local() == before + files_per_write
    write(4)  # rows == cap+1 -> distributed
    assert n_local() == before + files_per_write
    assert state() == want


def test_rmw_branch_variants_local(engine):
    """Branch UPDATE / DELETE-WHERE / MERGE write into the branch's own
    seq space via the local path; main stays untouched."""
    e = engine
    e.sql("CREATE TABLE bt (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    e.sql("INSERT INTO bt VALUES (1, 10), (2, 20), (3, 30)")
    e.sql("ALTER TABLE bt CREATE BRANCH dev")
    e.sql("UPDATE bt$branch('dev') SET v = v + 5 WHERE k >= 2")
    e.sql("DELETE FROM bt$branch('dev') WHERE v = 35")
    assert _canon(e.sql(
        "SELECT * FROM bt$branch('dev')")) == [(1, 10), (2, 25)]
    # main unchanged
    assert _canon(e.sql("SELECT * FROM bt")) == [(1, 10), (2, 20), (3, 30)]


def test_check_constraints_bypass_gate(engine):
    """Tables with CHECK constraints skip collect_local entirely (the
    gate `not spec.check_constraints`) so the localCheckpoint-pinned
    check sequence runs unchanged — and still enforces."""
    e = engine
    e.sql("CREATE TABLE kt (k BIGINT NOT NULL, x BIGINT, PRIMARY KEY (k))")
    e.sql("ALTER TABLE kt ADD CONSTRAINT pos CHECK (x > 0)")
    e.sql("INSERT INTO kt VALUES (1, 5), (2, 8)")
    n_before = len(_local_files(e, "kt"))
    e.sql("UPDATE kt SET x = x + 1 WHERE k = 1")
    assert len(_local_files(e, "kt")) == n_before, (
        "UPDATE on a CHECK-constrained table must not take the "
        "collect-local path")
    with pytest.raises(ValueError, match="CHECK constraint pos"):
        e.sql("UPDATE kt SET x = -1 WHERE k = 2")
    assert _canon(e.sql("SELECT * FROM kt")) == [(1, 6), (2, 8)]


def test_probe_gate_pk_bounded_vs_unbounded(engine, monkeypatch):
    """With the file-count gate forced shut, only statements whose
    predicate shape bounds the delta (full-PK equality / IN) may probe;
    unbounded predicates go straight to the distributed writer (no
    partial double-execution of a big delta plan at scale)."""
    e = engine
    e.sql("CREATE TABLE gp (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    e.sql("INSERT INTO gp VALUES (1, 10), (2, 20), (3, 30)")
    monkeypatch.setattr(cat_mod, "_LOCAL_FILE_CAP", 0)
    n0 = len(_local_files(e, "gp"))
    e.sql("UPDATE gp SET v = v + 1 WHERE v >= 10")  # unbounded shape
    assert len(_local_files(e, "gp")) == n0, "unbounded UPDATE must not probe"
    e.sql("UPDATE gp SET v = v + 1 WHERE k = 2")  # full-PK equality
    assert len(_local_files(e, "gp")) == n0 + 1
    e.sql("DELETE FROM gp WHERE k IN (1, 3)")  # PK IN list
    assert len(_local_files(e, "gp")) == n0 + 2
    assert _canon(e.sql("SELECT * FROM gp")) == [(2, 22)]


def test_pk_bounded_predicate_shapes(engine):
    cat = engine.catalog
    engine.sql(
        "CREATE TABLE pb (a BIGINT NOT NULL, b BIGINT NOT NULL, v STRING,"
        " PRIMARY KEY (a, b))"
    )
    spec = cat.get_table("pb")
    assert cat._pk_bounded_predicate(spec, "a = 1 AND b = 2")
    assert cat._pk_bounded_predicate(spec, "a IN (1, 2) AND b = 7")
    assert not cat._pk_bounded_predicate(spec, "a = 1")  # b unpinned
    assert not cat._pk_bounded_predicate(spec, "a = 1 OR b = 2")
    assert not cat._pk_bounded_predicate(spec, "a >= 1 AND b = 2")
    assert not cat._pk_bounded_predicate(spec, "v = 'x'")
    assert not cat._pk_bounded_predicate(spec, None)
