"""Driver-local small-batch write seams used by the ingest sinks (r13):

- ``Catalog.insert(..., collect_local=True)`` — the RMW collect-local
  path opened to DataFrame inserts whose caller already knows the row
  count (micro-batch survivors caches);
- ``append_to_hamming_index(..., known_count=n)`` — one collect + two
  pyarrow part files instead of two distributed append jobs;
- the metrics-off sink shape (count jobs skipped) writes the same table.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fluss_datafusion_spark import EngineSession
from fluss_datafusion_spark.functions.multimodal import image_dhash_stats
from fluss_datafusion_spark.operators import incremental as inc


@pytest.fixture()
def engine(spark, tmp_path):
    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    yield e


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_insert_collect_local_state_parity(engine, spark, tmp_path):
    """A DataFrame insert through collect_local=True lands identical
    state, versions, and changelog as the distributed writer, and the
    local path really was taken (a -local part file exists)."""
    e1 = engine
    e2 = EngineSession(spark=spark, warehouse=str(tmp_path / "wh2"))
    for e in (e1, e2):
        e.sql(
            "CREATE TABLE st (k BIGINT NOT NULL, v STRING, x DOUBLE,"
            " PRIMARY KEY (k))"
        )
        e.sql("INSERT INTO st VALUES (1, 'seed', 0.5)")
    batch = spark.createDataFrame(
        [(1, "upd", 1.5), (2, "new", None), (3, "also", -0.0)],
        "k long, v string, x double",
    ).persist()
    batch.count()
    e1.catalog.insert("st", batch, collect_local=True)
    e2.catalog.insert("st", batch, collect_local=False)
    batch.unpersist()

    t1 = e1.catalog.table_path(e1.catalog.get_table("st"))
    t2 = e2.catalog.table_path(e2.catalog.get_table("st"))
    # the seed literal INSERT lands one -local file in each warehouse;
    # the DataFrame batch adds a second only on the collect_local side
    def n_local(t):
        return sum(
            1 for f in os.listdir(t)
            if f.endswith(".parquet") and "-local" in f
        )

    assert n_local(t1) == n_local(t2) + 1
    assert _canon(e1.sql("SELECT * FROM st")) == _canon(
        e2.sql("SELECT * FROM st")
    )
    for seq in (1, 2):
        assert _canon(
            e1.sql(f"SELECT * FROM st VERSION AS OF {seq}")
        ) == _canon(e2.sql(f"SELECT * FROM st VERSION AS OF {seq}"))
    assert _canon(
        e1.catalog.read_changes("st", 1, 2).select("k", "v", "x", "op")
    ) == _canon(
        e2.catalog.read_changes("st", 1, 2).select("k", "v", "x", "op")
    )


def test_insert_collect_local_falls_back_past_cap(engine, spark, monkeypatch):
    """Past the cap the probe returns None and the distributed write
    runs — rows land exactly once either way."""
    from fluss_datafusion_spark.catalog import catalog as cat

    monkeypatch.setattr(cat, "_RMW_LOCAL_CAP", 4)
    e = engine
    e.sql("CREATE TABLE big (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    batch = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    n = e.catalog.insert("big", batch, collect_local=True)
    assert n == 10
    t = e.catalog.table_path(e.catalog.get_table("big"))
    assert not any(
        "-local" in f for f in os.listdir(t) if f.endswith(".parquet")
    )
    assert e.sql("SELECT count(*) FROM big").collect()[0][0] == 10


def test_hamming_local_append_matches_distributed(spark, tmp_path):
    """known_count-gated driver-local append produces stores equal (rows
    AND physical schema) to the distributed append, and the skipping
    manifest covers the new files."""
    media_all = image_dhash_stats(
        __import__(
            "fluss_datafusion_spark.functions.multimodal",
            fromlist=["synthesize_gradient_bmp_media"],
        ).synthesize_gradient_bmp_media(
            spark.range(0, 60).select(F.col("id").alias("doc_id"))
        )
    ).select("media_id", "dhash")
    corpus = media_all.filter(F.col("media_id") < 30)
    batch = media_all.filter(F.col("media_id") >= 30).persist()
    n = batch.count()

    local_idx = str(tmp_path / "idx_local")
    dist_idx = str(tmp_path / "idx_dist")
    for p in (local_idx, dist_idx):
        inc.write_hamming_index(corpus, "media_id", "dhash", p)
    inc.append_to_hamming_index(
        batch, "media_id", "dhash", local_idx, known_count=n
    )
    inc.append_to_hamming_index(batch, "media_id", "dhash", dist_idx)
    batch.unpersist()

    for store in ("hashes", "buckets"):
        lp, dp = os.path.join(local_idx, store), os.path.join(dist_idx, store)
        a, b = spark.read.parquet(lp), spark.read.parquet(dp)
        assert a.schema == b.schema, store
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), store
        # local really engaged / distributed really didn't
        assert any("-local" in f for f in os.listdir(lp)), store
        assert not any("-local" in f for f in os.listdir(dp)), store
        # appended file carries a harvested manifest entry
        from fluss_datafusion_spark.catalog import skipping

        manifest = skipping.load(lp)
        new = [f for f in os.listdir(lp) if "-local" in f]
        assert new and all(f in manifest for f in new), store
        # and its footer bounds are real (pyarrow wrote valid stats)
        st = pq.read_metadata(os.path.join(lp, new[0]))
        assert st.num_rows > 0


def test_hamming_local_append_probe_equivalence(spark, tmp_path):
    """Pairs probed against a locally-appended index equal pairs against
    a distributed-appended one."""
    media_all = image_dhash_stats(
        __import__(
            "fluss_datafusion_spark.functions.multimodal",
            fromlist=["synthesize_gradient_bmp_media"],
        ).synthesize_gradient_bmp_media(
            spark.range(0, 80).select(F.col("id").alias("doc_id"))
        )
    ).select("media_id", "dhash")
    corpus = media_all.filter(F.col("media_id") < 25)
    first = media_all.filter(F.col("media_id").between(25, 49)).persist()
    n = first.count()
    probe = media_all.filter(F.col("media_id") >= 50)

    local_idx = str(tmp_path / "pidx_local")
    dist_idx = str(tmp_path / "pidx_dist")
    for p in (local_idx, dist_idx):
        inc.write_hamming_index(corpus, "media_id", "dhash", p)
    inc.append_to_hamming_index(
        first, "media_id", "dhash", local_idx, known_count=n
    )
    inc.append_to_hamming_index(first, "media_id", "dhash", dist_idx)
    first.unpersist()

    def pairs(path):
        df = inc.incremental_hamming_pairs(
            probe, path, "media_id", "dhash", max_hamming=2
        )
        got = sorted(tuple(r) for r in df.collect())
        inc.release_candidate_cache(df)
        return got

    assert pairs(local_idx) == pairs(dist_idx)


def test_media_sink_metrics_off_same_table(spark, tmp_path):
    """The metrics-off fast shape (count jobs skipped, driver-local
    writes engaged) persists the same table rows as the metrics shape."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from fluss_datafusion_spark.functions.multimodal import (
        synthesize_gradient_bmp_media,
    )

    media = synthesize_gradient_bmp_media(
        spark.range(0, 200).select(F.col("id").alias("doc_id"))
    )
    hashes = image_dhash_stats(media).select("media_id", "dhash")

    def run(tag, metrics):
        idx = str(tmp_path / f"idx_{tag}")
        inc.write_hamming_index(
            hashes.filter(F.col("media_id") < 25), "media_id", "dhash", idx
        )
        e = EngineSession(spark=spark, warehouse=str(tmp_path / f"wh_{tag}"))
        e.sql(
            "CREATE TABLE media_tbl (media_id BIGINT NOT NULL, width INT,"
            " height INT, dhash BIGINT, ahash BIGINT, PRIMARY KEY"
            " (media_id))"
        )
        replay = str(tmp_path / f"replay_{tag}")
        os.makedirs(replay)
        base = time.time()
        for i, (lo, hi) in enumerate(((100, 150), (150, 200))):
            pdf = (
                media.filter(
                    (F.col("media_id") >= lo) & (F.col("media_id") < hi)
                )
                .toPandas()
                .sort_values("media_id")
            )
            fp = os.path.join(replay, f"b{i:05d}.parquet")
            pq_.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False), fp
            )
            os.utime(fp, (base + i, base + i))
        stream = (
            spark.readStream.schema("media_id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        inc.media_ingest_sink(
            stream, e.catalog, "media_tbl", idx,
            str(tmp_path / f"ckpt_{tag}"), metrics=metrics,
        ).awaitTermination()
        return _canon(
            e.sql("SELECT media_id, width, height, dhash FROM media_tbl")
        )

    with_metrics = []
    assert run("off", None) == run("on", with_metrics)
    assert [m["n_kept"] for m in with_metrics] == [25, 0]


def _hash_frames(spark):
    import random

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, rng.getrandbits(63)) for i in range(20)],
        "media_id long, dhash long",
    )
    return corpus, rng


def test_hamming_local_append_null_hash_falls_back(spark, tmp_path):
    """A null fingerprint makes the driver-local build fail: the seam
    returns False (never raises), leaves no local file behind, and the
    caller's distributed append lands the batch."""
    corpus, _ = _hash_frames(spark)
    idx = str(tmp_path / "idx")
    inc.write_hamming_index(corpus, "media_id", "dhash", idx)
    batch = spark.createDataFrame(
        [(100, 5), (101, None)], "media_id long, dhash long"
    )
    assert inc._local_append_hamming(batch, "media_id", "dhash", idx, 4, 1) is False
    inc.append_to_hamming_index(batch, "media_id", "dhash", idx, known_count=2)
    for store in ("hashes", "buckets"):
        assert not any("-local" in f for f in os.listdir(os.path.join(idx, store)))
    ids = {r[0] for r in spark.read.parquet(os.path.join(idx, "hashes")).collect()}
    assert {100, 101} <= ids


def test_hamming_local_append_ignores_an_input_h_column(spark, tmp_path):
    """An input frame that already carries a ``__h__`` column must not
    feed the band keys: the local append equals the distributed one."""
    corpus, rng = _hash_frames(spark)
    batch = spark.createDataFrame(
        [(100 + i, rng.getrandbits(63), 0) for i in range(8)],
        "media_id long, dhash long, __h__ long",
    )
    local_idx, dist_idx = str(tmp_path / "local"), str(tmp_path / "dist")
    for p in (local_idx, dist_idx):
        inc.write_hamming_index(corpus, "media_id", "dhash", p)
    inc.append_to_hamming_index(
        batch, "media_id", "dhash", local_idx, known_count=8
    )
    inc.append_to_hamming_index(batch, "media_id", "dhash", dist_idx)
    lp = os.path.join(local_idx, "buckets")
    assert any("-local" in f for f in os.listdir(lp))
    a = spark.read.parquet(lp)
    b = spark.read.parquet(os.path.join(dist_idx, "buckets"))
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
