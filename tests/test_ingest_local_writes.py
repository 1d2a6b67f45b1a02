"""Driver-local small-batch write seams used by the ingest sinks (r13):

- ``Catalog.insert(..., local=True)`` — the driver-local write seam
  opened to DataFrame inserts whose caller already knows the row
  count (micro-batch survivors caches);
- ``append_to_hamming_index(..., local=True)`` and
  ``append_to_index(..., local=True)`` — one collect + one pyarrow part
  file per store instead of two distributed append jobs;
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
    """A DataFrame insert through local=True lands identical
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
    e1.catalog.insert("st", batch, local=True)
    e2.catalog.insert("st", batch, local=False)
    batch.unpersist()

    t1 = e1.catalog.table_path(e1.catalog.get_table("st"))
    t2 = e2.catalog.table_path(e2.catalog.get_table("st"))
    # the seed literal INSERT lands one -local file in each warehouse;
    # the DataFrame batch adds a second only on the local side
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

    monkeypatch.setattr(cat, "_LOCAL_ROW_CAP", 4)
    e = engine
    e.sql("CREATE TABLE big (k BIGINT NOT NULL, v BIGINT, PRIMARY KEY (k))")
    batch = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    n = e.catalog.insert("big", batch, local=True)
    assert n == 10
    t = e.catalog.table_path(e.catalog.get_table("big"))
    assert not any(
        "-local" in f for f in os.listdir(t) if f.endswith(".parquet")
    )
    assert e.sql("SELECT count(*) FROM big").collect()[0][0] == 10


def test_hamming_local_append_matches_distributed(spark, tmp_path):
    """local=True driver-local append produces stores equal (rows
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
        batch, "media_id", "dhash", local_idx, local=True
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
        first, "media_id", "dhash", local_idx, local=True
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
    assert inc._HammingIndex("media_id", "dhash", 4, 1).append_local(batch, idx) is False
    inc.append_to_hamming_index(batch, "media_id", "dhash", idx, local=True)
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
        batch, "media_id", "dhash", local_idx, local=True
    )
    inc.append_to_hamming_index(batch, "media_id", "dhash", dist_idx)
    lp = os.path.join(local_idx, "buckets")
    assert any("-local" in f for f in os.listdir(lp))
    a = spark.read.parquet(lp)
    b = spark.read.parquet(os.path.join(dist_idx, "buckets"))
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


_WORDS = (
    "spark fluss table scan merge join window batch stream order key"
    " value filter index probe shingle bucket band query row column"
).split()


def _text_frames(spark):
    """A 30-doc corpus and a 12-doc batch over one small vocabulary.
    The batch holds near copies of corpus docs, a two-word document
    (fewer than k = 3 words: no shingles, no buckets) and a null text."""
    import random

    rng = random.Random(11)

    def doc(n):
        return " ".join(rng.choice(_WORDS) for _ in range(n))

    corpus = [(i, doc(rng.randint(8, 30))) for i in range(30)]
    batch = [(100 + i, corpus[i][1] + " " + doc(2)) for i in range(5)]
    batch += [(110 + i, doc(rng.randint(5, 25))) for i in range(5)]
    batch += [(120, "two words"), (121, None)]
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(corpus, schema),
        spark.createDataFrame(batch, schema),
    )


def _store_files(idx, store):
    return os.listdir(os.path.join(idx, store))


def _marker(idx):
    with open(os.path.join(idx, "_BUILT"), encoding="utf-8") as fh:
        return fh.read()


def test_dedup_local_append_matches_distributed(spark, tmp_path):
    """local=True appends the same rows under the same Spark schema to
    both stores as the distributed append (the short document and the
    null text exercise both store filters), as exactly one manifest-
    covered -local file per store, and grows the marker count equally."""
    from fluss_datafusion_spark.catalog import skipping

    corpus, batch = _text_frames(spark)
    batch = batch.persist()
    batch.count()
    local_idx, dist_idx = str(tmp_path / "local"), str(tmp_path / "dist")
    for p in (local_idx, dist_idx):
        inc.write_dedup_index(corpus, "doc_id", "text", p)
    inc.append_to_index(batch, "doc_id", "text", local_idx, local=True)
    inc.append_to_index(batch, "doc_id", "text", dist_idx)
    batch.unpersist()

    for store in ("shingles", "buckets"):
        lp, dp = os.path.join(local_idx, store), os.path.join(dist_idx, store)
        a, b = spark.read.parquet(lp), spark.read.parquet(dp)
        assert a.schema == b.schema, store
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), store
        new = [f for f in os.listdir(lp) if "-local" in f]
        assert len(new) == 1, store
        assert not any("-local" in f for f in os.listdir(dp)), store
        assert new[0] in skipping.load(lp), store
    ids = lambda p, store: {  # noqa: E731
        r[0] for r in spark.read.parquet(os.path.join(p, store))
        .select("__id__").collect()
    }
    # the two filters really dropped the short and the null document
    assert not {120, 121} & (ids(local_idx, "shingles") | ids(
        local_idx, "buckets"))
    assert _marker(local_idx) == _marker(dist_idx)
    assert _marker(local_idx).endswith("|n=42")


def test_dedup_local_append_declines_missing_store(spark, tmp_path):
    """A missing store makes the driver-local append return False
    without writing anything to the store that does exist."""
    import shutil

    corpus, batch = _text_frames(spark)
    idx = str(tmp_path / "idx")
    inc.write_dedup_index(corpus, "doc_id", "text", idx)
    before = _marker(idx)
    shutil.rmtree(os.path.join(idx, "shingles"))
    assert inc._LshIndex("doc_id", "text", 3, 128, 2).append_local(
        batch, idx
    ) is False
    assert not any(
        "-local" in f or f.endswith(".tmp") for f in _store_files(idx, "buckets")
    )
    assert _marker(idx) == before


def test_dedup_local_append_write_failure_leaves_nothing(
    spark, tmp_path, monkeypatch
):
    """A write failure on the second store returns False and removes
    the first store's file and the second's temp file, so the
    distributed fallback appends every row exactly once."""
    corpus, batch = _text_frames(spark)
    idx = str(tmp_path / "idx")
    inc.write_dedup_index(corpus, "doc_id", "text", idx)
    before = _marker(idx)
    real, calls = pq.write_table, []

    def flaky(table, where, *a, **k):
        calls.append(where)
        real(table, where, *a, **k)
        if len(calls) == 2:
            raise OSError("injected store-write failure")

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", flaky)
        assert inc._LshIndex("doc_id", "text", 3, 128, 2).append_local(
            batch, idx
        ) is False
    assert len(calls) == 2
    for store in ("shingles", "buckets"):
        assert not any(
            "-local" in f or f.endswith(".tmp")
            for f in _store_files(idx, store)
        ), store
    assert _marker(idx) == before
    inc.append_to_index(batch, "doc_id", "text", idx, local=True)
    sh = spark.read.parquet(os.path.join(idx, "shingles"))
    assert sh.count() == sh.select("__id__").distinct().count() == 40


@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
@pytest.mark.parametrize("kind", ["lsh", "hamming"])
def test_appended_index_equals_rebuilt(spark, tmp_path, kind, local):
    """Both append paths of both indexes are pure appends: after
    build(corpus) + append(batch), each store equals a rebuild over
    corpus + batch (same rows, same Spark schema)."""
    if kind == "lsh":
        corpus, batch = _text_frames(spark)
        cols, stores = ("doc_id", "text"), ("shingles", "buckets")
        build, append = inc.write_dedup_index, inc.append_to_index
    else:
        corpus, rng = _hash_frames(spark)
        batch = spark.createDataFrame(
            [(100 + i, rng.getrandbits(63)) for i in range(8)],
            "media_id long, dhash long",
        )
        cols, stores = ("media_id", "dhash"), ("hashes", "buckets")
        build, append = inc.write_hamming_index, inc.append_to_hamming_index
    appended, rebuilt = str(tmp_path / "appended"), str(tmp_path / "rebuilt")
    build(corpus, *cols, appended)
    batch = batch.persist()
    batch.count()
    append(batch, *cols, appended, local=local)
    build(corpus.unionByName(batch), *cols, rebuilt)
    batch.unpersist()
    for store in stores:
        a = spark.read.parquet(os.path.join(appended, store))
        b = spark.read.parquet(os.path.join(rebuilt, store))
        assert a.schema == b.schema, store
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), store
        # the append path under test really ran
        assert any("-local" in f for f in _store_files(appended, store)) == local


def test_lsh_probe_refuses_mismatched_index(spark, tmp_path):
    """A k=4 probe of a k=3 LSH index derives different bands and
    shingles, so it must refuse, naming both tokens; a missing marker
    still probes."""
    corpus, batch = _text_frames(spark)
    idx = str(tmp_path / "idx")
    inc.write_dedup_index(corpus, "doc_id", "text", idx, k=3)
    with pytest.raises(ValueError, match="rebuild the index") as err:
        inc.incremental_dedup_pairs(batch, idx, "doc_id", "text", k=4)
    for k in (3, 4):
        assert f"{inc.INDEX_FORMAT}|k={k}|perm=128|rpb=2" in str(err.value)
    os.remove(os.path.join(idx, "_BUILT"))
    pairs = inc.incremental_dedup_pairs(batch, idx, "doc_id", "text", k=3)
    assert pairs.count() > 0
    inc.release_candidate_cache(pairs)


def test_marker_write_failure_keeps_previous_token(spark, tmp_path, monkeypatch):
    """A marker write that raises after the open (the truncate) and
    before the token lands leaves the previous ``_BUILT`` token intact,
    for both index builds and the LSH append's count bump."""
    import builtins

    corpus, batch = _text_frames(spark)
    hashes, _ = _hash_frames(spark)
    lsh, ham = str(tmp_path / "lsh"), str(tmp_path / "ham")
    inc.write_dedup_index(corpus, "doc_id", "text", lsh)
    inc.write_hamming_index(hashes, "media_id", "dhash", ham)
    before = {p: _marker(p) for p in (lsh, ham)}
    real_open = builtins.open

    class _Torn:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, data):
            raise OSError("injected mid-marker failure")

    def torn_open(file, mode="r", *a, **k):
        fh = real_open(file, mode, *a, **k)
        return _Torn(fh) if "w" in mode else fh

    monkeypatch.setattr(inc, "open", torn_open, raising=False)
    with pytest.raises(OSError, match="injected"):
        inc.write_dedup_index(corpus, "doc_id", "text", lsh, source_id="s2")
    with pytest.raises(OSError, match="injected"):
        inc.write_hamming_index(hashes, "media_id", "dhash", ham, source_id="s2")
    inc.append_to_index(batch, "doc_id", "text", lsh, local=True)
    monkeypatch.undo()
    assert {p: _marker(p) for p in (lsh, ham)} == before


class _FailingCatalog:
    def insert(self, *args, **kwargs):
        raise RuntimeError("injected upsert failure")


@pytest.mark.parametrize("kind", ["text", "media"])
def test_sink_failed_write_releases_caches(spark, tmp_path, kind):
    """A raising upsert fails the micro-batch, and the session then
    holds no more persisted RDDs than before the run: the sink's batch
    and survivors caches and the probe's candidate caches are all
    released on the failure path too."""
    import pyarrow as pa

    idx, replay = str(tmp_path / "idx"), str(tmp_path / "replay")
    os.makedirs(replay)
    if kind == "text":
        corpus, batch = _text_frames(spark)
        inc.write_dedup_index(corpus, "doc_id", "text", idx)
        schema, sink = "doc_id long, text string", inc.dedup_ingest_sink
    else:
        from fluss_datafusion_spark.functions.multimodal import (
            synthesize_gradient_bmp_media,
        )

        media = synthesize_gradient_bmp_media(
            spark.range(0, 40).select(F.col("id").alias("doc_id"))
        )
        inc.write_hamming_index(
            image_dhash_stats(media.filter(F.col("media_id") < 20)),
            "media_id", "dhash", idx,
        )
        batch = media.filter(F.col("media_id") >= 20)
        schema, sink = "media_id long, payload binary", inc.media_ingest_sink
    pq.write_table(
        pa.Table.from_pandas(batch.toPandas(), preserve_index=False),
        os.path.join(replay, "b00000.parquet"),
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    query = sink(
        spark.readStream.schema(schema).parquet(replay),
        _FailingCatalog(), "t", idx, str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="injected upsert failure"):
        query.awaitTermination()
    assert persistent().size() <= before
