"""Structured Streaming layer tests: micro-batch replay equivalence with
batch results, session windows, streaming dedup, the foreachBatch upsert
sink, and the custom stateful operator."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    from fluss_datafusion_spark.streaming.events import chunk_table_for_replay

    out = str(tmp_path_factory.mktemp("replay") / "events")
    chunk_table_for_replay(spark, "/root/testdata/sf0.001", out, n_chunks=4)
    return out


def _drop_memory_table(spark, name):
    spark.catalog.dropTempView(name) if name in [
        t.name for t in spark.catalog.listTables()
    ] else None


def test_tumbling_stream_equals_batch(spark, replay_dir):
    """AvailableNow micro-batch replay produces the same tumbling-window
    result as the batch evaluator (ordered replay -> watermark drops
    nothing)."""
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        run_to_memory,
        tumbling_counts,
    )

    # complete mode: append would (correctly) hold back windows the
    # watermark hasn't passed when AvailableNow stops; complete emits the
    # full result table, which must equal the batch evaluation.
    stream = events_stream(spark, replay_dir, max_files_per_trigger=1)
    run_to_memory(tumbling_counts(stream), "t_tumbling", output_mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }

    batch = spark.read.parquet(replay_dir)
    want_df = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in want_df.collect()
    }
    assert got == want
    assert len(got) > 0


def test_session_window_stream(spark):
    from fluss_datafusion_spark.streaming.events import (
        run_to_memory,
        session_window_counts,
    )

    src = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 1.0),  # same session
            (1, "2024-01-01 01:00:00", 1.0),  # new session (50 min gap)
            (2, "2024-01-01 00:00:00", 1.0),
        ],
        "user_id int, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile

    path = tempfile.mkdtemp(prefix="sess_stream_")
    src.repartition(1).write.mode("overwrite").parquet(path)

    from fluss_datafusion_spark.streaming.events import events_stream

    stream = events_stream(spark, path, max_files_per_trigger=None)
    run_to_memory(
        session_window_counts(stream, gap="30 minutes"), "t_sessions",
        output_mode="complete",
    )
    rows = spark.sql("SELECT user_id, n FROM t_sessions ORDER BY user_id, n").collect()
    got = [(r["user_id"], r["n"]) for r in rows]
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_streaming_dedup(spark):
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        run_to_memory,
        streaming_dedup,
    )

    src = spark.createDataFrame(
        [
            (100, "2024-01-01 00:00:00", "a"),
            (100, "2024-01-01 00:05:00", "b"),  # duplicate event_id
            (101, "2024-01-01 00:06:00", "c"),
        ],
        "event_id long, ts string, payload string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    import tempfile

    path = tempfile.mkdtemp(prefix="dedup_stream_")
    src.repartition(1).write.mode("overwrite").parquet(path)
    stream = events_stream(spark, path, max_files_per_trigger=None)
    run_to_memory(streaming_dedup(stream), "t_dedup")
    assert spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0]["n"] == 2


def test_foreach_batch_upsert_sink(spark, tmp_path, replay_dir):
    """Stream -> PK table materialization: final state is last-value-per-key
    (the reference's INSERT-is-upsert semantics, applied continuously)."""
    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.streaming.events import events_stream, upsert_sink

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE user_last_event (user_id BIGINT NOT NULL, event_id BIGINT,"
        " ts TIMESTAMP, PRIMARY KEY (user_id))"
    )
    stream = events_stream(spark, replay_dir, max_files_per_trigger=1).select(
        "user_id", "event_id", "ts"
    )
    q = upsert_sink(stream, e.catalog, "user_last_event", str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        r["user_id"]: r["event_id"]
        for r in e.sql("SELECT * FROM user_last_event").collect()
    }
    # expected: per user, the event that arrived last across ordered chunks.
    # Replay order is ts order, so the winner has the max ts — but when a
    # user's max ts is shared by several events, arrival order among the
    # tied rows is an implementation detail; accept any of the tied events.
    batch = spark.read.parquet(replay_dir)
    want: dict = {}
    for r in (
        batch.join(
            batch.groupBy("user_id").agg(F.max("ts").alias("ts")), ["user_id", "ts"]
        )
        .select("user_id", "event_id")
        .collect()
    ):
        want.setdefault(r["user_id"], set()).add(r["event_id"])
    assert set(got) == set(want)
    assert all(got[u] in want[u] for u in got)


def test_stateful_running_counts(spark, replay_dir):
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        running_user_counts,
        run_to_memory,
    )

    stream = events_stream(spark, replay_dir, max_files_per_trigger=2)
    run_to_memory(running_user_counts(stream), "t_state", output_mode="update")
    # final state per user (last update row) must equal the batch count
    final = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM t_state GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: r["n"] for r in final}
    batch = spark.read.parquet(replay_dir)
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_streaming_session_window_matches_batch(spark, replay_dir):
    """Append-mode session windows with a watermark: every emitted session
    must equal the batch session result; sessions still open (or not yet
    past the watermark) at stream end are the only ones missing."""
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        run_to_memory,
        session_counts,
    )

    stream = events_stream(spark, replay_dir, max_files_per_trigger=1)
    run_to_memory(session_counts(stream), "t_sessions", output_mode="append")
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n"]
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }

    batch = spark.read.parquet(replay_dir)
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n"]
        for r in batch.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
        .collect()
    }
    assert set(got) <= set(want)
    assert all(want[k] == v for k, v in got.items())
    # the ordered replay closes the overwhelming majority of sessions
    assert len(got) >= 0.8 * len(want), (len(got), len(want))


def test_changelog_stream_matches_batch_derivation(spark, tmp_path):
    """Replaying the events upsert stream in micro-batches through the
    stateful changelog operator emits exactly the batch-derived
    changelog (+I/-U/+U per key in ts order) — state carries the last
    image per key across batch boundaries."""
    import duckdb

    from fluss_datafusion_spark.corpus import ORACLES, load_all
    from fluss_datafusion_spark.streaming.events import (
        changelog_stream,
        chunk_table_for_replay,
        events_stream,
        run_to_memory,
    )

    load_all()
    replay_dir = chunk_table_for_replay(
        spark, "/root/testdata/sf0.001", str(tmp_path / "replay"), n_chunks=4
    )
    stream = events_stream(spark, replay_dir, max_files_per_trigger=1)
    run_to_memory(
        changelog_stream(
            stream,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            image_cols=["event_id", "value"],
        ),
        "t_changelog",
        output_mode="update",
    )
    got = {
        (r["op"], r["user_id"], r["event_id"], round(r["value"], 2))
        for r in spark.sql("SELECT * FROM t_changelog").collect()
    }

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS FROM '/root/testdata/sf0.001/events.parquet'"
    )
    want = {
        (r.op, r.user_id, r.event_id, round(r.value_r, 2))
        for r in con.sql(ORACLES["st_pk_changelog"]).df().itertuples(index=False)
    }
    assert got == want
    # sanity: updates exist (state crossed batch boundaries)
    assert any(op == "-U" for op, *_ in got)


def test_changelog_stream_with_deletes(spark, tmp_path):
    """Tombstone-flagged rows emit -D with the last live image and clear
    keyed state across micro-batches; re-inserts after a delete emit +I."""
    import os
    import time

    from fluss_datafusion_spark.streaming.events import (
        changelog_stream,
        events_stream,
        run_to_memory,
    )

    replay = str(tmp_path / "cdc")
    batches = [
        [(1, 1, "a", False), (2, 2, "b", False)],
        [(3, 1, None, True), (4, 1, "a2", False), (5, 3, None, True)],
        [(6, 1, None, True)],
    ]
    # one parquet file per batch, named AND mtime-stamped in replay order
    # (Spark-written part files get uuid names that sort arbitrarily)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(replay)
    base = time.time()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "seq": pa.array([r[0] for r in rows], pa.int64()),
                "k": pa.array([r[1] for r in rows], pa.int64()),
                "v": pa.array([r[2] for r in rows], pa.string()),
                "is_delete": pa.array([r[3] for r in rows], pa.bool_()),
            }
        )
        fpath = os.path.join(replay, f"batch-{i:05d}.parquet")
        pq.write_table(tbl, fpath)
        os.utime(fpath, (base + i, base + i))

    stream = events_stream(spark, replay, max_files_per_trigger=1)
    run_to_memory(
        changelog_stream(
            stream,
            key_cols=["k"],
            order_cols=["seq"],
            image_cols=["seq", "v"],
            del_col="is_delete",
        ),
        "t_cdc_del",
        output_mode="update",
    )
    got = {
        (r["op"], r["k"], r["v"])
        for r in spark.sql("SELECT * FROM t_cdc_del").collect()
    }
    assert got == {
        ("+I", 1, "a"),
        ("+I", 2, "b"),
        ("-D", 1, "a"),    # delete in a later batch carries batch-1 image
        ("+I", 1, "a2"),   # re-insert after delete is a fresh +I
        ("-D", 1, "a2"),   # second delete, image from the middle batch
        # delete of absent key 3 emits nothing
    }


def test_session_counts_update_mode_matches_batch(spark, replay_dir):
    """Update-mode session windows via the custom stateful operator
    (native session_window refuses update mode): the best emission per
    (user, session_start) — counts only grow — must equal the batch
    session result exactly."""
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        run_to_memory,
        session_counts_update,
    )

    stream = events_stream(spark, replay_dir, max_files_per_trigger=1)
    run_to_memory(
        session_counts_update(stream, gap="30 minutes"),
        "t_sessions_upd",
        output_mode="update",
    )
    best: dict = {}
    finals = set()
    for r in spark.sql("SELECT * FROM t_sessions_upd").collect():
        k = (r["user_id"], r["session_start"])
        if k not in best or r["n"] > best[k][1]:
            best[k] = (r["session_end"], r["n"])
        if r["final"]:
            finals.add(k)
    got = {(u, s, e, n) for (u, s), (e, n) in best.items()}

    batch = spark.read.parquet(replay_dir)
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n"])
        for r in batch.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
        .collect()
    }
    assert got == want
    # sessions closed mid-stream were flagged final
    assert 0 < len(finals) < len(got)


def test_upsert_sink_metrics(spark, tmp_path, replay_dir):
    """foreachBatch sink metrics: one entry per micro-batch, row counts
    sum to the stream total, and counting is footer-based (no re-run)."""
    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.streaming.events import events_stream, upsert_sink

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE sink_metrics_t (user_id BIGINT NOT NULL, event_id BIGINT,"
        " ts TIMESTAMP, PRIMARY KEY (user_id))"
    )
    stream = events_stream(spark, replay_dir, max_files_per_trigger=1).select(
        "user_id", "event_id", "ts"
    )
    metrics: list = []
    q = upsert_sink(
        stream, e.catalog, "sink_metrics_t", str(tmp_path / "ckpt_m"), metrics=metrics
    )
    q.awaitTermination()

    total = spark.read.parquet(replay_dir).count()
    assert len(metrics) == 4  # one per replay chunk
    assert sum(m["rows"] for m in metrics) == total
    assert [m["batch_id"] for m in metrics] == sorted(m["batch_id"] for m in metrics)
    assert all(m["seconds"] >= 0 for m in metrics)


def test_changelog_stream_ttl_evicts_state(spark, tmp_path):
    """Event-time TTL: a key idle past (last event + ttl) relative to the
    watermark has its state evicted, so its next write emits +I instead of
    -U/+U — bounded state for unbounded key spaces."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluss_datafusion_spark.streaming.events import (
        changelog_stream,
        events_stream,
        run_to_memory,
    )

    replay = str(tmp_path / "ttl")
    os.makedirs(replay)

    def ts(minute):
        return pa.scalar(
            1704067200000000 + minute * 60_000_000, pa.timestamp("us", tz="UTC")
        )

    batches = [
        [(1, 1, 0, "a"), (2, 2, 0, "x")],
        [(3, 2, 20, "y")],          # watermark -> 00:20 (> key-1 timeout 00:05)
        [(4, 2, 30, "z")],          # key 1 evicted during this batch
        [(5, 1, 40, "b")],          # fresh +I, state was evicted
    ]
    base = time.time()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "seq": pa.array([r[0] for r in rows], pa.int64()),
                "k": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [ts(r[2]).as_py() for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "v": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        fpath = os.path.join(replay, f"batch-{i:05d}.parquet")
        pq.write_table(tbl, fpath)
        os.utime(fpath, (base + i, base + i))

    stream = events_stream(spark, replay, max_files_per_trigger=1).withWatermark(
        "ts", "0 seconds"
    )
    run_to_memory(
        changelog_stream(
            stream,
            key_cols=["k"],
            order_cols=["seq"],
            image_cols=["seq", "v"],
            ttl="5 minutes",
            ts_col="ts",
        ),
        "t_cdc_ttl",
        output_mode="update",
    )
    got = {
        (r["op"], r["k"], r["v"]) for r in spark.sql("SELECT * FROM t_cdc_ttl").collect()
    }
    assert ("+I", 1, "b") in got          # re-keyed as insert after eviction
    assert ("-U", 1, "a") not in got      # no update chain across the TTL gap
    # key 2 stayed live the whole time: normal +I/-U/+U chain
    assert {("+I", 2, "x"), ("-U", 2, "x"), ("+U", 2, "y"), ("-U", 2, "y"), ("+U", 2, "z")} <= got


def test_enrich_stream_matches_batch(spark, replay_dir):
    """Stream-static dimension enrichment equals the batch join."""
    from fluss_datafusion_spark.streaming.events import (
        enrich_stream,
        events_stream,
        run_to_memory,
    )

    batch = spark.read.parquet(replay_dir)
    dim = (
        batch.select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )
    stream = events_stream(spark, replay_dir, max_files_per_trigger=2).select(
        "event_id", "user_id"
    )
    run_to_memory(enrich_stream(stream, dim, "user_id"), "t_enriched")
    got = {
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT event_id, tier FROM t_enriched").collect()
    }
    want = {
        (r["event_id"], r["tier"])
        for r in batch.select("event_id", "user_id").join(dim, "user_id").collect()
    }
    assert got == want and len(got) > 0


def test_correlate_streams_matches_batch(spark, replay_dir):
    """Stream-stream interval join over the ordered replay equals the
    batch time-range self-join (generous watermark -> nothing dropped)."""
    from fluss_datafusion_spark.streaming.events import (
        correlate_streams,
        events_stream,
        run_to_memory,
    )

    batch = spark.read.parquet(replay_dir).select("event_id", "user_id", "ts")
    # correlate each event with same-user events in the next 10 minutes
    left = events_stream(spark, replay_dir, max_files_per_trigger=2).select(
        "event_id", "user_id", "ts"
    )
    right = events_stream(spark, replay_dir, max_files_per_trigger=2).select(
        "event_id", "user_id", "ts"
    )
    joined = correlate_streams(
        left, right, key_col="user_id", within="10 minutes"
    ).filter(F.col("l_event_id") != F.col("r_event_id"))
    run_to_memory(joined, "t_correlated")
    got = {
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT l_event_id, r_event_id FROM t_correlated").collect()
    }

    a, b = batch.alias("a"), batch.alias("b")
    want = {
        (r["l"], r["r"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 minutes"))
            & (F.col("a.event_id") != F.col("b.event_id")),
        )
        .select(F.col("a.event_id").alias("l"), F.col("b.event_id").alias("r"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_dedup_ingest_sink_end_to_end(spark, tmp_path):
    """The full continuous-ingest pipeline: stream document batches ->
    probe/extend the persisted LSH index -> upsert survivors.  The final
    table must contain no near-dup pair at the threshold, every dropped
    doc is accounted for in the metrics, and re-running finds nothing
    new to drop (idempotent against the grown index)."""
    import time

    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.operators.dedup import minhash_lsh_pairs
    from fluss_datafusion_spark.operators.incremental import dedup_ingest_sink
    from fluss_datafusion_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    replay = str(tmp_path / "docs_replay")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(replay)
    parts = sorted(
        f for f in os.listdir(replay) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time()
    for i, fname in enumerate(parts):
        os.utime(os.path.join(replay, fname), (base + i, base + i))

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE docs_clean (doc_id BIGINT NOT NULL, text STRING,"
        " PRIMARY KEY (doc_id))"
    )
    index = str(tmp_path / "dedup_idx")
    # seed an empty index so batch 0 probes cleanly
    from fluss_datafusion_spark.operators.incremental import write_dedup_index

    write_dedup_index(docs.limit(0), "doc_id", "text", index)

    schema = spark.read.parquet(replay).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(replay)
    )
    metrics: list = []
    q = dedup_ingest_sink(
        stream, e.catalog, "docs_clean", index, str(tmp_path / "ckpt"),
        threshold=0.4, metrics=metrics,
    )
    q.awaitTermination()

    kept = e.sql("SELECT doc_id, text FROM docs_clean")
    n_total = docs.count()
    n_kept = kept.count()
    assert len(metrics) == 3
    assert sum(m["n_in"] for m in metrics) == n_total
    assert sum(m["n_kept"] for m in metrics) == n_kept
    assert sum(m["n_dropped"] for m in metrics) == n_total - n_kept > 0

    # survivors contain no near-dup pair at the threshold
    leftover = minhash_lsh_pairs(kept, "doc_id", "text", threshold=0.4).count()
    assert leftover == 0

    # idempotence: replaying the survivors against the grown index drops
    # nothing (every survivor is already indexed -> jaccard 1.0 self pair?
    # no: ids match, pairs need distinct ids, and identical ids are absent)
    from fluss_datafusion_spark.operators.incremental import incremental_dedup_pairs

    again = incremental_dedup_pairs(
        kept, index, "doc_id", "text", threshold=0.4
    ).filter(F.col("id_a") != F.col("id_b"))
    # survivors ARE in the index now; probing them finds only self-buckets
    assert again.filter(F.col("id_a") != F.col("id_b")).count() == 0


def test_dedup_ingest_sink_local_index_append_matches_distributed(
    spark, tmp_path, monkeypatch, testdata
):
    """Two micro-batches through ``dedup_ingest_sink`` land the same
    table rows, the same index rows and the same probe pairs for a
    held-out batch whether the survivors' writes run driver-local or,
    with the row cap patched to 0, through the distributed writers."""
    import time

    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.catalog import catalog as cat
    from fluss_datafusion_spark.operators.incremental import (
        dedup_ingest_sink,
        incremental_dedup_pairs,
        release_candidate_cache,
        write_dedup_index,
    )
    from fluss_datafusion_spark.session import read_table

    docs = read_table(spark, os.path.join(testdata, "documents.parquet")).select(
        "doc_id", "text"
    )
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    base = time.time()
    for i, (lo, hi) in enumerate(((100, 200), (200, 300))):
        fp = os.path.join(replay, f"b{i:05d}.parquet")
        docs.filter(F.col("doc_id").between(lo, hi - 1)).toPandas().to_parquet(
            fp, index=False
        )
        os.utime(fp, (base + i, base + i))
    schema = spark.read.parquet(replay).schema
    probe = docs.filter(F.col("doc_id") >= 300)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    def run(tag):
        e = EngineSession(spark=spark, warehouse=str(tmp_path / f"wh_{tag}"))
        e.sql(
            "CREATE TABLE docs_clean (doc_id BIGINT NOT NULL, text STRING,"
            " PRIMARY KEY (doc_id))"
        )
        index = str(tmp_path / f"idx_{tag}")
        write_dedup_index(
            docs.filter(F.col("doc_id") < 100), "doc_id", "text", index
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        dedup_ingest_sink(
            stream, e.catalog, "docs_clean", index, str(tmp_path / f"ck_{tag}"),
        ).awaitTermination()
        n_local = sum(
            "-local" in f
            for store in ("shingles", "buckets")
            for f in os.listdir(os.path.join(index, store))
        )
        stores = [
            canon(spark.read.parquet(os.path.join(index, store)))
            for store in ("shingles", "buckets")
        ]
        pairs = incremental_dedup_pairs(probe, index, "doc_id", "text")
        got = canon(pairs)
        release_candidate_cache(pairs)
        return n_local, (canon(e.sql("SELECT * FROM docs_clean")), stores, got)

    n_local, local = run("local")
    with monkeypatch.context() as m:
        m.setattr(cat, "_LOCAL_ROW_CAP", 0)
        n_dist, dist = run("dist")
    assert (n_local, n_dist) == (4, 0)  # one file per store per batch
    assert local == dist
    assert local[2], "the held-out probe should find near-dups"


def test_changelog_stream_ttl_late_only_key_survives(spark, tmp_path):
    """A key whose ONLY rows are late (last event + ttl <= current
    watermark) must not kill the query: the TTL timeout is clamped past
    the watermark instead of tripping Spark's setTimeoutTimestamp
    validation (which would throw and abort the stream)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fluss_datafusion_spark.streaming.events import (
        changelog_stream,
        events_stream,
        run_to_memory,
    )

    replay = str(tmp_path / "ttl_late")
    os.makedirs(replay)

    def ts(minute):
        return pa.scalar(
            1704067200000000 + minute * 60_000_000, pa.timestamp("us", tz="UTC")
        )

    batches = [
        [(1, 1, 60, "a")],  # advances the watermark to 01:00
        [(2, 2, 0, "x")],   # key 2: only a late row; naive timeout 00:05 <= wm
        [(3, 1, 70, "b")],
    ]
    base = time.time()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "seq": pa.array([r[0] for r in rows], pa.int64()),
                "k": pa.array([r[1] for r in rows], pa.int64()),
                "ts": pa.array(
                    [ts(r[2]).as_py() for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "v": pa.array([r[3] for r in rows], pa.string()),
            }
        )
        fpath = os.path.join(replay, f"batch-{i:05d}.parquet")
        pq.write_table(tbl, fpath)
        os.utime(fpath, (base + i, base + i))

    stream = events_stream(spark, replay, max_files_per_trigger=1).withWatermark(
        "ts", "0 seconds"
    )
    run_to_memory(
        changelog_stream(
            stream,
            key_cols=["k"],
            order_cols=["seq"],
            image_cols=["seq", "v"],
            ttl="5 minutes",
            ts_col="ts",
        ),
        "t_cdc_ttl_late",
        output_mode="update",
    )
    got = {
        (r["op"], r["k"], r["v"])
        for r in spark.sql("SELECT * FROM t_cdc_ttl_late").collect()
    }
    # the late-only key was processed (query did not die) ...
    assert ("+I", 2, "x") in got
    # ... and the live key's chain is intact
    assert {("+I", 1, "a"), ("-U", 1, "a"), ("+U", 1, "b")} <= got


def test_curated_ingest_sink_filters_redacts_dedups(spark, tmp_path):
    """The composed pipeline: quality filter + PII redaction run per
    batch BEFORE dedup-vs-index.  Low-quality docs never reach the
    table or the index; kept docs have PII placeholders; dupes across
    batches are dropped; metrics account for every row."""
    import time

    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.operators.incremental import (
        curation_ingest_transform,
        dedup_ingest_sink,
        write_dedup_index,
    )

    good = (
        "a perfectly reasonable document with enough distinct tokens to"
        " pass every quality heuristic rule easily contact me at"
        " alice@example.com for details"
    )
    batches = [
        [(1, good), (2, "x x x x x x x x x x x x")],       # 2: repeated token
        [(3, good + " tomorrow"), (4, "too short")],        # 3: near-dup of 1
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    replay = str(tmp_path / "cur_replay")
    os.makedirs(replay)
    base = time.time()
    for i, rows in enumerate(batches):
        fp = os.path.join(replay, f"b{i:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            fp,
        )
        os.utime(fp, (base + i, base + i))

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh2"))
    e.sql(
        "CREATE TABLE docs_curated (doc_id BIGINT NOT NULL, text STRING,"
        " PRIMARY KEY (doc_id))"
    )
    index = str(tmp_path / "cur_idx")
    docs_schema = spark.read.parquet(replay).schema
    write_dedup_index(
        spark.createDataFrame([], docs_schema), "doc_id", "text", index
    )

    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    metrics: list = []
    q = dedup_ingest_sink(
        stream, e.catalog, "docs_curated", index, str(tmp_path / "cur_ckpt"),
        threshold=0.4,
        transform=curation_ingest_transform(),
        metrics=metrics,
    )
    q.awaitTermination()

    rows = {r["doc_id"]: r["text"] for r in e.sql("SELECT * FROM docs_curated").collect()}
    # 1 kept (redacted); 2 filtered (repetition); 3 dropped (near-dup of
    # indexed 1); 4 filtered (too short)
    assert set(rows) == {1}
    assert "<EMAIL>" in rows[1] and "alice@example.com" not in rows[1]
    assert sum(m["n_in"] for m in metrics) == 4
    assert sum(m["n_filtered"] for m in metrics) == 2
    assert sum(m["n_dropped"] for m in metrics) == 1
    assert sum(m["n_kept"] for m in metrics) == 1


def test_ann_ingest_sink_streams_vectors_into_index(spark, tmp_path):
    """Streaming vector ingest: batches appended through the sink are
    findable by ann_query_index afterwards, identically to a bulk
    append of the same vectors (frozen quantizer)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import time

    from fluss_datafusion_spark.operators.similarity import (
        ann_ingest_sink,
        ann_query_index,
        append_to_ann_index,
        write_ann_index,
    )
    from fluss_datafusion_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)

    streamed_idx = str(tmp_path / "ann_streamed")
    bulk_idx = str(tmp_path / "ann_bulk")
    write_ann_index(old, "vec_id", "embedding", streamed_idx, n_centroids=8)
    write_ann_index(old, "vec_id", "embedding", bulk_idx, n_centroids=8)

    # replay the new vectors as 2 micro-batches
    replay = str(tmp_path / "vec_replay")
    os.makedirs(replay)
    rows = new.collect()
    base = time.time()
    for i, half in enumerate((rows[::2], rows[1::2])):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r["vec_id"] for r in half], pa.int64()),
                    "embedding": pa.array(
                        [list(map(float, r["embedding"])) for r in half],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            os.path.join(replay, f"b{i:05d}.parquet"),
        )
        os.utime(os.path.join(replay, f"b{i:05d}.parquet"), (base + i, base + i))

    stream = (
        spark.readStream.schema(spark.read.parquet(replay).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    metrics: list = []
    q = ann_ingest_sink(stream, streamed_idx, str(tmp_path / "ann_ckpt"),
                        metrics=metrics)
    q.awaitTermination()
    assert sum(m["n_vectors"] for m in metrics) == len(rows)

    append_to_ann_index(new, "vec_id", "embedding", bulk_idx)
    got = {
        (r["vec_id"], r["neighbor_id"], r["rank"])
        for r in ann_query_index(queries, streamed_idx, "vec_id", "embedding",
                                 k=10, n_probe=3).collect()
    }
    want = {
        (r["vec_id"], r["neighbor_id"], r["rank"])
        for r in ann_query_index(queries, bulk_idx, "vec_id", "embedding",
                                 k=10, n_probe=3).collect()
    }
    assert got == want and len(got) > 0


def test_subscribe_table_changelog_matches_batch_derivation(spark, tmp_path):
    """Live CDC subscription over a PK table's log: the streamed change
    rows must match catalog.read_changelog's batch derivation — insert,
    overwrite (retraction pair), delete, and re-insert."""
    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.streaming.events import (
        run_to_memory,
        subscribe_table_changelog,
    )

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_cdc"))
    e.sql("CREATE TABLE acct (id BIGINT NOT NULL, bal BIGINT, PRIMARY KEY (id))")
    e.sql("INSERT INTO acct VALUES (1, 10)")
    e.sql("INSERT INTO acct VALUES (1, 20)")   # -U(10) +U(20)
    e.sql("INSERT INTO acct VALUES (2, 5)")
    e.sql("DELETE FROM acct WHERE id = 1")     # -D(20)
    e.sql("INSERT INTO acct VALUES (1, 30)")   # +I again after delete

    run_to_memory(
        subscribe_table_changelog(e.catalog, "acct"),
        "t_subscribed",
        output_mode="update",
    )
    got = [
        (r["op"], r["id"], r["bal"])
        for r in spark.sql(
            "SELECT * FROM t_subscribed ORDER BY id, bal NULLS FIRST, op"
        ).collect()
    ]
    want_rows = e.catalog.read_changelog("acct").select("op", "id", "bal").collect()
    want = sorted(
        ((r["op"], r["id"], r["bal"]) for r in want_rows),
        key=lambda t: (t[1], (t[2] is not None, t[2]), t[0]),
    )
    assert sorted(got, key=lambda t: (t[1], (t[2] is not None, t[2]), t[0])) == want
    assert ("+I", 1, 10) in got and ("-U", 1, 10) in got
    assert ("-D", 1, 20) in got and ("+I", 1, 30) in got


def test_subscribe_table_changelog_bucketed_table(spark, tmp_path):
    """Subscription must also work over DISTRIBUTED BY tables, whose log
    is laid out as __bkt__= Hive partition directories."""
    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.streaming.events import (
        run_to_memory,
        subscribe_table_changelog,
    )

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_cdc_bkt"))
    e.sql(
        "CREATE TABLE kv_b (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))"
        " DISTRIBUTED BY (id) INTO 4 BUCKETS"
    )
    e.sql("INSERT INTO kv_b VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    e.sql("INSERT INTO kv_b VALUES (2, 'b2')")

    run_to_memory(
        subscribe_table_changelog(e.catalog, "kv_b"),
        "t_sub_bkt",
        output_mode="update",
    )
    got = {
        (r["op"], r["id"], r["v"])
        for r in spark.sql("SELECT * FROM t_sub_bkt").collect()
    }
    assert {("+I", 1, "a"), ("+I", 2, "b"), ("+I", 3, "c"),
            ("-U", 2, "b"), ("+U", 2, "b2")} == got


def test_changelog_stream_bucketed_state_matches_per_key(spark, tmp_path):
    """state_buckets coarsens only the STATE STORE layout (hash(key)%B
    parallel-array rows, one python invocation per bucket) — emitted
    changelog rows must be identical to the per-key path, including
    tombstones, and combining it with ttl must refuse."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from fluss_datafusion_spark.streaming.events import (
        changelog_stream,
        events_stream,
        run_to_memory,
    )

    batches = [
        [(1, 1, "a", False), (2, 2, "b", False), (3, 3, "c", False)],
        [(4, 1, "a2", False), (5, 2, None, True), (6, 4, "d", False)],
        [(7, 2, "b2", False), (8, 1, None, True), (9, 3, "c2", False)],
    ]

    def run(name, **kwargs):
        replay = str(tmp_path / f"cdc_{name}")
        os.makedirs(replay)
        base = time.time()
        for i, rows in enumerate(batches):
            tbl = pa.table(
                {
                    "seq": pa.array([r[0] for r in rows], pa.int64()),
                    "k": pa.array([r[1] for r in rows], pa.int64()),
                    "v": pa.array([r[2] for r in rows], pa.string()),
                    "is_delete": pa.array([r[3] for r in rows], pa.bool_()),
                }
            )
            fpath = os.path.join(replay, f"batch-{i:05d}.parquet")
            pq.write_table(tbl, fpath)
            os.utime(fpath, (base + i, base + i))
        stream = events_stream(spark, replay, max_files_per_trigger=1)
        run_to_memory(
            changelog_stream(
                stream, key_cols=["k"], order_cols=["seq"],
                image_cols=["seq", "v"], del_col="is_delete", **kwargs,
            ),
            f"t_cdc_{name}", output_mode="update",
        )
        return {
            (r["op"], r["k"], r["seq"], r["v"])
            for r in spark.sql(f"SELECT * FROM t_cdc_{name}").collect()
        }

    per_key = run("perkey")
    bucketed = run("bucketed", state_buckets=2)  # keys share buckets
    assert bucketed == per_key
    assert ("-D", 2, 2, "b") in bucketed  # tombstone carried last image
    assert ("+I", 2, 7, "b2") in bucketed  # re-insert after delete
    # "auto" derives B from the session's shuffle partitions inside the
    # engine (r13) — emitted rows must still match the per-key path
    auto = run("auto", state_buckets="auto")
    assert auto == per_key

    with _pytest.raises(ValueError, match="state_buckets"):
        changelog_stream(
            events_stream(spark, str(tmp_path / "cdc_perkey")),
            key_cols=["k"], order_cols=["seq"], image_cols=["seq", "v"],
            ttl="1 hour", ts_col="seq", state_buckets=4,
        )


def test_interval_join_real_streams_match_batch(spark, tmp_path):
    """REAL stream-stream interval join: two readStream sides replayed
    in micro-batches must emit exactly the batch join's pairs (state
    carries unmatched rows across batch boundaries until the watermark
    passes)."""
    from fluss_datafusion_spark.corpus.streaming_batch import (
        st_stream_interval_join,
    )
    from fluss_datafusion_spark.streaming.events import (
        chunk_table_for_replay,
        events_stream,
        interval_join_streams,
        run_to_memory,
    )

    sf_dir = "/root/testdata/sf0.001"
    replay = chunk_table_for_replay(
        spark, sf_dir, str(tmp_path / "ij_replay"), n_chunks=4
    )
    stream = events_stream(spark, replay, max_files_per_trigger=1)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("c_ts"),
    )
    out = interval_join_streams(
        purchases, clicks, on=["user_id"], left_ts="p_ts", right_ts="c_ts",
        bound="1 hour", watermark="4 hours",
    ).select("purchase_id", "user_id", "click_id")
    run_to_memory(out, "t_ij", output_mode="append")
    got = {
        (r["purchase_id"], r["user_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM t_ij").collect()
    }
    want = {
        (r["purchase_id"], r["user_id"], r["click_id"])
        for r in st_stream_interval_join(spark, sf_dir).collect()
    }
    assert got == want and want, (len(got), len(want))


def test_gapfill_stream_emits_gap_rows_on_watermark(spark, tmp_path):
    """Streaming gapfill: buckets (including EMPTY ones) are emitted as
    the watermark closes them, the grid starts at each key's first
    observed bucket, extends PAST its last observation while other keys
    keep the clock moving, locf carries across batch boundaries, and
    each bucket is emitted exactly once."""
    import datetime

    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        gapfill_stream,
        run_to_memory,
    )

    d = lambda h, m: datetime.datetime(2026, 1, 1, h, m)  # noqa: E731
    chunks = [
        [("a", d(0, 10), 1.0), ("a", d(0, 20), 2.0)],
        [("b", d(1, 5), 7.0), ("a", d(3, 15), 5.0)],
        [("a", d(6, 30), 9.0)],  # advances the watermark; bucket stays open
    ]
    replay = str(tmp_path / "gf_replay")
    os.makedirs(replay, exist_ok=True)
    import time as _time

    base = _time.time()
    for i, rows in enumerate(chunks):
        tmp = str(tmp_path / f"gf_chunk_{i}")
        spark.createDataFrame(
            rows, "event_type string, ts timestamp, value double"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            f for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        f = os.path.join(replay, f"part-{i:05d}.parquet")
        os.rename(os.path.join(tmp, src), f)
        os.utime(f, (base + i, base + i))

    stream = events_stream(spark, replay, max_files_per_trigger=1)
    run_to_memory(
        gapfill_stream(
            stream, 3600, ts_col="ts", key_col="event_type",
            value_col="value", watermark="10 minutes",
        ),
        "t_gapfill_stream",
    )
    got = sorted(
        (r.event_type, r.bucket_ts.hour, r.n_rows, r.sum_v, r.is_gap,
         r.sum_v_locf)
        for r in spark.sql("SELECT * FROM t_gapfill_stream").collect()
    )
    # final watermark = 06:30 - 10min = 06:20 => buckets through hour 5
    # are closed; hour 6 stays open (never emitted)
    assert got == [
        ("a", 0, 2, 3.0, False, 3.0),
        ("a", 1, 0, None, True, 3.0),
        ("a", 2, 0, None, True, 3.0),
        ("a", 3, 1, 5.0, False, 5.0),
        ("a", 4, 0, None, True, 5.0),   # past a's last emit-able event
        ("a", 5, 0, None, True, 5.0),
        ("b", 1, 1, 7.0, False, 7.0),
        ("b", 2, 0, None, True, 7.0),   # b went quiet: timeout-driven gaps
        ("b", 3, 0, None, True, 7.0),
        ("b", 4, 0, None, True, 7.0),
        ("b", 5, 0, None, True, 7.0),
    ]


def test_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream interval join: purchases with no
    preceding click emit with NULL right side once the watermark
    finalizes them; matched rows are identical to the inner join."""
    import datetime

    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        interval_join_streams,
        run_to_memory,
    )

    d = lambda h, m: datetime.datetime(2026, 1, 1, h, m)  # noqa: E731
    # BOTH sides need a late driver row: the global watermark is the MIN
    # across sources, so outer-row finalization waits for the slower one
    clicks = [("u1", d(1, 0)), ("u3", d(1, 5)), ("u9", d(9, 0))]
    buys = [("u1", d(1, 30), 9.0),   # matched (click 30 min before)
            ("u2", d(1, 40), 5.0),   # no click at all
            ("u3", d(3, 30), 7.0),   # click too old (> 1 hour bound)
            ("u4", d(9, 0), 1.0)]    # late driver row: pushes the watermark
    cdir, bdir = str(tmp_path / "oj_clicks"), str(tmp_path / "oj_buys")
    spark.createDataFrame(clicks, "user string, click_ts timestamp") \
        .coalesce(1).write.mode("overwrite").parquet(cdir)
    spark.createDataFrame(buys, "user string, buy_ts timestamp, amt double") \
        .coalesce(1).write.mode("overwrite").parquet(bdir)

    out = interval_join_streams(
        events_stream(spark, bdir, max_files_per_trigger=None),
        events_stream(spark, cdir, max_files_per_trigger=None),
        on=["user"], left_ts="buy_ts", right_ts="click_ts",
        bound="1 hour", watermark="10 minutes", join_type="left_outer",
    )
    run_to_memory(out, "t_oj")
    got = sorted(
        (r.user, r.buy_ts.hour, r.click_ts.hour if r.click_ts else None)
        for r in spark.sql("SELECT * FROM t_oj").collect()
    )
    # u1 matched; u2 and u3 emitted unmatched (u3's click is out of
    # bound); u4 itself is not yet past the watermark -> withheld
    assert got == [("u1", 1, 1), ("u2", 1, None), ("u3", 3, None)]


def test_streaming_heavy_hitters_superset_guarantee(spark, replay_dir):
    """The union of final per-bucket Misra-Gries summaries must contain
    every item whose exact count exceeds n_bucket/(k+1) (here: every
    user with a clear majority presence), with lower-bound counts."""
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        run_to_memory,
        streaming_heavy_hitters,
    )

    stream = events_stream(spark, replay_dir, max_files_per_trigger=1)
    run_to_memory(
        streaming_heavy_hitters(stream, "user_id", k=8, buckets=4),
        "t_hh",
        output_mode="update",
    )
    rows = spark.sql("SELECT * FROM t_hh").collect()
    assert rows, "summaries must be emitted"
    # final summary per bucket = the emission with the highest n_bucket
    final_n = {}
    for r in rows:
        final_n[r.bucket] = max(final_n.get(r.bucket, 0), r.n_bucket)
    final = {
        (r.bucket, r.item): r.count_lb
        for r in rows
        if r.n_bucket == final_n[r.bucket]
    }
    # per-bucket summary size bounded by k
    from collections import Counter

    per_bucket = Counter(b for b, _ in final)
    assert all(v <= 8 for v in per_bucket.values())

    batch = spark.read.parquet(replay_dir)
    exact = {
        str(r.user_id): r.n
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import pyspark.sql.functions as SF  # noqa: F401  (F already imported)

    # recompute each item's bucket + bucket totals to apply the bound
    bucketed = (
        batch.select(F.col("user_id").cast("string").alias("item"))
        .withColumn("b", F.pmod(F.xxhash64("item"), F.lit(4)).cast("int"))
        .groupBy("b", "item")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_bucket = Counter()
    for r in bucketed:
        n_bucket[r.b] += r.n
    candidates = {item for (_, item) in final}
    for r in bucketed:
        if r.n > n_bucket[r.b] / (8 + 1):
            assert r.item in candidates, f"{r.item} must be in the summary"
    # lower-bound property: stored count never exceeds the exact count
    for (b, item), lb in final.items():
        assert lb <= exact[item]


def test_lookup_enrich_sink_sees_latest_dim_snapshot(spark, tmp_path):
    """Processing-time temporal lookup join (Flink lookup-join
    semantics): each micro-batch joins the PK dimension's CURRENT
    state, so an upsert between batches changes the enrichment of later
    batches only."""
    import pyspark.sql.functions as F

    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.streaming.events import lookup_enrich_sink

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh_lookup"))
    e.sql("CREATE TABLE dim (user_id BIGINT NOT NULL, tier STRING, PRIMARY KEY (user_id))")
    e.sql("INSERT INTO dim VALUES (1, 'bronze'), (2, 'bronze')")
    e.sql(
        "CREATE TABLE enriched (event_id BIGINT NOT NULL, user_id BIGINT,"
        " tier STRING, PRIMARY KEY (event_id))"
    )
    src = str(tmp_path / "lookup_src")
    ckpt = str(tmp_path / "lookup_ckpt")
    schema = "event_id bigint, user_id bigint"

    def run_available(metrics):
        stream = spark.readStream.schema(schema).parquet(src)
        q = lookup_enrich_sink(
            stream.select("event_id", "user_id"), e.catalog, "dim",
            "user_id", "enriched", ckpt, metrics=metrics,
        )
        q.awaitTermination(120)

    metrics = []
    spark.createDataFrame([(10, 1), (11, 2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available(metrics)
    # dim changes between batches: tier upgrade + a new user
    e.sql("INSERT INTO dim VALUES (1, 'gold'), (3, 'silver')")
    spark.createDataFrame([(20, 1), (21, 3)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_available(metrics)

    got = {
        (r.event_id, r.tier)
        for r in e.sql("SELECT event_id, tier FROM enriched").collect()
    }
    # batch 1 saw bronze for user 1 and no user 3; batch 2 saw the upgrade
    assert got == {(10, "bronze"), (11, "bronze"), (20, "gold"), (21, "silver")}
    assert sum(m["rows"] for m in metrics) == 4
    for t in ("dim", "enriched"):
        e.sql(f"DROP TABLE {t}")


def test_streaming_zscore_matches_batch_operator(spark, replay_dir):
    """Online z-score anomalies over a real micro-batch replay equal the
    batch operator row-for-row (state = the n-value trailing buffer)."""
    from fluss_datafusion_spark.operators.timeseries import zscore_anomalies
    from fluss_datafusion_spark.streaming.events import (
        events_stream,
        run_to_memory,
        streaming_zscore_anomalies,
    )

    stream = events_stream(spark, replay_dir, max_files_per_trigger=1).select(
        "event_type", "ts", "event_id", "value"
    )
    run_to_memory(
        streaming_zscore_anomalies(
            stream, "event_type", "ts", "value", "event_id", n=10, min_history=4
        ),
        "t_zscore",
    )
    got = {
        r.event_id: (None if r.zscore is None else round(r.zscore, 6), r.is_anomaly)
        for r in spark.sql("SELECT * FROM t_zscore").collect()
    }
    batch = zscore_anomalies(
        spark.read.parquet(replay_dir),
        ["event_type"], "ts", "value", n=10, min_history=4,
        tiebreak_cols=["event_id"],
    )
    want = {
        r.event_id: (None if r.zscore is None else round(r.zscore, 6), r.is_anomaly)
        for r in batch.collect()
    }
    assert len(got) == len(want) > 0
    mismatches = {k for k in want if got[k] != want[k]}
    assert not mismatches, list(mismatches)[:5]


def test_wap_ingest_sink_end_to_end(spark, tmp_path):
    """Streaming Write-Audit-Publish: three micro-batches land on a
    staging branch, violators are quarantined per batch, publication
    fast-forwards every 2 batches.  Main must contain exactly the clean
    rows of published batches; the unpublished tail stays branch-only;
    the branch history retains the quarantined rows as tombstoned
    statements (the replayable audit trail)."""
    import time

    from fluss_datafusion_spark import EngineSession
    from fluss_datafusion_spark.operators.incremental import wap_ingest_sink
    from fluss_datafusion_spark.session import read_table

    docs = read_table(
        spark, "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    replay = str(tmp_path / "wap_replay")
    docs.repartitionByRange(3, "doc_id").write.mode("overwrite").parquet(replay)
    parts = sorted(
        f for f in os.listdir(replay)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time()
    for i, fname in enumerate(parts):
        os.utime(os.path.join(replay, fname), (base + i, base + i))

    e = EngineSession(spark=spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE wap_docs (doc_id BIGINT NOT NULL, text STRING,"
        " PRIMARY KEY (doc_id))"
    )
    e.sql("ALTER TABLE wap_docs CREATE BRANCH staging")

    bad = "doc_id % 7 = 0"  # the expectation: these rows must not publish
    schema = spark.read.parquet(replay).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    metrics: list = []
    q = wap_ingest_sink(
        stream, e.catalog, "wap_docs", "staging",
        str(tmp_path / "wap_ckpt"), violation_predicate=bad,
        publish_every=2, metrics=metrics,
    )
    q.awaitTermination()

    assert [m["published"] for m in metrics] == [False, True, False]
    assert sum(m["n_in"] for m in metrics) == docs.count()
    assert sum(m["n_quarantined"] for m in metrics) == docs.filter(bad).count()

    # main = clean rows of the two PUBLISHED batches (batch replay order
    # is mtime order = doc_id ranges, so published docs are batches 0+1)
    got_main = {r.doc_id for r in e.sql("SELECT doc_id FROM wap_docs").collect()}
    clean = docs.filter(f"NOT ({bad})")
    n_b01 = metrics[0]["n_in"] + metrics[1]["n_in"]
    expect_main = {
        r.doc_id
        for r in clean.orderBy("doc_id").collect()
        if r.doc_id in {x.doc_id for x in docs.orderBy("doc_id").limit(n_b01).collect()}
    }
    assert got_main == expect_main
    # the staging branch sees ALL clean rows (published + pending)
    got_branch = {
        r.doc_id
        for r in e.catalog.read_branch("wap_docs", "staging").collect()
    }
    assert got_branch == {r.doc_id for r in clean.collect()}
    # quarantined rows never reach main or the branch state
    assert not any(d % 7 == 0 for d in got_main | got_branch)
