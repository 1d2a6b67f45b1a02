"""Structured Streaming layer: log-table semantics done properly.

The reference treats a Fluss log table as a *bounded snapshot* — its scan
subscribes from offset 0 to the latest offset at plan time and stops
(FlussScanExec, src/provider.rs:336-393; Boundedness::Bounded at
src/provider/scan_exec.rs:44).  Structured Streaming gives us both
halves faithfully:

- ``Trigger.AvailableNow`` = exactly the reference's read-to-latest
  snapshot (consume everything present at start, then stop);
- an unbounded ``readStream`` with watermarks/windows = what a real
  stream processor does and the reference cannot (SURVEY.md §2 Tier B:
  watermark/window state is absent there).

A log table's bucket offsets map to the file-source's per-file progress;
``max_files_per_trigger`` replays a table as deterministic micro-batches
for tests.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def chunk_table_for_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4, table: str = "events"
) -> str:
    """Write the events table as `n_chunks` time-ordered parquet files so
    the file stream source replays it as ordered micro-batches."""
    from fluss_datafusion_spark.session import read_table

    ev = read_table(spark, os.path.join(sf_dir, f"{table}.parquet"))
    return chunk_df_for_replay(ev, out_dir, n_chunks)


def chunk_df_for_replay(df: DataFrame, out_dir: str, n_chunks: int = 4) -> str:
    """Write an arbitrary event DataFrame (must carry a ``ts`` column)
    as time-ordered replay chunks — the frame-level form of
    :func:`chunk_table_for_replay` for callers whose input is derived,
    not a raw testdata table."""
    # Range-partition by ts: part-00000..part-0000N hold ascending time
    # ranges, so maxFilesPerTrigger=1 replays history in order.
    (
        df.repartitionByRange(n_chunks, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # FileStreamSource orders files by (modificationTime, path); the part
    # files above are written by parallel tasks, so their mtimes land in
    # arbitrary order.  Restamp them ascending in part-number order to make
    # the replay sequence deterministic.
    import time

    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = time.time()
    for i, fname in enumerate(parts):
        ts = base + i
        os.utime(os.path.join(out_dir, fname), (ts, ts))
    return out_dir


def events_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: Optional[int] = 1,
) -> DataFrame:
    """Open a parquet directory as a micro-batched stream."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


# -- windowed aggregations ---------------------------------------------------


def tumbling_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts with late-data handling."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), key_col, "n", "total_value")
    )


def session_window_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Native session windows (gap-close semantics — the streaming twin of
    operators/sessionize.py)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n",
        )
    )


def streaming_dedup(
    stream: DataFrame, keys=("event_id",), watermark: str = "2 hours", ts_col: str = "ts"
) -> DataFrame:
    """Exactly-once-per-key events within the watermark horizon
    (dropDuplicates keeps the first arrival; state is evicted past the
    watermark, which bounds memory at scale)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates([*keys])


# -- sinks -------------------------------------------------------------------


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    final_flush: bool = True,
):
    """Execute a streaming plan with AvailableNow (the reference's
    read-to-latest-offset snapshot semantics) into an in-memory table;
    returns after completion.

    ``final_flush=False`` disables the trailing no-data micro-batch
    Spark schedules after the last data batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``).  That batch
    exists to advance the watermark so append-mode AGGREGATIONS can
    emit their final windows and state can be evicted — for queries
    whose sink emits EAGERLY (inner stream-stream joins, streaming
    dedup, update/complete-mode stateful ops) it produces zero rows
    while still paying a full state-store pass on every partition
    (profiled ~1.6-2.2 s of a ~6-8 s interval-join replay —
    tools/profile_stream_interval_join.py).  An AvailableNow run
    terminates right after it, so the eviction work is thrown away.
    Callers whose query NEEDS watermark-finalized emission (e.g.
    session_window in append mode) must keep the default."""
    session = stream_df.sparkSession
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = session.conf.get(key)
    if not final_flush:
        session.conf.set(key, "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        session.conf.set(key, prior)
    return q


def upsert_sink(
    stream_df: DataFrame,
    catalog,
    table: str,
    checkpoint: str,
    metrics: Optional[list] = None,
):
    """foreachBatch upsert into a PK table — the streaming materialized
    view the reference builds inside the Fluss tablet server (INSERT =
    upsert, src/provider.rs:411-441).  Each micro-batch flows through the
    catalog's log-structured writer; reads always see merged state.

    ``metrics``: optional list; one dict per committed micro-batch is
    appended ({batch_id, rows, seconds}).  The row count comes from the
    catalog's post-write parquet footer count, so recording it is free —
    no second execution of the batch plan.
    """
    import time as _time

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        t0 = _time.monotonic()
        n = catalog.insert(table, batch_df)
        if metrics is not None:
            metrics.append(
                {
                    "batch_id": batch_id,
                    "rows": n,
                    "seconds": round(_time.monotonic() - t0, 3),
                }
            )

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# -- custom stateful operator ------------------------------------------------


def running_user_counts(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    running per-user event count carried across micro-batches (state is
    one long per user — the minimal keyed-state pattern)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, n_events bigint"
    state_schema = "n bigint"

    def update(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def changelog_stream(
    stream: DataFrame,
    key_cols,
    order_cols,
    image_cols,
    del_col: str = None,
    ttl: str = None,
    ts_col: str = None,
    state_buckets: int = None,
) -> DataFrame:
    """Streaming changelog derivation: turn an upsert stream into
    +I/-U/+U change rows ACROSS micro-batches — the streaming half of
    the table↔changelog duality (batch half: catalog.read_changelog).
    The reference cannot express this at all: it has no keyed state
    (SURVEY.md §2 Tier B streaming row).

    Keyed state via applyInPandasWithState holds the last image per key
    (a few values per key — the minimal state for CDC).  Within a batch
    rows are ordered by ``order_cols``; the first-ever write per key
    emits +I, every later one emits -U(previous image) then +U(new).
    Emission is per-batch (output mode "update"): the union of all
    batches' outputs is the full changelog.

    ``del_col`` names an optional boolean column marking tombstone rows:
    a flagged row emits -D carrying the last live image and clears the
    key's state (mirroring catalog.read_changelog's -D semantics);
    deletes of absent keys emit nothing.  ``del_col`` must not be listed
    in ``image_cols``.

    ``ttl`` (e.g. ``"1 hour"``) bounds state for an unbounded key space:
    a key whose last event is older than the watermark by more than the
    TTL has its state evicted via EventTimeTimeout.  After eviction the
    key's next write emits +I (not -U/+U) — the documented trade-off of
    bounded state, identical to what a watermarked streaming dedup
    accepts.  Requires ``ts_col`` (an event-time column present in the
    stream) and a ``withWatermark`` upstream.  Without ``ttl`` state
    lives forever (NoTimeout), correct for a bounded key space.

    Scale shape: state is hash-partitioned on the key (same shuffle a
    streaming agg pays); per-key per-batch row counts are small, so the
    python loop inside each group is bounded by batch size, not corpus
    size.  With ``ttl`` set, state size is bounded by the number of keys
    active inside one TTL horizon instead of all keys ever seen.

    ``state_buckets=B`` coarsens the STATE STORE key to hash(key) % B:
    one state row holds every key in its bucket as parallel arrays, and
    one python invocation processes the whole bucket's rows.  Per-key
    state pays a fixed Arrow/pandas round-trip per key per micro-batch —
    with millions of keys that invocation overhead IS the cost (measured
    ~0.7 ms/key/batch) — while bucketed state pays it B times per batch.
    Emitted rows are identical (per-key semantics derive from the
    per-bucket loop); pick B ~ a few x cores.  Incompatible with ``ttl``
    (timeout granularity would become the bucket, silently evicting
    fresh keys that share a bucket with stale ones — refuse instead).
    ``state_buckets="auto"`` derives B = 2 x the session's
    ``spark.sql.shuffle.partitions`` (the knob that already tracks
    cluster width): ~2 buckets per state partition keeps every task
    busy while paying the per-bucket round-trip a small constant number
    of times per batch — the scale-adaptive sizing rather than a
    constant tuned for one host.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if ttl is not None and ts_col is None:
        raise ValueError("changelog_stream: ttl requires ts_col")
    if state_buckets is not None:
        if ttl is not None:
            raise ValueError(
                "changelog_stream: state_buckets is incompatible with ttl "
                "(eviction would act on whole buckets, not keys)"
            )
        if state_buckets == "auto":
            state_buckets = 2 * int(
                stream.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        return _bucketed_changelog_stream(
            stream, list(key_cols), list(order_cols), list(image_cols),
            del_col, int(state_buckets),
        )
    ttl_ms = _parse_duration_ms(ttl) if ttl is not None else None

    key_cols, order_cols, image_cols = (
        list(key_cols),
        list(order_cols),
        list(image_cols),
    )
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    key_ddl = ", ".join(f"{c} {fields[c]}" for c in key_cols)
    img_ddl = ", ".join(f"{c} {fields[c]}" for c in image_cols)
    output_schema = f"op string, {key_ddl}, {img_ddl}"
    state_schema = img_ddl

    def update(key, pdf_iter, state):
        def native(v):
            return v.item() if hasattr(v, "item") else v

        if ttl_ms is not None and state.hasTimedOut:
            # watermark passed last-event-time + TTL with no new data:
            # evict.  The next write for this key will emit +I.
            state.remove()
            out = pd.DataFrame([], columns=["op", *key_cols, *image_cols])
            yield out
            return

        prev = list(state.get) if state.exists else None
        ops, images = [], []
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(order_cols, kind="mergesort")
            for row in batch.itertuples(index=False):
                if del_col is not None and bool(getattr(row, del_col)):
                    if prev is not None:
                        ops.append("-D")
                        images.append(prev)
                    prev = None
                    continue
                img = [native(getattr(row, c)) for c in image_cols]
                if prev is None:
                    ops.append("+I")
                    images.append(img)
                else:
                    ops.append("-U")
                    images.append(prev)
                    ops.append("+U")
                    images.append(img)
                prev = img
            if prev is None:
                if state.exists:
                    state.remove()
            else:
                state.update(tuple(prev))
                if ttl_ms is not None:
                    # Spark rejects a timeout at-or-before the current
                    # watermark with IllegalArgumentException (killing
                    # the query) — a key fed only late rows would hit
                    # that, so clamp to just past the watermark.
                    last_ms = int(batch[ts_col].max().value // 1_000_000)
                    wm_ms = state.getCurrentWatermarkMs()
                    state.setTimeoutTimestamp(max(last_ms + ttl_ms, wm_ms + 1))
        out = pd.DataFrame(images, columns=image_cols)
        out.insert(0, "op", ops)
        for i, c in enumerate(key_cols):
            out.insert(1 + i, c, native(key[i]))
        yield out

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(*key_cols).applyInPandasWithState(
        update, output_schema, state_schema, "update", timeout
    )


def _bucketed_changelog_stream(
    stream: DataFrame,
    key_cols,
    order_cols,
    image_cols,
    del_col,
    n_buckets: int,
) -> DataFrame:
    """Bucketed-state changelog derivation (see ``changelog_stream``):
    groups by hash(key) % n_buckets; each group's state row carries the
    bucket's keys and last images as parallel arrays.  Emits exactly the
    rows the per-key path emits."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    key_ddl = ", ".join(f"{c} {fields[c]}" for c in key_cols)
    img_ddl = ", ".join(f"{c} {fields[c]}" for c in image_cols)
    output_schema = f"op string, {key_ddl}, {img_ddl}"
    state_schema = ", ".join(
        f"{c} array<{fields[c]}>" for c in (*key_cols, *image_cols)
    )
    nk, ni = len(key_cols), len(image_cols)

    def update(bucket_key, pdf_iter, state):
        chunks = list(pdf_iter)
        batch = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        )
        prev_map = {}
        if state.exists:
            vals = list(state.get)
            for i in range(len(vals[0]) if vals and vals[0] is not None else 0):
                prev_map[tuple(a[i] for a in vals[:nk])] = tuple(
                    a[i] for a in vals[nk:]
                )
        ops, key_vals, images = [], [], []
        if len(batch) and del_col is None:
            # Vectorized emission (r9 — the bench-profiled path): the
            # per-row python loop was ~2/3 of the kernel's wall.  With
            # no tombstones, a row's previous image is (a) the PREVIOUS
            # ROW's image when it shares the key (batch sorted by
            # key+order → pandas shift), else (b) the state map's image
            # — looked up only at each key's FIRST row, so python-level
            # work is O(keys-in-bucket), not O(rows).  -U/+U pairs are
            # interleaved with a numpy repeat; emitted rows are
            # byte-identical to the loop's (equivalence pytest-pinned).
            import numpy as np

            batch = batch.sort_values(
                key_cols + order_cols, kind="mergesort"
            ).reset_index(drop=True)
            n = len(batch)
            same = (
                (batch[key_cols] == batch[key_cols].shift())
                .all(axis=1)
                .to_numpy()
            )
            same[0] = False
            k_arrs = [batch[c].to_numpy(dtype=object) for c in key_cols]
            img_arrs = [batch[c].to_numpy(dtype=object) for c in image_cols]
            shifted = [np.roll(a, 1) for a in img_arrs]
            first_idx = np.flatnonzero(~same)
            # state lookups: one per key in the bucket's batch
            state_prev = {}
            for i in first_idx:
                k = tuple(a[i] for a in k_arrs)
                p = prev_map.get(k)
                if p is not None:
                    state_prev[i] = p
            has_prev = same.copy()
            if state_prev:
                has_prev[list(state_prev)] = True
            reps = np.where(has_prev, 2, 1)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(reps[:-1], out=starts[1:])
            total = int(starts[-1] + reps[-1]) if n else 0
            idx = np.repeat(np.arange(n), reps)
            second = np.zeros(total, dtype=bool)
            second[starts[has_prev] + 1] = True
            op_arr = np.where(
                second, "+U", np.where(has_prev[idx], "-U", "+I")
            )
            out = {"op": op_arr}
            for j, c in enumerate(key_cols):
                out[c] = k_arrs[j][idx]
            emit_prev = has_prev[idx] & ~second  # the -U rows
            for j, c in enumerate(image_cols):
                vals = img_arrs[j][idx].copy()
                prev_vals = shifted[j][idx]
                vals[emit_prev] = prev_vals[emit_prev]
                # first-row -U images come from state, not the shift
                for i, p in state_prev.items():
                    vals[starts[i]] = p[j]
                out[c] = vals
            # new state: each key's LAST image; untouched keys persist
            is_last = np.ones(n, dtype=bool)
            is_last[:-1] = ~same[1:]
            for i in np.flatnonzero(is_last):
                prev_map[tuple(a[i] for a in k_arrs)] = tuple(
                    a[i] for a in img_arrs
                )
            state.update(
                tuple(
                    [[k[j] for k in prev_map] for j in range(nk)]
                    + [[v[j] for v in prev_map.values()] for j in range(ni)]
                )
            )
            yield pd.DataFrame(out, columns=["op", *key_cols, *image_cols])
            return
        if len(batch):
            batch = batch.sort_values(
                key_cols + order_cols, kind="mergesort"
            )
            cols = key_cols + image_cols + ([del_col] if del_col else [])
            arrays = [batch[c].tolist() for c in cols]
            for vals_row in zip(*arrays):
                k = vals_row[:nk]
                img = vals_row[nk:nk + ni]
                if del_col is not None and (
                    vals_row[-1] is not None
                    and not pd.isna(vals_row[-1])
                    and bool(vals_row[-1])
                ):
                    prev = prev_map.pop(k, None)
                    if prev is not None:
                        ops.append("-D")
                        key_vals.append(k)
                        images.append(prev)
                    continue
                prev = prev_map.get(k)
                if prev is None:
                    ops.append("+I")
                else:
                    ops.append("-U")
                    key_vals.append(k)
                    images.append(prev)
                    ops.append("+U")
                key_vals.append(k)
                images.append(img)
                prev_map[k] = img
            if prev_map:
                ks, vs = list(prev_map), list(prev_map.values())
                state.update(
                    tuple(
                        [[k[i] for k in ks] for i in range(nk)]
                        + [[v[i] for v in vs] for i in range(ni)]
                    )
                )
            elif state.exists:
                state.remove()
        out = {"op": ops}
        for i, c in enumerate(key_cols):
            out[c] = [k[i] for k in key_vals]
        for i, c in enumerate(image_cols):
            out[c] = [v[i] for v in images]
        yield pd.DataFrame(out, columns=["op", *key_cols, *image_cols])

    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))
    return (
        stream.withColumn("__skb__", bucket)
        .groupBy("__skb__")
        .applyInPandasWithState(
            update, output_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def gapfill_stream(
    stream: DataFrame,
    every_seconds: int,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators/timeseries.gapfill``: emit one row
    per (key, grid bucket) — INCLUDING the empty buckets — as the
    watermark closes them, so a monitoring/feature consumer sees a
    regular grid live instead of after a batch job.

    Contract (append-mode): a bucket [b, b+every) is emitted once the
    watermark passes b+every.  The grid starts at each key's first
    observed bucket (the batch per-group-span rule) and then extends
    through every closed bucket — also PAST the last observation, which
    batch gapfill cannot do (it has no notion of "now"): a key that
    stops reporting keeps producing gap rows, the exact signal a
    monitor wants.  Columns: n_rows (0 on gaps), sum_v (null on gaps),
    is_gap, sum_v_locf (last observed bucket's sum carried forward).
    Events that arrive after their bucket was already emitted are
    dropped — size ``watermark`` to the lateness you must absorb.

    Scale shape: keyed state via applyInPandasWithState holds only the
    OPEN buckets (bounded by watermark delay / every) plus two scalars
    per key; emission advances a cursor so each bucket is produced
    exactly once.  EventTimeTimeout fires state even when a key's own
    partition of the stream goes quiet, so gap rows don't wait for the
    key's next event.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    step_us = int(every_seconds) * 1_000_000
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    output_schema = (
        f"{key_col} {fields[key_col]}, bucket_ts timestamp, n_rows bigint,"
        " sum_v double, is_gap boolean, sum_v_locf double"
    )
    state_schema = (
        "last_emitted_us long, locf double, has_locf boolean,"
        " b_us array<long>, b_n array<long>, b_sum array<double>"
    )

    def update(key, pdf_iter, state):
        def native(v):
            return v.item() if hasattr(v, "item") else v

        if state.exists:
            last_emitted, locf, has_locf, b_us, b_n, b_sum = state.get
            open_b = {
                b: [n, s] for b, n, s in zip(b_us, b_n, b_sum)
            }
        else:
            last_emitted, locf, has_locf, open_b = -1, 0.0, False, {}

        for pdf in pdf_iter:
            for t, v in zip(pdf[ts_col], pdf[value_col]):
                b = (int(t.value // 1_000) // step_us) * step_us
                if last_emitted >= 0 and b <= last_emitted:
                    continue  # late past emission: dropped
                acc = open_b.setdefault(b, [0, 0.0])
                acc[0] += 1
                acc[1] += float(v)

        wm_us = state.getCurrentWatermarkMs() * 1_000
        hi = (wm_us // step_us) * step_us - step_us
        start = last_emitted + step_us if last_emitted >= 0 else (
            min((b for b in open_b if b <= hi), default=None)
        )
        out = []
        if start is not None:
            b = start
            while b <= hi:
                if b in open_b:
                    n, s = open_b.pop(b)
                    locf, has_locf = s, True
                    out.append((b, n, s, False, s))
                else:
                    out.append(
                        (b, 0, None, True, locf if has_locf else None)
                    )
                last_emitted = b
                b += step_us
        state.update((
            last_emitted, locf, has_locf,
            sorted(open_b), [open_b[b][0] for b in sorted(open_b)],
            [open_b[b][1] for b in sorted(open_b)],
        ))
        # wake when the next bucket closes, even if this key goes quiet
        next_close = (
            last_emitted + 2 * step_us if last_emitted >= 0
            else (min(open_b) + step_us if open_b else wm_us + step_us)
        )
        state.setTimeoutTimestamp(max(next_close // 1_000, state.getCurrentWatermarkMs() + 1))
        if not out:
            return
        pdf = pd.DataFrame(
            out, columns=["b_us", "n_rows", "sum_v", "is_gap", "sum_v_locf"]
        )
        yield pd.DataFrame(
            {
                key_col: native(key[0]),
                "bucket_ts": pd.to_datetime(pdf["b_us"].astype("int64"), unit="us"),
                "n_rows": pdf["n_rows"].astype("int64"),
                "sum_v": pdf["sum_v"].astype("float64"),
                "is_gap": pdf["is_gap"].astype("bool"),
                "sum_v_locf": pdf["sum_v_locf"].astype("float64"),
            }
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, output_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str = "ts",
    right_ts: str = "ts",
    bound: str = "1 hour",
    watermark: str = "2 hours",
    join_type: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left row
    with right rows sharing ``on`` whose ``right_ts`` falls in
    [left_ts - bound, left_ts] — the attribution-join shape (purchase ->
    preceding click).  Works on two readStream DataFrames (Spark's
    native stream-stream join: both sides watermarked + a time-range
    condition lets the engine bound each side's join state and evict
    rows older than watermark - bound) and identically on two batch
    DataFrames (the corpus entry's analog).

    ``join_type``: "inner" or "left_outer" — the outer form emits an
    unmatched left row (right side NULL) once the watermark proves no
    match can still arrive, the "purchases with no attributable click"
    report a pure inner join silently drops.  Spark requires the
    watermark + time bound for exactly this reason: without them an
    outer result could never be finalized.

    ``left_ts``/``right_ts`` must be distinct column names (rename
    before calling — the result carries both).  Scale shape: state is
    hash-partitioned on the equi-keys like any streaming join; the
    watermark bounds state to the ``watermark`` horizon per key.
    """
    if join_type not in ("inner", "left_outer"):
        raise ValueError(
            f"join_type must be inner or left_outer, got {join_type!r}"
        )
    if left_ts == right_ts:
        raise ValueError(
            "interval_join_streams: rename the ts columns apart — the "
            "result carries both sides' timestamps"
        )
    if left.isStreaming or right.isStreaming:
        left = left.withWatermark(left_ts, watermark)
        right = right.withWatermark(right_ts, watermark)
    cond = F.lit(True)
    for c in on:
        cond = cond & (left[c] == right[c])
    cond = (
        cond
        & (right[right_ts] <= left[left_ts])
        & (right[right_ts] >= left[left_ts] - F.expr(f"INTERVAL {bound}"))
    )
    joined = left.join(right, cond, join_type)
    for c in on:  # keep one copy of the equi-keys
        joined = joined.drop(right[c])
    return joined


def _parse_duration_ms(text: str) -> int:
    qty, unit = text.split()
    return int(qty) * {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]


def session_counts_update(
    stream: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Update-mode session windows — the mode Spark's native
    ``session_window`` refuses (STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION
    for update mode).  Implemented as a custom stateful operator: keyed
    state holds the one open session per key (start, last-event, count);
    each micro-batch emits every session it touched — closed sessions
    with ``final=true`` (gap elapsed inside the batch) and the still-open
    session with ``final=false``.  Downstream consumers keep the
    highest-count row per (key, session_start): counts only grow, so that
    row is the session's current truth.

    Semantics match the native operator on in-order streams:
    ``session_end = last event + gap`` (session_window's close rule).
    Out-of-order events earlier than the open session's start would
    need session-merge state (the native append-mode operator handles
    that — use ``session_counts`` when late merges matter more than
    update-mode emission).

    Scale shape: state is 3 longs per key, hash-partitioned on the key;
    per-batch python work is O(batch rows) after the groupBy shuffle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = _parse_duration_ms(gap) * 1000
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    output_schema = (
        f"{key_col} {fields[key_col]}, session_start timestamp,"
        " session_end timestamp, n bigint, final boolean"
    )
    state_schema = "start_us long, last_us long, n long"

    def update(key, pdf_iter, state):
        def native(v):
            return v.item() if hasattr(v, "item") else v

        cur = list(state.get) if state.exists else None
        out = []  # (start_us, last_us, n, final)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        if len(batch):
            for t in batch[ts_col].sort_values():
                t_us = int(t.value // 1_000)
                if cur is None:
                    cur = [t_us, t_us, 1]
                elif t_us - cur[1] < gap_us:
                    # strict <: per-event windows are [t, t+gap) and
                    # merge only when they overlap (session_window rule)
                    cur[1] = max(cur[1], t_us)
                    cur[2] += 1
                else:
                    out.append((*cur, True))
                    cur = [t_us, t_us, 1]
            out.append((*cur, False))
            state.update(tuple(cur))
        pdf = pd.DataFrame(
            out, columns=["start_us", "last_us", "n", "final"]
        )
        yield pd.DataFrame(
            {
                key_col: native(key[0]),
                "session_start": pd.to_datetime(pdf["start_us"], unit="us"),
                "session_end": pd.to_datetime(pdf["last_us"] + gap_us, unit="us"),
                "n": pdf["n"],
                "final": pdf["final"],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 minute") -> DataFrame:
    """Per-user session windows over the stream: watermark bounds state,
    append mode emits a session once the watermark passes its close.
    This is the operator the reference cannot express at all (it has no
    window/watermark state; SURVEY.md §2 Tier B streaming row)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


def enrich_stream(
    stream: DataFrame, dim: DataFrame, on, how: str = "left", broadcast: bool = False
) -> DataFrame:
    """Stream-static join: enrich a stream with a dimension table.  The
    static side is re-read per micro-batch (so slowly-changing dims pick
    up updates) — no state, no watermark needed.  By default the join
    strategy is left to stats/AQE (a large dim must NOT be
    force-broadcast every micro-batch — that OOMs the driver); pass
    ``broadcast=True`` only when the caller knows the dim is small
    enough, which also keeps the streaming side shuffle-free."""
    dim_side = F.broadcast(dim) if broadcast else dim
    return stream.join(dim_side, on, how)


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: pair events sharing ``key_col`` where
    the right event lands in ``[left_ts, left_ts + within]`` — the
    correlation primitive (click->view, request->response).  Both sides
    carry watermarks and the join condition bounds event time, so Spark
    can evict join state once the watermark passes — bounded state, the
    requirement for an unbounded run.

    Column names are prefixed l_/r_ in the output (Spark rejects
    ambiguous self-join references otherwise).
    """
    lcols = [F.col(c).alias(f"l_{c}") for c in left.columns]
    rcols = [F.col(c).alias(f"r_{c}") for c in right.columns]
    lw = left.select(*lcols).withWatermark(f"l_{left_ts}", watermark)
    rw = right.select(*rcols).withWatermark(f"r_{right_ts}", watermark)
    cond = (
        (F.col(f"l_{key_col}") == F.col(f"r_{key_col}"))
        & (F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}"))
        & (
            F.col(f"r_{right_ts}")
            <= F.col(f"l_{left_ts}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond)


def subscribe_table_changelog(catalog, name: str) -> DataFrame:
    """LIVE changelog subscription to a PK table: a streaming DataFrame
    of +I/-U/+U/-D change rows that follows the table as writers keep
    INSERTing/DELETEing through the catalog — the streaming half of
    Fluss's table↔changelog duality (``catalog.read_changelog`` is the
    batch half; the reference exposes neither, only snapshots).

    How: the table's log directory IS an append-only stream of stamped
    parquet files, so ``readStream.parquet`` over it ingests each commit
    as a micro-batch in arrival order, and the keyed-state
    ``changelog_stream`` operator derives retractions across batches
    (state = last image per PK, the minimal CDC state).  Subscribing
    after rows already exist replays the retained log first — the
    snapshot+incremental semantics of subscribing to a compacted topic
    from the earliest retained offset (see ``read_changelog``'s
    compaction note).

    Run with ``run_to_memory(..., output_mode="update")`` for a bounded
    read-to-latest snapshot, or ``.writeStream`` for a continuous one.
    """
    from pyspark.sql import functions as F  # noqa: F811

    spec = catalog.get_table(name)
    if not spec.has_primary_key:
        raise ValueError(f"{spec.qualified_name} has no primary key — "
                         "log tables have no changelog to derive")
    schema = catalog._stored_schema(spec)
    stream = (
        catalog.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(catalog.table_path(spec))
    )
    data_cols = [c.name for c in spec.columns]
    # pandas itertuples renames dunder fields positionally, so the
    # stateful operator must see underscore-free aliases of the stamps
    stream = stream.select(
        *data_cols,
        F.col("__seq__").alias("cdc_seq"),
        F.col("__sub__").alias("cdc_sub"),
        F.coalesce(F.col("__del__"), F.lit(False)).alias("cdc_del"),
    )
    # key columns are re-attached by the operator itself; the image is
    # the non-key payload
    image_cols = [c for c in data_cols if c not in spec.primary_key]
    return changelog_stream(
        stream,
        key_cols=list(spec.primary_key),
        order_cols=["cdc_seq", "cdc_sub"],
        image_cols=image_cols,
        del_col="cdc_del",
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    item_col: str,
    k: int = 16,
    buckets: int = 8,
) -> DataFrame:
    """Streaming heavy hitters: a Misra-Gries summary of capacity ``k``
    per state bucket, maintained across micro-batches — the streaming
    twin of ``curation.heavy_hitters`` (which is exact via a second
    pass; a stream has no second pass, so this emits the candidate set
    with lower-bound counts).

    Each batch's items are counted locally and MERGED into the stored
    summary with the mergeable-summaries rule (Agarwal et al., PODS
    2012): combine counts, subtract the (k+1)-st largest, keep
    positives.  Guarantee per bucket: any item whose true count in that
    bucket exceeds n_bucket/(k+1) is IN the summary, and stored counts
    under-count by at most the total subtracted mass — so the union of
    bucket summaries is a superset of the global >N/(k+1) heavy
    hitters (an item's bucket count is its global count, and
    n_bucket <= N).

    State per bucket: two parallel arrays (items, counts) + the
    processed-row total — bounded by k regardless of stream length.
    Output (update mode): one row per candidate per batch,
    (bucket, item, count_lb, n_bucket); the emission with the highest
    n_bucket per bucket is the current summary.

    ``buckets`` shards items by hash for parallelism; the summary of a
    bucket covers exactly the items hashing there, so correctness does
    not depend on the shard count.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    output_schema = (
        "bucket int, item string, count_lb bigint, n_bucket bigint"
    )
    state_schema = "items array<string>, counts array<long>, n bigint"

    def update(key, pdf_iter, state: GroupState):
        from collections import Counter

        if state.exists:
            items, counts, n = state.get
            summary = dict(zip(list(items), list(counts)))
        else:
            summary, n = {}, 0
        batch = Counter()
        for pdf in pdf_iter:
            batch.update(pdf["__item__"].astype(str))
            n += len(pdf)
        for item, cnt in batch.items():
            summary[item] = summary.get(item, 0) + int(cnt)
        if len(summary) > k:
            # mergeable-summaries compaction: subtract the (k+1)-st
            # largest count from everything, keep strictly positive
            cut = sorted(summary.values(), reverse=True)[k]
            summary = {
                it: c - cut for it, c in summary.items() if c - cut > 0
            }
        state.update((list(summary), [summary[i] for i in summary], n))
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(summary),
                "item": list(summary),
                "count_lb": [summary[i] for i in summary],
                "n_bucket": [n] * len(summary),
            }
        )

    keyed = stream.select(
        F.col(item_col).cast("string").alias("__item__")
    ).withColumn(
        "__bucket__", F.pmod(F.xxhash64("__item__"), F.lit(buckets)).cast("int")
    )
    return keyed.groupBy("__bucket__").applyInPandasWithState(
        update, output_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def lookup_enrich_sink(
    stream_df: DataFrame,
    catalog,
    dim_table: str,
    on,
    sink_table: str,
    checkpoint: str,
    how: str = "left",
    broadcast: bool = True,
    metrics: Optional[list] = None,
):
    """Processing-time temporal LOOKUP JOIN against a live PK table —
    the Flink ``FOR SYSTEM_TIME AS OF proc_time`` lookup join that is
    Fluss's flagship use of PK tables (the reference only exposes the
    batch point-lookup side, src/provider.rs:257-321; this is the
    streaming counterpart).

    Unlike :func:`enrich_stream` (whose static side binds its file
    listing once at plan time), each micro-batch here RE-DERIVES the
    dimension snapshot through ``catalog.read`` — upserts committed
    between batches are visible to the next batch, which is exactly the
    lookup-join contract: every stream row joins the dimension state
    current at processing time.  Enriched rows append to ``sink_table``
    through the normal insert path.

    ``broadcast=True`` (default) hints the dim side small — the lookup
    shape implies a dimension that fits; pass False for big dims and
    the join shuffles on the key instead.  State: none (no watermark,
    no join buffer) — the dim read is the only per-batch cost."""

    sink_cols = [c.name for c in catalog.get_table(sink_table).columns]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        dim = catalog.read(dim_table)
        dim_side = F.broadcast(dim) if broadcast else dim
        enriched = batch_df.join(dim_side, on, how)
        # the join puts key columns first — re-align BY NAME to the
        # sink's declared schema (insert aligns positionally)
        n = catalog.insert(sink_table, enriched.select(*sink_cols))
        if metrics is not None:
            metrics.append({"batch_id": batch_id, "rows": n})

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_zscore_anomalies(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    n: int = 20,
    threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Online trailing-window z-score anomaly detection — the streaming
    counterpart of ``operators/timeseries.zscore_anomalies`` with
    identical semantics: each event is scored against the mean/std of
    its key's PREVIOUS ``n`` events (the current event never dilutes
    its own baseline; null zscore until ``min_history`` prior events or
    on a zero-variance baseline).

    State per key is exactly the ``n``-value trailing buffer (bounded
    regardless of stream length) carried across micro-batches by
    ``applyInPandasWithState``.  Events are processed in (ts, id)
    order within each batch — with time-ordered micro-batches the
    emission equals the batch operator row-for-row, which
    tests/test_streaming.py asserts on a real replay."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        f"{key_col} string, {id_col} bigint, {value_col} double, "
        "zscore double, is_anomaly boolean"
    )
    state_schema = "buf array<double>"

    def update(key, pdf_iter, state: GroupState):
        buf = list(state.get[0]) if state.exists else []
        ids, vals, zs, flags = [], [], [], []
        for pdf in pdf_iter:
            pdf = pdf.sort_values([ts_col, id_col])
            for ev_id, x in zip(pdf[id_col], pdf[value_col]):
                z = None
                if len(buf) >= min_history:
                    m = sum(buf) / len(buf)
                    var = sum((b - m) ** 2 for b in buf) / (len(buf) - 1)
                    if var > 0.0:
                        z = (float(x) - m) / math.sqrt(var)
                ids.append(int(ev_id))
                vals.append(float(x))
                zs.append(z)
                flags.append(bool(z is not None and abs(z) > threshold))
                buf.append(float(x))
                if len(buf) > n:
                    buf.pop(0)
        state.update((buf,))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(ids),
                id_col: ids,
                value_col: vals,
                "zscore": zs,
                "is_anomaly": flags,
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def drift_stream(
    stream: DataFrame,
    model: dict,
    columns,
    window: str = "1 hour",
    watermark: str = "1 minute",
    ts_col: str = "ts",
    psi_threshold: float = 0.25,
) -> DataFrame:
    """Live distribution-drift monitor: per event-time tumbling window
    and feature column, PSI / KL / total-variation of the window's
    value distribution against a FROZEN reference model
    (operators.drift.reference_model — bin edges + ε-smoothed reference
    fractions, a literal-sized dict).

    ONE streaming aggregation: each row explodes to (column, bin) using
    the SAME bin expression as the batch operator (drift._bin_expr, so
    batch and stream agree by construction), then groupBy(window,
    column) counts each bin as a conditional sum — n_bins + 2 exprs,
    all JVM — and the PSI/KL/TV folds run as post-aggregation
    projections against the reference fractions baked in as literals.
    State is bounded by windows × columns; the reference never shuffles
    (it IS the plan).  Works in append mode behind the watermark or
    complete mode for replays.

    Returns (window_start, window_end, column, n, psi, kl, tv,
    drifted)."""
    from fluss_datafusion_spark.operators.drift import _NULL_BIN, _bin_expr

    n_bins = model["n_bins"]
    eps = model["eps"]
    cols = list(columns)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            _bin_expr(c, *model["columns"][c]["edges"], n_bins).alias(
                "bin"
            ),
        )
        for c in cols
    ]
    exploded = (
        stream.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col), F.explode(F.array(*structs)).alias("__cb__")
        )
        .select(
            F.col(ts_col),
            F.col("__cb__.column").alias("column"),
            F.col("__cb__.bin").alias("bin"),
        )
    )
    bins = list(range(_NULL_BIN, n_bins))
    aggs = [F.count(F.lit(1)).alias("__n__")] + [
        F.sum((F.col("bin") == b).cast("long")).alias(f"__b{i}__")
        for i, b in enumerate(bins)
    ]
    agged = exploded.groupBy(
        F.window(ts_col, window).alias("__w__"), "column"
    ).agg(*aggs)

    def ref_frac(b: int):
        expr = None
        for c in cols:
            frac = F.lit(float(model["columns"][c]["fracs"][b]))
            expr = (
                F.when(F.col("column") == c, frac)
                if expr is None
                else expr.when(F.col("column") == c, frac)
            )
        return expr

    psi = F.lit(0.0)
    kl = F.lit(0.0)
    tv = F.lit(0.0)
    for i, b in enumerate(bins):
        c_frac = F.greatest(
            F.col(f"__b{i}__") / F.col("__n__"), F.lit(eps)
        )
        r = ref_frac(b)
        psi = psi + (c_frac - r) * F.log(c_frac / r)
        kl = kl + c_frac * F.log(c_frac / r)
        tv = tv + F.abs(c_frac - r)
    return agged.select(
        F.col("__w__.start").alias("window_start"),
        F.col("__w__.end").alias("window_end"),
        "column",
        F.col("__n__").alias("n"),
        F.round(psi, 6).alias("psi"),
        F.round(kl, 6).alias("kl"),
        F.round(tv / 2, 6).alias("tv"),
        (psi > psi_threshold).alias("drifted"),
    )


def funnel_stream(
    stream: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
    within_seconds: Optional[float] = None,
) -> DataFrame:
    """LIVE funnel tracking — the streaming twin of
    ``operators.funnel.funnel`` (greedy-earliest chain: t_1 = first
    step-1 event, t_i = first step-i event strictly after t_{i-1},
    optionally within ``within_seconds`` of t_1).  Keyed state holds
    exactly the k chain timestamps per user (k = funnel length, a small
    constant — state is bounded no matter how long the stream runs);
    each micro-batch re-emits every user whose chain ADVANCED, so
    update-mode consumers keep the latest row per user (stage is
    monotone by construction).

    On an in-order stream the emitted final state equals the batch
    operator row for row (pinned by test) — the greedy chain only ever
    consumes the earliest qualifying event, which in-order arrival
    hands it first.  Out-of-order events that would have qualified
    earlier are ignored once a later chain slot is set (the documented
    divergence; the batch operator is the replayable truth).

    Scale shape: one hash shuffle on the user key; per-batch python is
    O(batch rows) after a pre-filter to funnel events only."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct: {steps}")
    k = len(steps)
    step_ix = {s: i for i, s in enumerate(steps)}
    within_us = (
        int(within_seconds * 1_000_000) if within_seconds is not None else None
    )
    fields = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    t_cols = [f"t_{i + 1}" for i in range(k)]
    output_schema = (
        f"{user_col} {fields[user_col]}, stage int, "
        + ", ".join(f"{c} timestamp" for c in t_cols)
    )
    state_schema = ", ".join(f"t{i} long" for i in range(k))

    def update(key, pdf_iter, state):
        def native(v):
            return v.item() if hasattr(v, "item") else v

        chain = list(state.get) if state.exists else [None] * k
        before = list(chain)
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(ts_col)
            for ev, t in zip(batch[event_col], batch[ts_col]):
                i = step_ix.get(ev)
                if i is None:
                    continue
                t_us = int(t.value // 1_000)
                if i == 0:
                    if chain[0] is None:
                        chain[0] = t_us
                elif (
                    chain[i] is None
                    and chain[i - 1] is not None
                    and t_us > chain[i - 1]
                    and (
                        within_us is None
                        or t_us - chain[0] <= within_us
                    )
                ):
                    chain[i] = t_us
        if chain != before:
            state.update(tuple(chain))
            stage = sum(1 for t in chain if t is not None)
            row = {user_col: [native(key[0])], "stage": [stage]}
            for i, c in enumerate(t_cols):
                row[c] = [
                    pd.Timestamp(chain[i] * 1_000, unit="ns")
                    if chain[i] is not None
                    else pd.NaT
                ]
            yield pd.DataFrame(row)

    return (
        stream.filter(F.col(event_col).isin(steps))
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            output_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def expectations_stream(
    stream: DataFrame,
    rules,
    window: str = "1 hour",
    watermark: str = "1 minute",
    ts_col: str = "ts",
) -> DataFrame:
    """LIVE data-quality monitoring — the streaming half of
    ``operators.expectations.expect``: per event-time tumbling window,
    evaluate every rule as a conditional sum in ONE streaming
    aggregation and emit a violation report row per (window, rule).

    Supported rule kinds: not_null / accepted_values / between /
    matches (the set rules — each is one JVM conditional sum) and
    row_count (min/max rows PER WINDOW — a throughput guard).
    Uniqueness is deliberately absent: exact distinct aggregation is
    unsupported in streaming; audit uniqueness in batch (expect()) or
    track keys with streaming dedup.

    Returns (window_start, window_end, rule, column, n_violations,
    n_rows, passed).  State is one row of counters per open window —
    bounded by the watermark regardless of stream length."""
    from fluss_datafusion_spark.operators.expectations import (
        _violation_expr,
    )

    rules = list(rules)
    for r in rules:
        if r["kind"] == "unique":
            raise ValueError(
                "uniqueness needs exact distinct aggregation — "
                "unsupported in streaming; use batch expect()"
            )
    aggs = [F.count(F.lit(1)).alias("__n__")]
    for i, r in enumerate(rules):
        if r["kind"] == "row_count":
            continue
        aggs.append(
            F.sum(_violation_expr(r).cast("long")).alias(f"__v{i}__")
        )
    agged = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("__w__"))
        .agg(*aggs)
    )
    row_exprs = []
    for i, r in enumerate(rules):
        kind = r["kind"]
        if kind == "row_count":
            lo = r.get("min", 0)
            hi = r.get("max")
            shortfall = F.greatest(F.lit(lo) - F.col("__n__"), F.lit(0))
            excess = (
                F.greatest(F.col("__n__") - F.lit(hi), F.lit(0))
                if hi is not None
                else F.lit(0)
            )
            viol = shortfall + excess
        else:
            viol = F.col(f"__v{i}__")
        row_exprs.append(
            F.struct(
                F.lit(kind).alias("rule"),
                F.lit(r.get("column")).cast("string").alias("column"),
                viol.cast("long").alias("n_violations"),
                F.col("__n__").alias("n_rows"),
                (viol == 0).alias("passed"),
            )
        )
    return agged.select(
        F.col("__w__.start").alias("window_start"),
        F.col("__w__.end").alias("window_end"),
        F.explode(F.array(*row_exprs)).alias("__r__"),
    ).select("window_start", "window_end", "__r__.*")
