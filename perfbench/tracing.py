"""Traced-run instrumentation, installed from outside the engine.

``Tracer.install`` wraps named functions of the engine's modules (the
session front door, the SQL rewriter, the DDL parser, catalog reads,
writes and compaction, the put-if-absent locking seam, file skipping,
the metadata-aggregate fast path and the incremental dedup operators),
counts py4j commands at the gateway client, and reads per-trigger
``StreamingQueryProgress`` from the queries a workload hands it.  At the
end of the run it reads Spark's status store once and attributes every
job to the timed operation whose wall-clock window contains the job's
submission time (jobs on pool or stream threads included).  Spans and
counters stay in memory until :meth:`Tracer.dump`.

Operator functions return lazy DataFrames: timing the call measures plan
construction (and any eager collects inside it); execution shows up as
Spark job time inside the operation's window.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import threading
import time

# name -> (unit, better); the order is the order of the per-layer report
PER_LAYER = {
    "session.stmt_ms": ("ms", "lower"),
    "session.self_ms": ("ms", "lower"),
    "sql.rewrite_ms": ("ms", "lower"),
    "ddl.parse_ms": ("ms", "lower"),
    "catalog.refresh_views_ms": ("ms", "lower"),
    "py4j.calls_per_op": ("count", "lower"),
    "catalog.insert_ms": ("ms", "lower"),
    "catalog.files_written_per_write": ("count", "lower"),
    "catalog.bytes_written_per_user_byte": ("ratio", "lower"),
    "catalog.compactions": ("count", "lower"),
    "catalog.compact_ms": ("ms", "lower"),
    "locking.acquire_ms": ("ms", "lower"),
    "catalog.lookup_ms": ("ms", "lower"),
    "catalog.read_ms": ("ms", "lower"),
    "catalog.data_files_at_read": ("count", "lower"),
    "skipping.files_kept_ratio": ("ratio", "lower"),
    "metadata_agg.served_ratio": ("ratio", "higher"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.shuffle_bytes_per_op": ("bytes", "lower"),
    "spark.job_wall_ms_per_op": ("ms", "lower"),
    "spark.task_run_ms_per_op": ("ms", "lower"),
    "spark.gc_ms_per_op": ("ms", "lower"),
    "incremental.probe_build_ms": ("ms", "lower"),
    "incremental.append_ms": ("ms", "lower"),
    "incremental.verify_files_kept_ratio": ("ratio", "lower"),
    "dedup.kept_ratio": ("ratio", "higher"),
    "streaming.start_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
}

_STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "latestOffset": "streaming.latest_offset_ms",
}


def _now_ms() -> float:
    return time.time() * 1000.0


def _parquet_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Tracer:
    """Spans and counters for the timed operations of one run."""

    def __init__(self, spark):
        self.spark = spark
        # the engine's table warehouse; pruning calls under it are table
        # reads, the rest (dedup index stores) belong to the operators
        self.warehouse = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo = []
        self.ops = []  # one dict per timed operation
        self.spans = []  # (name, op index, start ms, end ms, thread name)
        self._op = None

    # -- operations ---------------------------------------------------------
    def begin_op(self, kind: str, role: str) -> None:
        self._op = {
            "index": len(self.ops),
            "kind": kind,
            "role": role,
            "start_ms": _now_ms(),
            "c": collections.defaultdict(float),
        }

    def end_op(self) -> None:
        op, self._op = self._op, None
        op["end_ms"] = _now_ms()
        self._drain_prune_log(op)
        op["c"] = dict(op["c"])
        self.ops.append(op)

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            if self._op is not None:
                self._op["c"][name] += value

    @contextlib.contextmanager
    def span(self, name: str):
        """A span the workload opens itself (the whole SQL statement,
        including collecting its result)."""
        w0, t0 = _now_ms(), time.perf_counter()
        try:
            yield
        finally:
            self._record(name, w0, (time.perf_counter() - t0) * 1000)

    def _record(self, name: str, wall_start: float, dt_ms: float) -> None:
        with self._lock:
            if self._op is None:
                return
            self._op["c"][name] += dt_ms
            self.spans.append(
                (
                    name,
                    self._op["index"],
                    round(wall_start, 3),
                    round(wall_start + dt_ms, 3),
                    threading.current_thread().name,
                )
            )

    def stream_progress(self, query) -> None:
        """Fold one finished query's per-trigger ``durationMs`` into the
        current operation."""
        for p in query._jsq.recentProgress():
            for phase, ms in json.loads(p.json()).get("durationMs", {}).items():
                if phase in _STREAM_PHASES:
                    self.add(_STREAM_PHASES[phase], float(ms))

    def files_at_read(self, table_dirs) -> None:
        n = 0
        for d in table_dirs:
            for _dirpath, _dirs, files in os.walk(d):
                n += sum(f.endswith(".parquet") for f in files)
        self.add("catalog.data_files_at_read", n)

    # -- wrappers -----------------------------------------------------------
    def _frames(self):
        if not hasattr(self._local, "frames"):
            self._local.frames = []
            self._local.active = set()
        return self._local

    def _wrap(self, owner, attr, metric, after=None, self_metric=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            st = tracer._frames()
            if metric in st.active:  # re-entry of the same layer: one span
                return orig(*args, **kwargs)
            st.active.add(metric)
            frame = [0.0]
            st.frames.append(frame)
            w0 = _now_ms()
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                dt = (time.perf_counter() - t0) * 1000
                st.frames.pop()
                st.active.discard(metric)
                if st.frames:
                    st.frames[-1][0] += dt
                tracer._record(metric, w0, dt)
                tracer.add(metric + "#n")
                if self_metric:
                    tracer.add(self_metric, dt - frame[0])
            if after is not None:
                after(args, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from fluss_datafusion_spark import session as session_mod
        from fluss_datafusion_spark.catalog import ddl, skipping
        from fluss_datafusion_spark.catalog.catalog import FlussCatalog
        from fluss_datafusion_spark.catalog.locking import LocalFSLocking
        from fluss_datafusion_spark.operators import incremental
        from fluss_datafusion_spark.plans import metadata_agg
        from fluss_datafusion_spark.sql import rewriter

        self._wrap(
            session_mod.EngineSession, "sql", "session.sql",
            self_metric="session.self_ms",
        )
        self._wrap(rewriter, "rewrite_sql", "sql.rewrite_ms")
        for name in sorted(vars(ddl)):
            if name.startswith("parse_") or name == "is_engine_create_table":
                if callable(getattr(ddl, name)):
                    self._wrap(ddl, name, "ddl.parse_ms")
        self._wrap(FlussCatalog, "refresh_views", "catalog.refresh_views_ms")
        for name in ("insert", "insert_sql", "delete", "delete_where"):
            self._wrap(FlussCatalog, name, "catalog.insert_ms")
        self._wrap(FlussCatalog, "_append_log", "catalog.append_log", after=self._after_append)
        self._wrap(FlussCatalog, "compact", "catalog.compact_ms", after=self._after_compact)
        self._wrap(FlussCatalog, "lookup", "catalog.lookup_ms")
        self._wrap(FlussCatalog, "read", "catalog.read_ms")
        self._wrap(LocalFSLocking, "put_if_absent", "locking.acquire_ms")
        self._wrap(skipping, "prune", "skipping.prune", after=self._after_prune)
        self._wrap(metadata_agg, "try_metadata_aggregate", "metadata_agg.try", after=self._after_meta_first)
        for name in ("try_partition_group_count", "try_branch_metadata_aggregate"):
            self._wrap(metadata_agg, name, "metadata_agg.try_more", after=self._after_meta)
        self._wrap(incremental, "incremental_dedup_pairs", "incremental.probe_build_ms")
        self._wrap(incremental, "append_to_index", "incremental.append_ms")
        self._wrap(incremental, "dedup_ingest_sink", "streaming.start_ms")

        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            self.add("py4j.calls")
            return send(*args, **kwargs)

        client.send_command = counted_send
        self._undo.append((client, "send_command", None))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if orig is None:
                delattr(owner, attr)  # instance override: back to the class
            else:
                setattr(owner, attr, orig)

    # -- after-hooks --------------------------------------------------------
    def _after_append(self, args, files):
        files = list(files or [])
        self.add("catalog.files_written", len(files))
        self.add(
            "catalog.bytes_written",
            sum(os.path.getsize(f) for f in files if os.path.exists(f)),
        )

    def _after_compact(self, args, _out):
        catalog, name = args[0], args[1]
        path = catalog.table_path(catalog.get_table(name))
        self.add("catalog.bytes_written", _parquet_bytes(path))

    def _after_prune(self, args, kept):
        table_path, files = args[0], args[1]
        warehouse = os.path.abspath(self.warehouse or "") + os.sep
        if os.path.abspath(table_path).startswith(warehouse):
            self.add("skipping.files_in", len(files))
            self.add("skipping.files_kept", len(kept))

    def _after_meta_first(self, args, out):
        self.add("metadata_agg.attempted")
        self._after_meta(args, out)

    def _after_meta(self, args, out):
        if out is not None:
            self.add("metadata_agg.served")

    def _drain_prune_log(self, op) -> None:
        from fluss_datafusion_spark.operators import incremental

        log = incremental.prune_stats_log
        for rec in list(log):
            if rec["store"].endswith("/shingles"):
                op["c"]["incremental.verify_files_in"] += rec["files"]
                op["c"]["incremental.verify_files_kept"] += rec["kept"]
        log.clear()

    # -- Spark status store -------------------------------------------------
    def _status(self):
        """(jobs, stages) of the whole run as plain dicts, read once."""
        jvm = self.spark.sparkContext._jvm
        store = self.spark.sparkContext._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stage_list = store.stageList(
            None,
            False,
            False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        stages = json.loads(mapper.writeValueAsString(stage_list))
        return jobs, stages

    def attribute_spark(self) -> None:
        jobs, stages = self._status()
        by_stage = {}
        for s in stages:
            if s.get("status") == "SKIPPED":
                continue
            by_stage.setdefault(s["stageId"], []).append(s)
        windows = [(op["start_ms"], op["end_ms"], op) for op in self.ops]
        for job in jobs:
            sub = job.get("submissionTime")
            done = job.get("completionTime")
            if sub is None:
                continue
            for start, end, op in windows:
                if start <= sub <= end:
                    c = op["c"]
                    c["spark.jobs"] = c.get("spark.jobs", 0) + 1
                    if done is not None:
                        c["spark.job_wall_ms"] = c.get("spark.job_wall_ms", 0) + (done - sub)
                    for sid in job.get("stageIds", []):
                        for s in by_stage.pop(sid, []):
                            c["spark.stages"] = c.get("spark.stages", 0) + 1
                            c["spark.tasks"] = c.get("spark.tasks", 0) + s.get("numCompleteTasks", 0)
                            c["spark.shuffle_bytes"] = c.get("spark.shuffle_bytes", 0) + s.get("shuffleWriteBytes", 0)
                            c["spark.task_run_ms"] = c.get("spark.task_run_ms", 0) + s.get("executorRunTime", 0)
                            c["spark.gc_ms"] = c.get("spark.gc_ms", 0) + s.get("jvmGcTime", 0)
                    break

    # -- report -------------------------------------------------------------
    def metrics(self, kept_ratio: float) -> dict:
        ops = self.ops
        n = max(1, len(ops))

        def total(key, roles=None):
            return sum(
                op["c"].get(key, 0.0)
                for op in ops
                if roles is None or op["role"] in roles
            )

        def per(key, denom):
            return total(key) / denom if denom else 0.0

        n_write = sum(op["role"] == "write" for op in ops)
        n_read = sum(op["role"] == "read" for op in ops)
        n_compact = total("catalog.compact_ms#n")
        user_bytes = total("user_bytes")
        files_in = total("skipping.files_in")
        verify_in = total("incremental.verify_files_in")
        attempted = total("metadata_agg.attempted")
        out = {
            "session.stmt_ms": per("session.stmt_ms", n),
            "session.self_ms": per("session.self_ms", n),
            "sql.rewrite_ms": per("sql.rewrite_ms", n),
            "ddl.parse_ms": per("ddl.parse_ms", n),
            "catalog.refresh_views_ms": per("catalog.refresh_views_ms", n),
            "py4j.calls_per_op": per("py4j.calls", n),
            "catalog.insert_ms": per("catalog.insert_ms", n_write),
            "catalog.files_written_per_write": per("catalog.files_written", n_write),
            "catalog.bytes_written_per_user_byte": (
                total("catalog.bytes_written") / user_bytes if user_bytes else 0.0
            ),
            "catalog.compactions": n_compact,
            "catalog.compact_ms": per("catalog.compact_ms", n_compact),
            "locking.acquire_ms": per("locking.acquire_ms", n),
            "catalog.lookup_ms": per("catalog.lookup_ms", n_read),
            "catalog.read_ms": per("catalog.read_ms", n_read),
            "catalog.data_files_at_read": per("catalog.data_files_at_read", n_read),
            # no pruning call means every file of the table was read
            "skipping.files_kept_ratio": (
                total("skipping.files_kept") / files_in if files_in else 1.0
            ),
            "metadata_agg.served_ratio": (
                total("metadata_agg.served") / attempted if attempted else 0.0
            ),
            "spark.jobs_per_op": per("spark.jobs", n),
            "spark.stages_per_op": per("spark.stages", n),
            "spark.tasks_per_op": per("spark.tasks", n),
            "spark.shuffle_bytes_per_op": per("spark.shuffle_bytes", n),
            "spark.job_wall_ms_per_op": per("spark.job_wall_ms", n),
            "spark.task_run_ms_per_op": per("spark.task_run_ms", n),
            "spark.gc_ms_per_op": per("spark.gc_ms", n),
            "incremental.probe_build_ms": per("incremental.probe_build_ms", n),
            "incremental.append_ms": per("incremental.append_ms", n),
            "incremental.verify_files_kept_ratio": (
                total("incremental.verify_files_kept") / verify_in if verify_in else 1.0
            ),
            "dedup.kept_ratio": kept_ratio,
        }
        for metric in _STREAM_PHASES.values():
            out[metric] = per(metric, n)
        out["streaming.start_ms"] = per("streaming.start_ms", n)
        return {k: out[k] for k in PER_LAYER}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    **extra,
                    "ops": self.ops,
                    "spans": self.spans,
                },
                fh,
            )
