"""Benchmark entry point.

    python3 perfbench/run.py --workload pk_serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the engine.  One client, closed loop:
each operation starts when the previous one has returned.  The timed
phase is a fixed number of whole rounds of the workload's operation mix
(``--seconds`` divided by the workload's nominal round length), never a
time-bounded loop, so a faster engine does the same work, not more.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the engine is instrumented
from outside (``tracing.py``) and the metrics are the per-layer ones.  A
record of the run (host context, every operation's latency, and with
``--trace 1`` every span) is written under ``.bench_out/records/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

WORKLOADS = ("pk_serve", "log_scan", "doc_ingest")
SETUPS = 3
END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
}


class Op:
    """One timed operation and what the workload reports about it."""

    def __init__(self, kind: str, role: str):
        self.kind = kind
        self.role = role
        self.ms = 0.0
        self.rows = 0
        self.user_bytes = 0
        self.errors = []
        self.failed = False


class Context:
    """What a workload sees of the run."""

    def __init__(self, spark, root, seed: int, tracer):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = tracer

    def statement(self, engine, sql: str):
        """One SQL statement through the front door, result collected."""
        if self.tracer is None:
            return engine.sql(sql).collect()
        with self.tracer.span("session.stmt_ms"):
            return engine.sql(sql).collect()


def rounds_for(seconds: int, round_seconds: float) -> int:
    return max(1, round(seconds / round_seconds))


def _run_rounds(wl, module, n_rounds: int, tracer) -> list:
    """Run ``n_rounds`` whole rounds of the workload's mix, one operation
    at a time; an operation that raises is counted as failed."""
    ops = []
    for _ in range(n_rounds):
        for kind, role in module.ROUND:
            op = Op(kind, role)
            wl.prepare(kind)
            if tracer is not None:
                tracer.begin_op(kind, role)
                if role == "read":
                    tracer.files_at_read(wl.table_dirs())
            t0 = time.perf_counter()
            try:
                wl.run(kind, op)
            except Exception:
                op.failed = True
                traceback.print_exc(file=sys.stderr)
            op.ms = (time.perf_counter() - t0) * 1000
            if tracer is not None:
                tracer.add("user_bytes", op.user_bytes)
                tracer.end_op()
            ops.append(op)
    return ops


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, checkout: str) -> dict:
    import hygiene

    module = importlib.import_module(args.workload)
    root = hygiene.PrivateRoot(checkout, f"{args.workload}-s{args.seed}")
    spark = None
    try:
        spark, cores = hygiene.start_spark(checkout, root, traced=bool(args.trace))
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
        ctx = Context(spark, root, args.seed, tracer)
        wl = module.Workload(ctx)

        setup_s, state = [], None
        for i in range(SETUPS):
            workdir = root.fresh(f"setup{i}")
            t0 = time.perf_counter()
            state = wl.setup(workdir)
            setup_s.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                shutil.rmtree(workdir, ignore_errors=True)
        wl.start(state)
        if tracer is not None:
            tracer.warehouse = wl.e.catalog.warehouse

        floor_before = hygiene.job_floor_ms(spark)
        steal = hygiene.StealMeter()
        if tracer is not None:
            tracer.install()
        t_phase = time.perf_counter()
        ops = _run_rounds(wl, module, rounds_for(args.seconds, module.ROUND_SECONDS), tracer)
        phase_s = time.perf_counter() - t_phase
        if tracer is not None:
            tracer.uninstall()
            tracer.attribute_spark()
        steal_share = steal.share()

        errors = [e for op in ops if not op.failed for e in op.errors]
        errors += wl.final_check()
        for e in errors[:10]:
            print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)

        done = [op for op in ops if not op.failed]
        reads = [op.ms for op in done if op.kind == module.READ_KIND]
        writes = [op.ms for op in done if op.kind == module.WRITE_KIND]
        e2e = {
            "setup_s": statistics.median(setup_s),
            "read_p50_ms": statistics.median(reads) if reads else 0.0,
            "write_p50_ms": statistics.median(writes) if writes else 0.0,
            "ops_per_s": len(done) / phase_s,
            "rows_per_s": sum(op.rows for op in done) / phase_s,
        }
        if tracer is not None:
            values = tracer.metrics(wl.kept_ratio())
            units = {k: u for k, (u, _b) in tracing.PER_LAYER.items()}
        else:
            values, units = e2e, END_TO_END
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": cores,
            "host": {
                "job_floor_ms": floor_before,
                "cpu_steal_share": steal_share,
            },
            "setup_s": setup_s,
            "timed_phase_s": phase_s,
            "end_to_end": e2e,
            "per_op": [
                {"kind": op.kind, "role": op.role, "ms": op.ms, "failed": op.failed}
                for op in ops
            ],
            "errors": errors,
        }
        if tracer is not None:
            record["per_layer"] = values
        name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
        path = os.path.join(checkout, hygiene.OUT_DIR, "records", name)
        if tracer is not None:
            tracer.dump(path, record)
        else:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(record, fh, indent=1)
        print(
            f"perfbench: {args.workload} seed={args.seed} ops={len(ops)}"
            f" phase={phase_s:.1f}s job_floor={floor_before:.1f}ms"
            f" steal={steal_share:.3f} record={path}",
            file=sys.stderr,
        )
        return {
            "correct": not errors,
            "attempted": len(ops),
            "failed": len(ops) - len(done),
            "metrics": {
                k: {"value": float(v), "unit": units[k]}
                for k, v in values.items()
            },
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        root.close()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "fluss_datafusion_spark", "__init__.py")):
        print(
            "perfbench: no engine here; run from the root of a checkout"
            " (fluss_datafusion_spark/ missing)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, checkout)
    result = run(args, checkout)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
