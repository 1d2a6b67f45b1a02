"""Run hygiene: private directories, a pinned Spark session, host context.

Every run owns one directory under ``.bench_out/`` of the checkout.  The
warehouse, checkpoints, index stores, replay files, Spark's local and
warehouse directories and the temp dirs of the JVM and of Python all live
under it, and it is deleted when the run ends, so no run reads what an
earlier run left behind.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

OUT_DIR = ".bench_out"
# At or below ``nproc``; the engine's other defaults (shuffle partitions,
# broadcast threshold) are left as the program sets them.
MAX_CORES = 4
DRIVER_MEMORY = "2g"


class PrivateRoot:
    """A fresh per-run directory tree, removed by :meth:`close`."""

    def __init__(self, checkout: str, label: str):
        self.path = os.path.join(
            checkout, OUT_DIR, f"run-{label}-{os.getpid()}-{time.time_ns()}"
        )
        os.makedirs(self.path)
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new empty directory inside the root."""
        self._n += 1
        path = os.path.join(self.path, f"{self._n:03d}-{name}")
        os.makedirs(path)
        return path

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no other run is using it
        except OSError:
            pass


def start_spark(checkout: str, root: PrivateRoot, traced: bool):
    """Start the engine's SparkSession with pinned cores, every scratch
    directory inside ``root``, and the engine importable by Python
    workers (they start from a fresh interpreter)."""
    tmp = root.fresh("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    from fluss_datafusion_spark.session import build_spark

    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": root.fresh("spark-local"),
        "spark.sql.warehouse.dir": root.fresh("spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job and stage of the run in the status store, so
        # the end-of-run harvest sees all of them
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = build_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _cpu_times():
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()[1:]
    values = [int(v) for v in fields]
    steal = values[7] if len(values) > 7 else 0
    return sum(values[:8]), steal


class StealMeter:
    """Share of CPU time stolen by the hypervisor between start and stop,
    from the aggregate ``cpu`` line of ``/proc/stat``."""

    def __init__(self):
        self._start = _cpu_times()

    def share(self) -> float:
        total, steal = _cpu_times()
        d_total = total - self._start[0]
        return (steal - self._start[1]) / d_total if d_total > 0 else 0.0


def job_floor_ms(spark, repeats: int = 7) -> float:
    """Median wall time of a 1-task Spark job: the fixed cost every job
    pays on this host at this moment."""
    df = spark.range(0, 1, 1, 1)
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        df.count()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)
