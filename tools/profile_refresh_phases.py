"""Phase breakdown of ONE warm REFRESH MATERIALIZED VIEW (VERDICT r8
item 1).  Wraps the job-running and plan-building functions the refresh
path goes through and prints wall + py4j-command counts per phase, so
the dominant fixed cost is a named component.

Usage: python tools/profile_refresh_phases.py [sf_dir]
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from fluss_datafusion_spark import EngineSession  # noqa: E402
from fluss_datafusion_spark.session import read_table  # noqa: E402
import fluss_datafusion_spark.catalog.matview as mvmod  # noqa: E402
import fluss_datafusion_spark.catalog.catalog as catmod  # noqa: E402

PROF = {}
NCMD = {}

import py4j.clientserver as _cs  # noqa: E402

_cmd_count = [0]
_orig_send = _cs.ClientServerConnection.send_command


def _counting_send(self, *a, **k):
    _cmd_count[0] += 1
    return _orig_send(self, *a, **k)


_cs.ClientServerConnection.send_command = _counting_send


def wrap_mod(mod, name):
    orig = getattr(mod, name)

    def f(*a, **k):
        t0, c0 = time.perf_counter(), _cmd_count[0]
        try:
            return orig(*a, **k)
        finally:
            PROF[name] = PROF.get(name, 0.0) + time.perf_counter() - t0
            NCMD[name] = NCMD.get(name, 0) + _cmd_count[0] - c0

    setattr(mod, name, f)
    return orig


def wrap_method(cls, name, label):
    orig = getattr(cls, name)

    def f(*a, **k):
        t0, c0 = time.perf_counter(), _cmd_count[0]
        try:
            return orig(*a, **k)
        finally:
            PROF[label] = PROF.get(label, 0.0) + time.perf_counter() - t0
            NCMD[label] = NCMD.get(label, 0) + _cmd_count[0] - c0

    setattr(cls, name, f)


# job-running leaves (time here == a Spark job or checkpoint job)
from pyspark.sql.classic.dataframe import DataFrame as CDF  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

wrap_method(CDF, "count", "JOB:count")
wrap_method(CDF, "localCheckpoint", "JOB:localCheckpoint")
wrap_method(CDF, "collect", "JOB:collect")
wrap_method(DataFrameWriter, "parquet", "JOB:write.parquet")

# matview phases
for fn in [
    "_delta_rows",
    "_snap_sql",
    "_normalized_source",
    "_window_bytes",
    "_load_mv",
    "_save_mv",
    "_register_user_view",
    "_anchors_now",
    "_reserve_refresh_seq",
]:
    wrap_mod(mvmod, fn)

# catalog phases
for fn in ["read_changes", "read_changelog", "read", "_append_log",
           "_merge_log", "_log_df", "_reserve_seqs", "_record_commit",
           "_local_write_rows"]:
    wrap_method(catmod.FlussCatalog, fn, fn)

root = os.path.join(tempfile.gettempdir(), "spark_graft_profile_ph")
shutil.rmtree(root, ignore_errors=True)
e = EngineSession(spark=spark, warehouse=os.path.join(root, "wh"))
read_table(spark, f"{sf_dir}/orders.parquet").filter(
    F.col("o_orderkey") <= 2000
).select(
    F.col("o_orderkey").alias("k"),
    F.col("o_orderstatus").alias("g"),
    F.floor("o_totalprice").cast("bigint").alias("x"),
).createOrReplaceTempView("mv_seed")

e.sql(
    "CREATE TABLE mv_src (k BIGINT NOT NULL, g STRING, x BIGINT,"
    " PRIMARY KEY (k))"
)
e.sql("INSERT INTO mv_src SELECT * FROM mv_seed")
e.sql(
    "CREATE MATERIALIZED VIEW mv_agg AS"
    " SELECT g, count(*) AS n, count(x) AS nx, sum(x) AS sx,"
    " avg(x) AS ax, min(x) AS mn, max(x) AS mx FROM mv_src GROUP BY g"
)
# warm every plan shape once
e.sql("UPDATE mv_src SET g = 'U1' WHERE k % 97 = 0")
e.sql("REFRESH MATERIALIZED VIEW mv_agg")

PROF.clear()
NCMD.clear()
_c0 = _cmd_count[0]

# the measured statements: one warm UPDATE + one warm REFRESH
t0 = time.perf_counter()
e.sql("UPDATE mv_src SET x = x + 1 WHERE g = 'O'")
t_upd = time.perf_counter() - t0
upd_prof = dict(PROF)
upd_cmd = _cmd_count[0] - _c0
PROF.clear()
NCMD.clear()
_c1 = _cmd_count[0]
t0 = time.perf_counter()
e.sql("REFRESH MATERIALIZED VIEW mv_agg")
t_ref = time.perf_counter() - t0
ref_cmd = _cmd_count[0] - _c1

print(f"\n=== warm UPDATE: {t_upd*1000:.0f} ms, {upd_cmd} py4j cmds ===")
for k in sorted(upd_prof, key=upd_prof.get, reverse=True):
    print(f"  {upd_prof[k]*1000:8.1f} ms  {k}")
print(f"\n=== warm REFRESH: {t_ref*1000:.0f} ms, {ref_cmd} py4j cmds ===")
for k in sorted(PROF, key=PROF.get, reverse=True):
    print(f"  {PROF[k]*1000:8.1f} ms  {NCMD.get(k,0):5d} cmds  {k}")
spark.stop()
