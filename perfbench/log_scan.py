"""``log_scan``: the reference's log-table scans through the SQL front door.

Setup builds a log table partitioned by ``l_returnflag`` from seeded
``lineitem``-shaped batches, one ``INSERT ... SELECT`` per batch, so it
holds many part files, plus an ``orders``-shaped log table to join to.
The timed phase is a fixed mix of analytic reads and appends of more
than 10,000 rows (partitioned appends take the distributed write path):

- ``range``: a selective ship-date window with a quantity bound (the
  read median is taken over these; no range read follows an append, so
  none of them pays the view re-bind);
- ``agg``: a full group-by aggregate;
- ``bare``: ``count(*)``/``min``/``max`` with no WHERE, which the
  metadata-aggregate fast path may answer from footer statistics;
- ``join``: lineitem joined to orders on the order key;
- ``append``: one more batch.

DuckDB recomputes every read over the same batches, kept as parquet.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq

import checks
import data

N_ORDERS = 30_000
SETUP_BATCHES = 6
BATCH_ROWS = 12_000
ROUND = (
    ("append", "write"),
    ("agg", "read"),
    ("range", "read"),
    ("range", "read"),
    ("bare", "read"),
    ("range", "read"),
    ("append", "write"),
    ("join", "read"),
    ("range", "read"),
    ("range", "read"),
)
ROUND_SECONDS = 5.0
READ_KIND = "range"
WRITE_KIND = "append"

LINEITEM_DDL = (
    "CREATE TABLE lineitem_log (l_orderkey BIGINT, l_partkey BIGINT,"
    " l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE,"
    " l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
    " l_returnflag STRING, l_linestatus STRING, l_shipdate DATE)"
    " PARTITIONED BY (l_returnflag)"
)
ORDERS_DDL = (
    "CREATE TABLE orders_log (o_orderkey BIGINT, o_custkey BIGINT,"
    " o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE,"
    " o_orderpriority STRING)"
)
ROW_BYTES = 8 * 3 + 4 + 8 * 4 + 1 + 1 + 4

AGG = (
    "SELECT l_returnflag, l_linestatus, sum(l_quantity),"
    " sum(l_extendedprice * (1 - l_discount)), avg(l_discount), count(*)"
    " FROM lineitem_log GROUP BY l_returnflag, l_linestatus"
)
BARE = "SELECT count(*), min(l_orderkey), max(l_quantity) FROM lineitem_log"


def _day(offset: int) -> str:
    return (dt.date(1992, 1, 1) + dt.timedelta(days=offset)).isoformat()


class Workload:
    name = "log_scan"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = ctx.root.fresh("inputs")
        self.rng = data.rng(ctx.seed, "log_scan.ops")
        self.orders = self._write(data.orders(ctx.seed, N_ORDERS), "orders")
        self.setup_batches = [self._batch(f"setup{i}") for i in range(SETUP_BATCHES)]
        self.n_appends = 0

    def _write(self, table, name: str) -> str:
        path = os.path.join(self.inputs, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def _batch(self, stream: str) -> str:
        return self._write(data.lineitem(self.ctx.seed, BATCH_ROWS, N_ORDERS, stream), stream)

    def _append(self, e, path: str) -> None:
        self.ctx.spark.read.parquet(path).createOrReplaceTempView("lineitem_batch")
        self.ctx.statement(e, "INSERT INTO lineitem_log SELECT * FROM lineitem_batch")

    def setup(self, workdir: str):
        from fluss_datafusion_spark import EngineSession

        e = EngineSession(spark=self.ctx.spark, warehouse=os.path.join(workdir, "wh"))
        e.sql(ORDERS_DDL)
        e.sql(LINEITEM_DDL)
        self.ctx.spark.read.parquet(self.orders).createOrReplaceTempView("orders_batch")
        e.sql("INSERT INTO orders_log SELECT * FROM orders_batch")
        for path in self.setup_batches:
            self._append(e, path)
        return e

    def start(self, engine) -> None:
        self.e = engine
        self.batches = list(self.setup_batches)
        self.pending = []  # (sql, engine rows, batches visible) checked at the end

    def table_dirs(self):
        c = self.e.catalog
        return [c.table_path(c.get_table(t)) for t in ("lineitem_log", "orders_log")]

    def _sql(self, kind: str) -> str:
        r = self.rng
        if kind == "range":
            lo = int(r.integers(0, 2340))
            return (
                "SELECT count(*), sum(l_extendedprice), min(l_orderkey)"
                f" FROM lineitem_log WHERE l_shipdate BETWEEN DATE '{_day(lo)}'"
                f" AND DATE '{_day(lo + 59)}' AND l_quantity < {int(r.integers(10, 41))}"
            )
        if kind == "agg":
            return AGG
        if kind == "bare":
            return BARE
        lo = int(r.integers(0, 2100))
        return (
            "SELECT o_orderpriority, count(*), sum(l_extendedprice)"
            " FROM lineitem_log JOIN orders_log ON l_orderkey = o_orderkey"
            f" WHERE o_orderdate BETWEEN DATE '{_day(lo)}' AND DATE '{_day(lo + 299)}'"
            " GROUP BY o_orderpriority"
        )

    def prepare(self, kind: str) -> None:
        """Untimed: the next batch file lands and is bound as a view (the
        producer is not the engine)."""
        if kind == "append":
            self.n_appends += 1
            self.next_batch = self._batch(f"append{self.n_appends}")
            self.ctx.spark.read.parquet(self.next_batch).createOrReplaceTempView(
                "lineitem_batch"
            )

    def run(self, kind: str, op) -> None:
        if kind == "append":
            self.ctx.statement(self.e, "INSERT INTO lineitem_log SELECT * FROM lineitem_batch")
            self.batches.append(self.next_batch)
            op.rows, op.user_bytes = BATCH_ROWS, BATCH_ROWS * ROW_BYTES
            return
        sql = self._sql(kind)
        rows = [tuple(r) for r in self.ctx.statement(self.e, sql)]
        self.pending.append((op, sql, rows, list(self.batches)))

    def kept_ratio(self) -> float:
        """No dedup stage: every written row is kept."""
        return 1.0

    def final_check(self):
        errors = []
        for op, sql, rows, batches in self.pending:
            expected = checks.duckdb_rows(
                sql, {"lineitem_log": batches, "orders_log": [self.orders]}
            )
            op.errors = checks.compare_rows(expected, rows, op.kind)
            errors += op.errors
        return errors
