"""``pk_serve``: the reference's KV-table path through the SQL front door.

Setup loads a bucketed primary-key table with policy auto-compaction
from a seeded ``orders``-shaped table.  The timed phase alternates
writes and reads, so every read follows exactly one write (one cost
mode: each read re-binds the table's view once):

- reads: ``SELECT * ... WHERE o_orderkey = k`` for a live key (hit) or
  for a deleted or never-written key (miss);
- writes: ``INSERT ... VALUES`` of three rows (two updates, one new key)
  and point ``DELETE``s of live keys.

Five writes per round and ``compaction.auto-after = 5`` compact the
table once per round; the write that triggers compaction is labelled
``+compact`` and kept out of the write median.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq

import checks
import data

N_ROWS = 40_000
BUCKETS = 4
AUTO_AFTER = 5
ROWS_PER_UPSERT = 3
NEW_KEY_BASE = 10_000_000
# The delete is the fourth write of every round, so with one compaction
# every five writes (the load is write 1) it is always the delete that
# compacts, and every upsert and hit lookup keeps one cost mode.
ROUND = (
    ("upsert", "write"),
    ("lookup_hit", "read"),
    ("upsert", "write"),
    ("lookup_hit", "read"),
    ("upsert", "write"),
    ("lookup_hit", "read"),
    ("delete", "write"),
    ("lookup_miss", "read"),
    ("upsert", "write"),
    ("lookup_hit", "read"),
)
ROUND_SECONDS = 5.0
READ_KIND = "lookup_hit"
WRITE_KIND = "upsert"

DDL = (
    "CREATE TABLE orders_pk (o_orderkey BIGINT NOT NULL, o_custkey BIGINT,"
    " o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate DATE,"
    " o_orderpriority STRING, PRIMARY KEY (o_orderkey))"
    f" DISTRIBUTED BY (o_orderkey) INTO {BUCKETS} BUCKETS"
    f" WITH ('compaction.auto-after' = '{AUTO_AFTER}')"
)


def _row_bytes(row) -> int:
    return 8 + 8 + len(row[2]) + 8 + 4 + len(row[5])


class Workload:
    name = "pk_serve"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = ctx.root.fresh("inputs")
        self.table = data.orders(ctx.seed, N_ROWS)
        self.src = os.path.join(self.inputs, "orders.parquet")
        pq.write_table(self.table, self.src)
        self.rng = data.rng(ctx.seed, "pk_serve.ops")
        self.next_key = NEW_KEY_BASE
        self.deleted = []

    def setup(self, workdir: str):
        from fluss_datafusion_spark import EngineSession

        e = EngineSession(spark=self.ctx.spark, warehouse=os.path.join(workdir, "wh"))
        self.ctx.spark.read.parquet(self.src).createOrReplaceTempView("orders_src")
        e.sql(DDL)
        e.sql("INSERT INTO orders_pk SELECT * FROM orders_src")
        return e

    def start(self, engine) -> None:
        """Bind the timed phase to the last setup; build the model."""
        self.e = engine
        cols = [self.table.column(i).to_pylist() for i in range(self.table.num_columns)]
        self.model = {r[0]: r for r in zip(*cols)}
        self.live = list(self.model)  # keys in a stable order for draws
        self.floor = self._floor()

    def prepare(self, kind: str) -> None:
        """Every input is an SQL literal: nothing to stage."""

    def _floor(self) -> int:
        return self.e.catalog._floor.get("fluss.orders_pk", 0)

    def table_dirs(self):
        c = self.e.catalog
        return [c.table_path(c.get_table("orders_pk"))]

    def _live_key(self) -> int:
        while True:
            k = self.live[int(self.rng.integers(0, len(self.live)))]
            if k in self.model:
                return k

    def _new_row(self, key: int):
        r = self.rng
        return (
            key,
            int(r.integers(1, 15_001)),
            "OFP"[int(r.integers(0, 3))],
            float(f"{r.uniform(900.0, 450_000.0):.2f}"),
            dt.date(1992, 1, 1) + dt.timedelta(days=int(r.integers(0, 2400))),
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[int(r.integers(0, 5))],
        )

    def run(self, kind: str, op):
        """Run one operation; fills ``op`` (rows, user bytes, errors)."""
        if kind == "upsert":
            keys = []
            while len(keys) < ROWS_PER_UPSERT - 1:
                k = self._live_key()
                if k not in keys:
                    keys.append(k)
            self.next_key += 1
            keys.append(self.next_key)
            rows = [self._new_row(k) for k in keys]
            values = ", ".join(
                f"({r[0]}, {r[1]}, '{r[2]}', {r[3]:.2f}, DATE '{r[4].isoformat()}', '{r[5]}')"
                for r in rows
            )
            self.ctx.statement(self.e, f"INSERT INTO orders_pk VALUES {values}")
            for r in rows:
                if r[0] not in self.model:
                    self.live.append(r[0])
                self.model[r[0]] = r
            op.rows, op.user_bytes = len(rows), sum(_row_bytes(r) for r in rows)
        elif kind == "delete":
            k = self._live_key()
            self.ctx.statement(self.e, f"DELETE FROM orders_pk WHERE o_orderkey = {k}")
            del self.model[k]
            self.deleted.append(k)
            op.rows, op.user_bytes = 1, 8
        else:
            if kind == "lookup_hit":
                k = self._live_key()
            elif self.deleted and self.rng.integers(0, 2):
                k = self.deleted[int(self.rng.integers(0, len(self.deleted)))]
            else:
                k = NEW_KEY_BASE * 10 + int(self.rng.integers(0, NEW_KEY_BASE))
            got = self.ctx.statement(self.e, f"SELECT * FROM orders_pk WHERE o_orderkey = {k}")
            op.errors = checks.check_lookup(self.model.get(k), [tuple(r) for r in got], k)
        floor = self._floor()
        if floor != self.floor:
            op.kind += "+compact"
            self.floor = floor

    def kept_ratio(self) -> float:
        """No dedup stage: every written row is kept."""
        return 1.0

    def final_check(self):
        rows = self.e.sql("SELECT * FROM orders_pk").toArrow()
        cols = [rows.column(i).to_pylist() for i in range(rows.num_columns)]
        return checks.check_table(self.model, zip(*cols))
