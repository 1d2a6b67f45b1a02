"""``doc_ingest``: the north-star continuous dedup-ingest pipeline.

Setup builds the LSH dedup index of a seeded base corpus with
``write_dedup_index`` and creates an unbucketed primary-key table.  The
timed phase alternates two operations:

- ``ingest`` (write): one new batch file lands in the replay directory
  (untimed), then ``dedup_ingest_sink`` runs one ``availableNow``
  micro-batch over it and the query is awaited;
- ``probe`` (read): ``incremental_dedup_pairs`` of a fixed held-out
  document set against the index as it stands, collected.

Each batch of ``BATCH_DOCS`` documents (below the 10,000-row driver-local
write cap) is 70 % fresh text, 10 % exact copies and 20 % near-duplicates
(three single-word edits, shingle Jaccard >= 0.5 to the source).  Copies
and near-duplicates are drawn from the base corpus, from earlier batches
and from earlier documents of the same batch, always of a fresh document,
so every duplicate has a kept source and no borderline chain arises.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import data

THRESHOLD = 0.4
BASE_DOCS = 500
BATCH_DOCS = 250
PROBE_DOCS = 40
BATCH_ID_BASE = 1_000_000
PROBE_ID_BASE = 900_000_000
ROUND = (("ingest", "write"), ("probe", "read"))
ROUND_SECONDS = 30.0
READ_KIND = "probe"
WRITE_KIND = "ingest"
SHARE_COPY = 0.10
SHARE_NEAR = 0.20
EDITS = 3


def _table(docs: dict) -> pa.Table:
    ids = sorted(docs)
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array([docs[i] for i in ids])}
    )


class Workload:
    name = "doc_ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = ctx.root.fresh("inputs")
        self.rng = data.rng(ctx.seed, "doc_ingest.stream")
        self.base = {i: data.random_text(self.rng) for i in range(BASE_DOCS)}
        self.base_path = os.path.join(self.inputs, "base.parquet")
        pq.write_table(_table(self.base), self.base_path)
        # fresh documents a duplicate may be drawn from
        self.sources = list(self.base.items())
        self.ingested = {}
        self.batch_of = {}
        self.n_batches = 0
        self.probe = self._probe_set()
        self.probe_path = os.path.join(self.inputs, "probe.parquet")
        pq.write_table(_table(self.probe), self.probe_path)

    def _probe_set(self) -> dict:
        """Held out, never ingested: near-duplicates of distinct base
        documents (one expected pair each) and fresh text (none)."""
        r = data.rng(self.ctx.seed, "doc_ingest.probe")
        picks = r.choice(BASE_DOCS, size=PROBE_DOCS // 2, replace=False)
        docs = {}
        for j, src in enumerate(sorted(int(p) for p in picks)):
            docs[PROBE_ID_BASE + j] = data.mutate(r, self.base[src], EDITS)
        for j in range(PROBE_DOCS - len(docs)):
            docs[PROBE_ID_BASE + PROBE_DOCS + j] = data.random_text(r)
        return docs

    def _next_batch(self) -> dict:
        r = self.rng
        first = BATCH_ID_BASE * (self.n_batches + 1)
        docs = {}
        for j in range(BATCH_DOCS):
            u = r.random()
            if u < SHARE_COPY or u < SHARE_COPY + SHARE_NEAR:
                _src_id, text = self.sources[int(r.integers(0, len(self.sources)))]
                if u >= SHARE_COPY:
                    text = data.mutate(r, text, EDITS)
                docs[first + j] = text
            else:
                docs[first + j] = data.random_text(r)
                self.sources.append((first + j, docs[first + j]))
        return docs

    def setup(self, workdir: str):
        from fluss_datafusion_spark import EngineSession
        from fluss_datafusion_spark.operators import incremental

        spark = self.ctx.spark
        e = EngineSession(spark=spark, warehouse=os.path.join(workdir, "wh"))
        e.sql(
            "CREATE TABLE docs_clean (doc_id BIGINT NOT NULL, text STRING,"
            " PRIMARY KEY (doc_id))"
        )
        index = os.path.join(workdir, "index")
        incremental.write_dedup_index(
            spark.read.parquet(self.base_path), "doc_id", "text", index
        )
        return {"engine": e, "workdir": workdir, "index": index}

    def start(self, state) -> None:
        spark = self.ctx.spark
        self.e = state["engine"]
        self.index = state["index"]
        self.replay = os.path.join(state["workdir"], "replay")
        self.checkpoint = os.path.join(state["workdir"], "checkpoint")
        os.makedirs(self.replay)
        schema = spark.read.parquet(self.base_path).schema
        self.stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.replay)
        )
        self.probe_df = spark.read.parquet(self.probe_path)
        self.probes = []  # (op, rows, batches ingested before it)

    def table_dirs(self):
        return [os.path.join(self.index, "buckets"), os.path.join(self.index, "shingles")]

    def prepare(self, kind: str) -> None:
        """Untimed: the next batch file lands in the replay directory."""
        if kind == "ingest":
            batch = self._next_batch()
            self.n_batches += 1
            for i, t in batch.items():
                self.ingested[i] = t
                self.batch_of[i] = self.n_batches
            name = f"part-{self.n_batches:05d}.parquet"
            pq.write_table(_table(batch), os.path.join(self.replay, name))

    def run(self, kind: str, op) -> None:
        from fluss_datafusion_spark.operators import incremental

        if kind == "ingest":
            query = incremental.dedup_ingest_sink(
                self.stream, self.e.catalog, "docs_clean", self.index,
                self.checkpoint, threshold=THRESHOLD,
            )
            query.awaitTermination()
            if self.ctx.tracer is not None:
                self.ctx.tracer.stream_progress(query)
            op.rows = BATCH_DOCS
            op.user_bytes = sum(
                8 + len(self.ingested[i].encode())
                for i, b in self.batch_of.items()
                if b == self.n_batches
            )
            return
        rows = incremental.incremental_dedup_pairs(
            self.probe_df, self.index, "doc_id", "text", threshold=THRESHOLD
        ).collect()
        self.probes.append((op, [tuple(r) for r in rows], self.n_batches))

    def _kept(self) -> dict:
        t = self.e.sql("SELECT doc_id, text FROM docs_clean").toArrow()
        return dict(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))

    def kept_ratio(self) -> float:
        return len(self._kept()) / max(1, len(self.ingested))

    def final_check(self):
        kept = self._kept()
        errors = checks.check_ingest(self.base, self.ingested, kept, THRESHOLD)
        for op, rows, n_batches in self.probes:
            indexed = dict(self.base)
            indexed.update((i, t) for i, t in kept.items() if self.batch_of[i] <= n_batches)
            expected = checks.expected_probe_pairs(self.probe, indexed, THRESHOLD)
            op.errors = checks.check_probe(expected, rows, f"probe after batch {n_batches}")
            errors += op.errors
        return errors
