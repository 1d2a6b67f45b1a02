"""Output checks, computed apart from the engine.

Each check returns a list of error strings; an empty list means the
engine's output matched.  None of them compares against saved output:

- ``pk_serve``: a Python dict model of the seeded upserts and deletes;
- ``log_scan``: DuckDB over the same generated batches, kept as parquet;
- ``doc_ingest``: exact word-3-shingle Jaccard in pure Python.
"""

from __future__ import annotations

import collections
import math

# Float aggregates (sums and averages over up to ~10^6 doubles) are
# summed in different orders by Spark and DuckDB.
FLOAT_REL_TOL = 1e-9
FLOAT_ABS_TOL = 1e-6


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL)
    return a == b


def _sort_key(row):
    return tuple((v is None, round(v, 4) if isinstance(v, float) else v) for v in row)


def compare_rows(expected, got, what: str):
    """Multiset equality of row tuples; floats compare under the stated
    tolerance."""
    exp = sorted((tuple(r) for r in expected), key=_sort_key)
    act = sorted((tuple(r) for r in got), key=_sort_key)
    if len(exp) != len(act):
        return [f"{what}: {len(act)} rows, expected {len(exp)}"]
    for e, a in zip(exp, act):
        if len(e) != len(a) or not all(_close(x, y) for x, y in zip(e, a)):
            return [f"{what}: row {a!r}, expected {e!r}"]
    return []


# -- pk_serve ---------------------------------------------------------------


def check_lookup(model_row, got_rows, key):
    expected = [] if model_row is None else [model_row]
    return compare_rows(expected, got_rows, f"lookup {key}")


def check_table(model: dict, got_rows):
    """Exact equality of the full table with the model (keyed by the
    first column, the primary key)."""
    got = {}
    for row in got_rows:
        row = tuple(row)
        if row[0] in got:
            return [f"final table: key {row[0]} appears twice"]
        got[row[0]] = row
    if got == model:
        return []
    missing = sorted(set(model) - set(got))[:3]
    extra = sorted(set(got) - set(model))[:3]
    differ = sorted(k for k in set(got) & set(model) if got[k] != model[k])[:3]
    return [f"final table: missing {missing} extra {extra} differing {differ}"]


# -- log_scan ---------------------------------------------------------------


def duckdb_rows(sql: str, tables: dict):
    """Run ``sql`` in DuckDB with each name in ``tables`` bound to a view
    over its list of parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, files in tables.items():
            listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{listed}])")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


# -- doc_ingest -------------------------------------------------------------


def shingles(text: str, k: int = 3) -> frozenset:
    """Distinct word k-shingles of the lower-cased, whitespace-split text
    (the engine's definition, restated)."""
    toks = text.lower().split()
    if len(toks) < k:
        return frozenset()
    return frozenset(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class ShingleIndex:
    """Exact Jaccard neighbours through an inverted index on shingles."""

    def __init__(self):
        self.sets = {}
        self._post = collections.defaultdict(set)

    def add(self, doc_id: int, text: str) -> None:
        s = shingles(text)
        self.sets[doc_id] = s
        for sh in s:
            self._post[sh].add(doc_id)

    def neighbours(self, s: frozenset, threshold: float, exclude=None):
        """{doc id: jaccard} of indexed documents at or above threshold."""
        cands = set()
        for sh in s:
            cands |= self._post.get(sh, set())
        cands.discard(exclude)
        out = {}
        for c in cands:
            j = jaccard(s, self.sets[c])
            if j >= threshold:
                out[c] = j
        return out


def check_ingest(base: dict, ingested: dict, kept: dict, threshold: float):
    """``base``/``ingested``: id -> text of the indexed corpus and of
    every streamed document; ``kept``: id -> text of the engine's table."""
    errors = []
    unknown = set(kept) - set(ingested)
    if unknown:
        errors.append(f"ingest: {len(unknown)} kept ids were never ingested")
    changed = [i for i in set(kept) & set(ingested) if kept[i] != ingested[i]]
    if changed:
        errors.append(f"ingest: {len(changed)} kept documents differ from their input")
    dropped = set(ingested) - set(kept)
    if len(kept) + len(dropped) != len(ingested):
        errors.append(
            f"ingest: kept {len(kept)} + dropped {len(dropped)} != ingested {len(ingested)}"
        )
    survivors = ShingleIndex()
    for i, t in base.items():
        survivors.add(i, t)
    everyone = ShingleIndex()
    for i, t in {**base, **ingested}.items():
        everyone.add(i, t)
    for i in sorted(kept):
        s = shingles(kept[i])
        close = survivors.neighbours(s, threshold, exclude=i)
        if close:
            other, j = sorted(close.items())[0]
            errors.append(f"ingest: kept {i} and {other} have jaccard {j:.3f}")
            break
        survivors.add(i, kept[i])
    for i in sorted(dropped):
        if not everyone.neighbours(shingles(ingested[i]), threshold, exclude=i):
            errors.append(f"ingest: dropped {i} has no partner at jaccard >= {threshold}")
            break
    return errors


def expected_probe_pairs(probe: dict, indexed: dict, threshold: float) -> dict:
    """(id_a, id_b) -> jaccard for every pair touching the probe set:
    probe-vs-indexed and probe-vs-probe, id_a < id_b."""
    idx = ShingleIndex()
    for i, t in indexed.items():
        idx.add(i, t)
    for i, t in probe.items():
        idx.add(i, t)
    out = {}
    for i, t in probe.items():
        for other, j in idx.neighbours(shingles(t), threshold, exclude=i).items():
            out[(min(i, other), max(i, other))] = j
    return out


def check_probe(expected: dict, got_rows, what: str):
    got = {(int(a), int(b)): float(j) for a, b, j in got_rows}
    if set(got) != set(expected):
        missing = sorted(set(expected) - set(got))[:3]
        extra = sorted(set(got) - set(expected))[:3]
        return [f"{what}: pairs differ, missing {missing} extra {extra}"]
    for pair, j in expected.items():
        if not math.isclose(got[pair], j, rel_tol=1e-12, abs_tol=1e-12):
            return [f"{what}: jaccard of {pair} is {got[pair]}, expected {j}"]
    return []
