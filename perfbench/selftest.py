"""Self-test of the output checks: each checker must accept a correct
result and reject a corrupted one.  Needs DuckDB, not Spark.

    python3 perfbench/selftest.py

Run from the root of a checkout; scratch files go under ``.bench_out/``
and are removed.  Exits non-zero if any checker accepts a corruption.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile

import pyarrow.parquet as pq

import checks
import data


class SelfTest:
    def __init__(self):
        self.failures = []

    def expect(self, name: str, errors, should_fail: bool) -> None:
        if bool(errors) != should_fail:
            want = "reject" if should_fail else "accept"
            self.failures.append(f"{name}: checker did not {want} ({errors})")
        else:
            print(f"ok  {name}")


def pk_cases(t: SelfTest) -> None:
    day = dt.date(1995, 3, 1)
    row = (7, 11, "O", 1234.56, day, "1-URGENT")
    model = {7: row, 8: (8, 12, "F", 99.5, day, "5-LOW")}
    t.expect("pk lookup correct", checks.check_lookup(row, [row], 7), False)
    t.expect("pk lookup stale value", checks.check_lookup(row, [(7, 11, "O", 1234.57, day, "1-URGENT")], 7), True)
    t.expect("pk lookup missing row", checks.check_lookup(row, [], 7), True)
    t.expect("pk lookup row for a miss", checks.check_lookup(None, [row], 7), True)
    t.expect("pk table correct", checks.check_table(model, list(model.values())), False)
    t.expect("pk table lost delete", checks.check_table({7: row}, list(model.values())), True)
    t.expect("pk table duplicate key", checks.check_table(model, list(model.values()) + [row]), True)


def log_cases(t: SelfTest, scratch: str) -> None:
    files = []
    for i in range(3):
        path = os.path.join(scratch, f"b{i}.parquet")
        pq.write_table(data.lineitem(5, 2000, 500, f"selftest{i}"), path)
        files.append(path)
    sql = (
        "SELECT l_returnflag, count(*), sum(l_extendedprice), avg(l_discount)"
        " FROM lineitem_log GROUP BY l_returnflag"
    )
    good = checks.duckdb_rows(sql, {"lineitem_log": files})
    t.expect("log_scan identical", checks.compare_rows(good, good, "agg"), False)
    reordered = [(r[0], r[1], r[2] * (1 + 1e-13), r[3]) for r in reversed(good)]
    t.expect("log_scan float noise within tolerance", checks.compare_rows(good, reordered, "agg"), False)
    off = [(r[0], r[1], r[2] * 1.01, r[3]) if i == 0 else r for i, r in enumerate(good)]
    t.expect("log_scan wrong sum", checks.compare_rows(good, off, "agg"), True)
    stale = checks.duckdb_rows(sql, {"lineitem_log": files[:2]})
    t.expect("log_scan missed an append", checks.compare_rows(good, stale, "agg"), True)
    t.expect("log_scan lost a group", checks.compare_rows(good, good[1:], "agg"), True)


def ingest_cases(t: SelfTest) -> None:
    r = data.rng(5, "selftest.docs")
    base = {i: data.random_text(r) for i in range(20)}
    fresh = {100 + i: data.random_text(r) for i in range(10)}
    near_base = {200: data.mutate(r, base[3], 3)}
    copy_fresh = {201: fresh[100]}
    ingested = {**fresh, **near_base, **copy_fresh}
    kept = dict(fresh)
    t.expect("ingest correct", checks.check_ingest(base, ingested, kept, 0.4), False)
    t.expect(
        "ingest kept a near-duplicate",
        checks.check_ingest(base, ingested, {**kept, **near_base}, 0.4),
        True,
    )
    lost = dict(kept)
    del lost[105]
    t.expect("ingest dropped a unique document", checks.check_ingest(base, ingested, lost, 0.4), True)
    altered = dict(kept)
    altered[101] = altered[101] + " extra"
    t.expect("ingest altered a kept text", checks.check_ingest(base, ingested, altered, 0.4), True)

    probe = {900: data.mutate(r, base[5], 3), 901: data.random_text(r)}
    expected = checks.expected_probe_pairs(probe, base, 0.4)
    t.expect("probe expects the planted pair", [] if (5, 900) in expected else ["no pair"], False)
    rows = [(a, b, j) for (a, b), j in expected.items()]
    t.expect("probe correct", checks.check_probe(expected, rows, "probe"), False)
    t.expect("probe missed a pair", checks.check_probe(expected, rows[1:], "probe"), True)
    t.expect(
        "probe wrong jaccard",
        checks.check_probe(expected, [(a, b, j * 0.9) for a, b, j in rows], "probe"),
        True,
    )
    t.expect(
        "probe extra pair",
        checks.check_probe(expected, rows + [(1, 2, 0.5)], "probe"),
        True,
    )


def main() -> int:
    out = os.path.join(os.getcwd(), ".bench_out")
    os.makedirs(out, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=out)
    t = SelfTest()
    try:
        pk_cases(t)
        log_cases(t, scratch)
        ingest_cases(t)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for f in t.failures:
        print(f"FAIL {f}")
    print("selftest:", "FAILED" if t.failures else "all checkers reject corrupted results")
    return 1 if t.failures else 0


if __name__ == "__main__":
    sys.exit(main())
