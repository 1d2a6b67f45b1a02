"""Steadiness command: run one workload K times and report each metric's
spread against the bound in ``BENCHMARK.json``.

    python3 perfbench/steady.py --workload pk_serve --runs 10 [--first-seed 1]

Run from the root of a checkout.  Every run is an untraced, fresh
process with its own seed (``first-seed``, ``first-seed + 1``, ...) and
the run length of ``BENCHMARK.json``.  For each metric it prints the
median, the first and third quartiles (``statistics.quantiles``, n=4),
the spread ``(q3 - q1) / median`` and the spread's ratio to the
metric's bound.  A metric whose spread exceeds its bound cannot show a
change of that size: report it as unresolved, not as unchanged.  The
share of failed operations must be identical in every run.  The summary is
also written to ``.bench_out/steady/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(values, bound):
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("inf")
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": spread,
        "bound": bound,
        "ratio_to_bound": spread / bound if bound else None,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2 (quartiles need two values)")
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results, walls = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.perf_counter()
        proc = subprocess.run(
            [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "0",
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            check=False,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        print(
            f"seed {seed}: correct={res['correct']} attempted={res['attempted']}"
            f" failed={res['failed']} wall={walls[-1]:.1f}s "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True,
        )

    summary = {
        "workload": args.workload,
        "runs": args.runs,
        "seconds": seconds,
        "run_wall_s": summarize(walls, None),
        "all_correct": all(r["correct"] for r in results),
        "failed_shares": sorted({r["failed"] / r["attempted"] for r in results}),
        "metrics": {},
    }
    print(f"\n{'metric':36s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'/bound':>7s}")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        s = summarize(values, bounds.get(name))
        summary["metrics"][name] = s
        ratio = "" if s["ratio_to_bound"] is None else f"{s['ratio_to_bound']:7.2f}"
        flag = ""
        if s["ratio_to_bound"] is not None and s["ratio_to_bound"] > 1:
            flag = "  UNRESOLVED: spread exceeds bound"
        print(
            f"{name:36s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f}"
            f" {s['spread']:8.3f} {ratio}{flag}"
        )
    print(
        f"all correct: {summary['all_correct']}; failed shares: {summary['failed_shares']};"
        f" run wall median {summary['run_wall_s']['median']:.1f}s"
    )
    out = os.path.join(".bench_out", "steady")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-s{args.first_seed}x{args.runs}-{int(time.time())}.json"
    with open(os.path.join(out, name), "w", encoding="utf-8") as fh:
        json.dump({**summary, "results": results}, fh, indent=1)
    return 0 if summary["all_correct"] and len(summary["failed_shares"]) == 1 else 1


if __name__ == "__main__":
    sys.exit(main())
