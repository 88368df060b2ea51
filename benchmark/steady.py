#!/usr/bin/env python3
"""Steadiness check: run one workload N times with different seeds.

    python3 benchmark/steady.py --workload <name> [--runs 10] [--seed0 1]
                                [--seconds 10] [--trace 0] [--out file.json]

Run it from the root of a checkout. For every metric of the result line,
and for every figure of the `detail` line, it prints the median, the first
and third quartiles (Python's statistics.quantiles(n=4)) and the spread
(q3 - q1) / median, plus the share of failed operations of each run. With
--out it also writes every run's result and detail to a JSON file.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def summarize(series):
    rows = []
    for name in sorted(series):
        vals = series[name]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        spread = (q3 - q1) / med if med else float("nan")
        rows.append((name, med, q1, q3, spread, len(vals)))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    metrics, detail = {}, {}
    for i in range(args.runs):
        seed = args.seed0 + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "benchmark/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed with code {p.returncode}", flush=True)
            runs.append({"seed": seed, "code": p.returncode, "wall_s": wall})
            continue
        result = json.loads(lines[-1])
        det = {}
        for ln in lines[:-1]:
            if ln.startswith("detail "):
                det = json.loads(ln[len("detail "):])
        runs.append({"seed": seed, "wall_s": wall, "result": result, "detail": det})
        for k, m in result["metrics"].items():
            metrics.setdefault(k, []).append(m["value"])
        for k, m in det.items():
            detail.setdefault(k, []).append(m["value"])
        share = result["failed"] / result["attempted"]
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} failed_share={share:.6f} wall={wall:.1f}s", flush=True)

    for title, series in (("metrics", metrics), ("detail", detail)):
        print(f"\n{title}: name  median  q1  q3  spread  n")
        for name, med, q1, q3, spread, n in summarize(series):
            print(f"  {name:42s} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f} {n}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
