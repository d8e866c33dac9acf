#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with another seed,
and prints each metric's median, quartiles and spread (the distance
between the quartiles as a share of the median) next to its bound from
BENCHMARK.json, plus the failed share of every run.

    python3 perfbench/steady.py --workload reports --runs 10
    python3 perfbench/steady.py --workload corpus --runs 2 --trace 1 --seed0 5

With --trace 1 it reports the per-layer metrics instead (no bounds).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description="run one workload N times and report spreads")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, shares = {}, []
    for i in range(a.runs):
        seed = a.seed0 + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run exited with {r.returncode}")
        out = json.loads(r.stdout.strip().splitlines()[-1])
        shares.append(f"{out['failed']}/{out['attempted']}")
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + json.dumps(out), flush=True)
    print(f"\n{a.workload}: {a.runs} runs, failed/attempted {' '.join(shares)}")
    print(f"{'metric':42s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None or spread <= bound / 3 else "  <- above a third of its bound"
        print(f"{name:42s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{bound if bound is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
