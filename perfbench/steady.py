#!/usr/bin/env python3
"""Steadiness runner: runs one workload N times, each with another seed,
and prints each metric's median, quartiles and spread (interquartile
range over median) against its bound in BENCHMARK.json.

  python3 perfbench/steady.py --workload heavy_kernels --runs 5 [--trace 0]
                              [--seed0 1] [--seconds S] [--json out.json]

Run from the repository root. A spread at or under a third of the bound
is steady.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results = []
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        took = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}, no result", file=sys.stderr)
            continue
        r = json.loads(lines[-1])
        results.append(r)
        print(f"seed {seed} ({took:.0f} s): correct={r['correct']} "
              f"attempted={r['attempted']} "
              f"failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)
    if len(results) < 2:
        sys.exit(1)

    print(f"\n{'metric':36} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>8} {'bound':>6} {'steady':>7}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = metrics.spread(vals)
        bound = bounds.get(name)
        verdict = "" if bound is None else (
            "yes" if spread <= bound / 3 else "within" if spread <= bound else "NO")
        print(f"{name:36} {med:11.4g} {q1:11.4g} {q3:11.4g} {spread:8.3f} "
              f"{'' if bound is None else bound:>6} {verdict:>7}")
    if not all(r["correct"] for r in results):
        print("\nsome runs reported incorrect outputs", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
