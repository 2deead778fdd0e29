#!/usr/bin/env python3
"""Runs one workload once per seed and reports, for each end-to-end
metric, the median of the runs and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound in BENCHMARK.json ("ok" below a third
of the bound, "within bound" below the bound, "WIDE" above it). Each
seed's line also shows the run stamp's `contaminated` flag and steal
share.

Usage, from the repository root:

    python3 perfbench/steady.py --workload vcf_load --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="first-last")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    first, last = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(first, last + 1):
        out = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        stamp = next((json.loads(l[6:]) for l in lines if l.startswith("stamp ")), {})
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} contaminated={stamp.get('contaminated')} "
              f"steal={stamp.get('steal_frac', float('nan')):.3f} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        spread = (q[2] - q[0]) / med if med else float("inf")
        bound = bounds.get(k, 0)
        verdict = "ok" if spread <= bound / 3 else "within bound" if spread <= bound else "WIDE"
        print(f"{k:14s} median {med:.5g}  spread {spread:.4f}  bound {bound}  {verdict}")


if __name__ == "__main__":
    main()
