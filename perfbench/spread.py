#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--seconds N]

Runs `perfbench/run.py --trace 0` once per seed and prints, for every
end-to-end metric, the median of the runs and the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to a third of the metric's bound from BENCHMARK.json. Also
prints the wall time of each run.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}")
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {wall:.0f} s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{m['name']}: median {med:.4g} {m['unit']}, spread {spread:.3f} "
              f"(a third of the bound: {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
