#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --workload <name> --seeds 1 2 3 ... [--seconds S]

Runs perfbench/run.py once per seed (sequentially, --trace 0) and prints,
for each end-to-end metric, the median of the runs and the distance
between the first and third quartile (statistics.quantiles(n=4)) as a
share of that median, next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    values = {}
    for seed in a.seeds:
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed} rc={r.returncode} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:20s} median={statistics.median(xs):.4g} "
              f"iqr/median={(q3 - q1) / statistics.median(xs):.3f} bound={m['bound']}")


if __name__ == "__main__":
    main()
