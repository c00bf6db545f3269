#!/usr/bin/env python3
"""Run the traced benchmark twice on the same workload and seed and report
which per-layer counters repeat exactly (jobs, stages, tasks, shuffle bytes,
interpreted expressions, ...). Counters that repeat can prove an
optimization from one run each; the others need medians.

    python3 perfbench/repeat_check.py --workload surface_sf0.01 --seed 1
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import stats  # noqa: E402

COUNTERS = ["exec.jobs", "exec.stages", "exec.tasks", "exec.input_mb", "shuffle.read_mb",
            "shuffle.write_mb", "functions.interpreted_exprs", "sources.jobs",
            "catalog.tables", "catalog.columns", "storage.cached_rdds"]


def traced_run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                          "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", "1"], capture_output=True, text=True, check=True)
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: metrics[k]["value"] for k in COUNTERS if k in metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    a = traced_run(args.workload, args.seed, args.seconds)
    b = traced_run(args.workload, args.seed, args.seconds)
    for name, (x, y, same) in stats.repeat_check(a, b).items():
        print(f"{name:32s} {x:14.4f} {y:14.4f} {'repeats' if same else 'varies'}")


if __name__ == "__main__":
    main()
