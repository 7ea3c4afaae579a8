#!/usr/bin/env python3
"""Run the benchmark once per seed and report, per end-to-end metric, the
median and the quartile spread (Q3 - Q1 as a share of the median, from
``statistics.quantiles(values, n=4)``) next to the metric's bound.

    python3 perfbench/steady.py --workload <name> --seeds 1-10

Runs are sequential, each in its own process, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    values: dict = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        out = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {wall:.1f}s correct={out['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k}: median {med:.6g} spread {spread:.3f} bound {bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
