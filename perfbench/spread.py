#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound.

    python3 perfbench/spread.py --workload sql_read --seeds 1-10

The spread is (Q3 - Q1) / median with ``statistics.quantiles(n=4)``;
a metric is steady when its spread is below a third of its bound in
``BENCHMARK.json``.
Runs are sequential; each run's wall time is reported too, for the
run budget.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict = {}
    walls = []
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for line in out.stderr.splitlines():
            if "FAILED" in line:
                print("  " + line)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {stats.median(walls):.1f}s, max {max(walls):.1f}s")
    for name, xs in values.items():
        spread = stats.quartile_spread(xs) if len(xs) >= 2 else float("nan")
        bound = bounds.get(name)
        verdict = ("steady" if spread < bound / 3 else "WITHIN BOUND"
                   if spread <= bound else "TOO WIDE")
        print(f"{name:14s} median {stats.median(xs):10.4g}  spread {spread:6.3f}  "
              f"bound {bound}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
