"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload daily_batch --seeds 1-10 [--trace 0]

For every metric: the median of the per-run values and the distance
between the first and third quartile as a share of that median (the
figure a metric's bound in BENCHMARK.json must exceed). Also prints the
wall time of every run, since the whole campaign has a time budget.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode} after {wall:.1f} s", flush=True)
            continue
        res = json.loads(lines[-1])
        print(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"{k:32s} median {med:10.4g}  iqr/median {(q3 - q1) / abs(med):.3f}  n={len(vs)}")
        else:
            print(f"{k:32s} median {med:10.4g}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
