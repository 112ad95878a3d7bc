#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload sql_batch --seeds 1-10 [--trace 0]

For every metric it prints the median of the runs and the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of that median, next to the metric's ``bound`` from
``BENCHMARK.json``.  A benchmark is steady enough when every spread except
``setup_s`` is below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs: list[dict] = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    if len(runs) < 2:
        return 0
    print(f"\n{'metric':28} {'median':>12} {'iqr/med':>8} {'bound':>6}")
    for name in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None or sp < bound / 3 else "  <-- above bound/3"
        print(f"{name:28} {med:12.4f} {sp:8.3f} {bound if bound is not None else '':>6}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
