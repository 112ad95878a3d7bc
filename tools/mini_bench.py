#!/usr/bin/env python
"""Subset bench with bench.py's exact convergence methodology (guide §1):
noop-sink drain, then ``bench.converge`` — median of the latest window of
N runs, re-run until the window spread <= max(window_min, 0.2s), capped
attempts.  For in-session A/B of individual queries without paying for
the whole suite.

Usage: python tools/mini_bench.py name1,name2 [--repeats 3] [--max-attempts 9]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import converge  # noqa: E402
from flinkexp_spark.registry import queries  # noqa: E402
from flinkexp_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--max-attempts", type=int, default=9)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    spark = get_session(app_name="flinkexp_mini_bench")
    spark.sparkContext.setLogLevel("ERROR")
    for t in ("nation", "documents", "events", "lineitem", "embeddings"):
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).write.format("noop").mode(
                "overwrite"
            ).save()

    qs = queries()

    for name in args.names.split(","):
        name = name.strip()
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue

        def run_once() -> float:
            t0 = time.perf_counter()
            qs[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        n_runs, med, mn, mx, converged = converge(
            run_once, args.repeats, args.max_attempts
        )
        print(
            f"# {name}: median={med:.2f}s min={mn:.2f}s max={mx:.2f}s "
            f"attempts={n_runs}" + ("" if converged else " NOISY"),
            flush=True,
        )


if __name__ == "__main__":
    main()
