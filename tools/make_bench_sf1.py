#!/usr/bin/env python
"""Regenerate BENCH_SF1.json at HEAD (r10 verdict #1).

The round-7 BENCH_SF1.json was assembled by hand and went stale twice —
pre-fix dedup_semantic timings survived three rounds because no tool owned
the artifact and no trip-wire pinned it.  This tool makes the sf1 bench a
one-command, reproducible artifact:

1. requires a FRESH sf0.1 ``BENCH_LOCAL.json`` (same HEAD) as the scaling
   base — refuses if its query set lags bench.HEADLINE, so the exponent
   denominator can never be a different round's suite,
2. runs the standard ``bench.py`` harness (same medians, same per-query
   noise convergence, same load gate) with ``SPARK_GRAFT_SF_DIR`` pointed
   at the sf1 fixture,
3. derives per-query scaling exponents vs sf0.1 — the fixture is a 10x
   key-shift replication, so exponent = log10(t_sf1 / t_sf0.1); ~1.0 is
   linear, <1 is sublinear (fixed overheads amortizing), >1.2 is flagged
   for adjudication unless the sf1 median is under FLAG_MIN_SEC (an
   exponent computed from two sub-half-second timings is timer noise, not
   a scaling signal),
4. writes BENCH_SF1.json and RESTORES the sf0.1 BENCH_LOCAL.json it
   displaced (bench.py always writes its full payload there).

tests/test_artifacts.py pins BENCH_SF1's query set to bench.HEADLINE at
HEAD, so the artifact can no longer silently omit new headliners.

Usage: python tools/make_bench_sf1.py [--sf1-dir /tmp/sf1]
           [--analysis "free-form adjudication of flagged exponents"]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from flinkexp_spark.srcstate import source_tree_hash  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL = os.path.join(REPO, "BENCH_LOCAL.json")

# below this sf1 median, an exponent is timer noise, not a scaling signal
FLAG_MIN_SEC = 0.5


def head_sha() -> str:
    return subprocess.run(
        ["git", "-C", REPO, "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1-dir", default="/tmp/sf1")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SF1.json"))
    ap.add_argument(
        "--analysis",
        default=None,
        help="adjudication notes for flagged exponents (recorded verbatim)",
    )
    ap.add_argument(
        "--annotate-only",
        action="store_true",
        help="rewrite ONLY the analysis field of the existing artifact "
        "(adjudicating flagged exponents after inspection) — no bench run",
    )
    ap.add_argument(
        "--skip-base-check",
        action="store_true",
        help="allow an sf0.1 base whose query set lags HEADLINE (exponents "
        "for the missing queries are simply omitted)",
    )
    args = ap.parse_args()

    if args.annotate_only:
        if not args.analysis:
            print("--annotate-only requires --analysis", file=sys.stderr)
            return 1
        with open(args.out) as f:
            payload = json.load(f)
        payload["analysis"] = args.analysis
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"annotated {args.out}")
        return 0

    sys.path.insert(0, REPO)
    import bench

    # 1. the scaling base: a fresh sf0.1 run of the same suite
    if not os.path.exists(LOCAL):
        print("no BENCH_LOCAL.json — run `python bench.py` first", file=sys.stderr)
        return 1
    with open(LOCAL) as f:
        base = json.load(f)
    if base.get("sf") != 0.1:
        print(
            f"BENCH_LOCAL.json is an sf={base.get('sf')} run — regenerate "
            "the sf0.1 base first: python bench.py",
            file=sys.stderr,
        )
        return 1
    from flinkexp_spark.registry import queries

    expected = [n for n in bench.HEADLINE if n in queries()]
    lag = sorted(set(expected) - set(base["queries"]))
    if lag and not args.skip_base_check:
        print(
            f"sf0.1 base lags HEADLINE at HEAD (missing {lag}) — rerun "
            "`python bench.py` before the sf1 pass",
            file=sys.stderr,
        )
        return 1
    # The base must have been GENERATED against the current perf-relevant
    # source, not merely cover the same query set (ADVICE r11, medium: a
    # perf change committed after the base run made the sf1 exponents
    # stale while the query-set check stayed green).  Compare the source
    # content hash when the base carries it (r13 — artifact-only commits
    # move git HEAD without changing measured perf, the r12 false trip);
    # fall back to git HEAD for pre-r13 bases.
    if not args.skip_base_check:
        if base.get("src_hash"):
            if base["src_hash"] != source_tree_hash():
                print(
                    "BENCH_LOCAL.json was generated against a different "
                    "perf-relevant source tree (src_hash mismatch) — rerun "
                    "`python bench.py` so the sf0.1 base reflects the code "
                    "being frozen",
                    file=sys.stderr,
                )
                return 1
        elif base.get("head") and base["head"] != head_sha():
            print(
                f"BENCH_LOCAL.json was generated at {base['head'][:12]} but "
                f"HEAD is {head_sha()[:12]} — rerun `python bench.py` so the "
                "sf0.1 base reflects the code being frozen",
                file=sys.stderr,
            )
            return 1

    # 2. the sf1 run, through the standard harness (bench.py overwrites
    # BENCH_LOCAL.json with its full payload; keep the sf0.1 base safe)
    keep = LOCAL + ".sf01.bak"
    shutil.copyfile(LOCAL, keep)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=args.sf1_dir)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            cwd=REPO,
        )
        if proc.returncode != 0:
            print(f"bench.py failed/refused (rc={proc.returncode})", file=sys.stderr)
            return proc.returncode
        with open(LOCAL) as f:
            sf1 = json.load(f)
    finally:
        shutil.move(keep, LOCAL)  # 4. restore the sf0.1 artifact

    # 3. exponents vs sf0.1 (10x volume => exponent = log10 of the ratio)
    expo: dict[str, float] = {}
    for name, t1 in sf1["queries"].items():
        t0 = base["queries"].get(name)
        if t0 and t0 > 0 and t1 > 0:
            expo[name] = round(math.log10(t1 / t0), 2)
    flagged = sorted(
        n
        for n, e in expo.items()
        if e > 1.2 and sf1["queries"][n] >= FLAG_MIN_SEC
    )
    payload = {
        "metric": sf1["metric"],
        "sf": 1.0,
        "head": head_sha(),
        "src_hash": source_tree_hash(),
        # the host the sf1 run measured, as bench.py stamped it
        "cpus": sf1.get("cpus"),
        "host_mem_mb": sf1.get("host_mem_mb"),
        "spark_version": sf1.get("spark_version"),
        "value": sf1["value"],
        "unit": "sec",
        "repeats": sf1["repeats"],
        "max_attempts": sf1.get("max_attempts"),
        "fixture": "tools/gen_sf1.py — key-shifted 10x replication of "
        f"sf0.1 ({args.sf1_dir})",
        "base": "BENCH_LOCAL.json sf0.1 medians at the same HEAD",
        "base_head": base.get("head"),
        "load1_prerun": sf1.get("load1_prerun"),
        "load1_postrun": sf1.get("load1_postrun"),
        "queries": sf1["queries"],
        "queries_min": sf1.get("queries_min"),
        "queries_spread": sf1.get("queries_spread"),
        "attempts": sf1.get("attempts"),
        "noisy_queries": sf1.get("noisy_queries"),
        "scaling_exponent_vs_sf0.1": expo,
        "flag_rule": f"exponent > 1.2 and sf1 median >= {FLAG_MIN_SEC}s "
        "(sub-threshold timings are timer noise, not scaling signal)",
        "flagged_gt_1.2": flagged,
        **({"analysis": args.analysis} if args.analysis else {}),
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    agg = round(
        sum(expo.values()) / len(expo), 2
    ) if expo else None
    print(
        f"wrote {args.out}: suite {sf1['value']}s at sf1, mean exponent "
        f"{agg}, flagged {flagged}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
