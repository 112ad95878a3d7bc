#!/usr/bin/env python
"""Subset bench with bench.py's exact convergence methodology (guide §1):
noop-sink drain, then ``bench.converge`` — median of the latest window of
N runs, re-run until the window spread <= max(window_min, 0.2s), capped
attempts.  For in-session A/B of individual queries without paying for
the whole suite.

Each query prints one line: the window median, min and max, and the
build (query callable: plan construction plus the eager jobs it triggers)
/ drain (noop write) split of the median run.  For a streaming query the
median run's micro-batches follow, one line each from a
``StreamingQueryListener``: input rows, every ``durationMs`` phase
(triggerExecution, latestOffset, queryPlanning, walCommit, addBatch,
commitOffsets, ...) and the summed state-store ``commitTimeMs``, then
the same figures summed over the run.  ``--plans-dir`` also
builds the query once more after timing and writes its
``.explain("formatted")`` to ``<plans-dir>/<name>_<suffix>.txt``.

Usage:
  python tools/mini_bench.py name1,name2 [--repeats 3] [--max-attempts 9] \\
      [--plans-dir plans/r14 --suffix before] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from collections import Counter
from contextlib import redirect_stdout

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import converge  # noqa: E402
from flinkexp_spark.registry import queries  # noqa: E402
from flinkexp_spark.session import get_session  # noqa: E402


class _Progress(StreamingQueryListener):
    """Every streaming query's progress on the session, kept per run.  A
    query's progress events reach the listener before its termination
    event, so once every started query has terminated the run's batches
    are all here."""

    def __init__(self) -> None:
        self.progresses: list[dict] = []
        self.started = self.terminated = 0

    def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
        self.started += 1

    def onQueryProgress(self, event):  # noqa: N802
        self.progresses.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event):  # noqa: N802
        self.terminated += 1

    def settle(self, timeout_s: float = 10.0) -> None:
        deadline = time.monotonic() + timeout_s
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.02)


def _batch_lines(progresses: list[dict]) -> list[str]:
    """One line per micro-batch, then their sum (none for batch queries)."""
    lines, total = [], Counter()
    for p in progresses:
        row = Counter({"rows": int(p.get("numInputRows") or 0)})
        row.update(dict(sorted((p.get("durationMs") or {}).items())))
        row["stateCommit"] = sum(
            int(o.get("commitTimeMs") or 0) for o in p.get("stateOperators") or []
        )
        total.update(row)
        lines.append(f"#   {p['runId'][:8]} batch {p['batchId']}: {_fmt(row)}")
    if progresses:
        lines.append(f"#   {len(progresses)} batches: {_fmt(total)}")
    return lines


def _fmt(row: Counter) -> str:
    return " ".join(
        f"{k}={v}" if k == "rows" else f"{k}={v}ms" for k, v in row.items()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--max-attempts", type=int, default=9)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    # no console progress bar: its \r text would swallow the result lines
    # when stderr and stdout share a pipe
    spark = get_session(
        app_name="flinkexp_mini_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for t in ("nation", "documents", "events", "lineitem", "embeddings"):
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).write.format("noop").mode(
                "overwrite"
            ).save()

    qs = queries()
    stream = _Progress()
    spark.streams.addListener(stream)

    for name in args.names.split(","):
        name = name.strip()
        if name not in qs:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        runs: list[tuple[float, float, float, list[dict]]] = []

        def run_once() -> float:
            seen = len(stream.progresses)
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            stream.settle()
            runs.append((t2 - t0, t1 - t0, t2 - t1, stream.progresses[seen:]))
            return t2 - t0

        n_runs, med, mn, mx, converged = converge(
            run_once, args.repeats, args.max_attempts
        )
        build, drain, batches = next(
            (b, d, p) for t, b, d, p in runs if t == med
        )
        print(
            f"# {name}: median={med:.2f}s min={mn:.2f}s max={mx:.2f}s "
            f"build={build:.2f}s drain={drain:.2f}s "
            f"attempts={n_runs}" + ("" if converged else " NOISY"),
            flush=True,
        )
        for line in _batch_lines(batches):
            print(line, flush=True)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, args.sf_dir).explain("formatted")
            with open(out, "w") as f:
                f.write(buf.getvalue())
            print(f"{name}: plan -> {out}", flush=True)


if __name__ == "__main__":
    main()
