#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the ``flinkexp_spark`` engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 8 --trace 0

One run is one fresh process: it writes a seeded synthetic fixture
(``gen.py``), starts the engine session sized from this host, checks every
workload query against its DuckDB oracle, runs a few untimed warm-up passes,
then drives a closed loop -- one caller, one query at a time, each built
through ``registry.queries()[name](spark, sf_dir)`` and drained through the
``noop`` sink -- in seed-shuffled passes until ``--seconds`` have elapsed.
Reported times are steal-adjusted (``fold.steal_adjusted``); the raw wall
times are in the results file.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced passes with traced ones (Spark job groups ``<query>#build`` /
``<query>#drain``, an uncompressed event log, Catalyst phase times and a
``StreamingQueryListener``) and prints the per-layer metrics.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; everything else the run leaves (stamp, per-query samples,
failures by name, spans, per-query layer breakdown) goes to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import bz2
import json
import lzma
import os
import platform
import random
import shutil
import signal
import subprocess
import sys
import time
import zlib
from dataclasses import asdict, dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import fold  # noqa: E402
import gen  # noqa: E402


# Fixture scale: sf 0.01 is ~60k lineitem rows.  Queries at this size are
# bound by fixed per-query cost, which is what a run can afford to repeat.
SF = 0.01


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    warm_passes: int  # untimed noop passes after the oracle pass


# Why each workload exists is stated in BENCHMARK.json and README.md.
WORKLOADS = {
    "sql_batch": Workload(
        # The JIT keeps speeding both workloads up over their first ten or so
        # executions (on a 4-core host the first noop pass after the oracle
        # pass takes ~1.3x the eighth), so the timed passes start late.
        queries=(
            "wordcount_batch",
            "sql_tpch_q5",
            "join_broadcast_star",
        ),
        warm_passes=6,
    ),
    "stream_llm": Workload(
        queries=(
            "stream_wordcount_update",
            "multimodal_decode_bzip2",
        ),
        warm_passes=4,
    ),
}

# Per-layer metric names, in the order BENCHMARK.json lists them.
CODECS = ("inflate", "bzip2", "lzma2", "xz")
PER_LAYER = (
    "session_start_s",
    "build_s",
    "build_jobs",
    "build_share",
    "catalyst_plan_s",
    "drain_jobs",
    "stages",
    "tasks",
    "task_deser_s",
    "task_run_s",
    "gc_s",
    "executor_busy_frac",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "python_total_s",
    "python_boot_s",
    "python_data_mb",
    *(f"codec.{c}_mb_per_s" for c in CODECS),
    "stream_batches",
    "stream_trigger_s",
    "stream_addbatch_s",
    "stream_planning_s",
    "stream_walcommit_s",
    "state_commit_s",
    "state_rows",
    "stream_staging_s",
    "peak_rss_mb",
    "trace_overhead_frac",
)


def _unit(name: str) -> str:
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_share"):
        return "ratio"
    return "count"


# --------------------------------------------------------------------------
# Host, process tree, clocks
# --------------------------------------------------------------------------
def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _since_process_start() -> float:
    """Seconds since this process was created (``/proc/self/stat`` start
    time against the boot-time clock), so interpreter start counts too."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _cpu_ticks() -> list[int]:
    """Aggregate ``cpu`` line of ``/proc/stat``: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) in MB of this process, its JVM and the
    JVM's Python workers, keyed ``<pid>:<name>``."""
    out = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if sig is not None:
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        while alive and time.monotonic() < deadline:
            try:  # reap our own children; others are reaped by init
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if not alive:
            return


def _git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


# --------------------------------------------------------------------------
# Codecs (``flinkexp_spark.functions``), called directly
# --------------------------------------------------------------------------
def _codec_payload(seed: int, n_bytes: int = 64 * 1024) -> bytes:
    rng = random.Random(seed)
    words = []
    size = 0
    while size < n_bytes:
        w = rng.choice(gen.WORDS)
        words.append(w)
        size += len(w) + 1
    return " ".join(words).encode()[:n_bytes]


def codec_bench(seed: int, reps: int) -> tuple[dict[str, float], list[str]]:
    """Decode stdlib-compressed payloads with the engine's decoders.

    Returns (output MB/s per codec as the median of ``reps`` decodes, names
    of codecs whose output differs from the original bytes or raised)."""
    from flinkexp_spark.functions import bzip2, inflate, lzma2, xz

    plain = _codec_payload(seed)
    lzma2_filters = [{"id": lzma.FILTER_LZMA2, "preset": 6}]
    cases = {
        "inflate": (zlib.compress(plain, 6), inflate.zlib_decompress),
        "bzip2": (bz2.compress(plain, 9), bzip2.bz2_decompress),
        "lzma2": (
            lzma.compress(plain, format=lzma.FORMAT_RAW, filters=lzma2_filters),
            lambda b: lzma2.lzma2_decode_chunks(b, 0, None)[0],
        ),
        "xz": (lzma.compress(plain, format=lzma.FORMAT_XZ), xz.xz_decompress),
    }
    rates: dict[str, float] = {}
    bad: list[str] = []
    for name, (payload, decode) in cases.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                out = decode(payload)
            except Exception as exc:  # a decoder bug is a counted failure
                print(f"# codec {name}: {exc!r}", file=sys.stderr)
                out = None
            times.append(time.perf_counter() - t0)
            if out != plain:
                bad.append(name)
                break
        if name not in bad:
            rates[name] = len(plain) / (1024 * 1024) / fold.median(times)
    return rates, bad


# --------------------------------------------------------------------------
# Tracing hooks (only installed with --trace 1)
# --------------------------------------------------------------------------
class StreamRecorder:
    """Maps each streaming run id to the query whose build started it and
    keeps every progress report.  ``onQueryStarted`` runs synchronously
    inside ``DataStreamWriter.start()``, so ``current`` is still the query
    being built when it fires."""

    def __init__(self) -> None:
        self.current: str | None = None
        self.run_query: dict[str, str] = {}
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
                if rec.current is not None:
                    rec.run_query[str(event.runId)] = rec.current

            def onQueryProgress(self, event):  # noqa: N802
                rec.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _Listener()


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query execution,
    read from its Catalyst phase tracker after forcing the physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            total += phases.apply(phase).durationMs()
    return total / 1e3


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------
class Run:
    def __init__(self, args: argparse.Namespace, wl: Workload) -> None:
        self.args, self.wl = args, wl
        self.start_ticks = _cpu_ticks()
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failures: list[dict] = []
        self.spans: list[fold.Span] = []
        self.samples: list[dict] = []  # one per timed query execution
        self.passes: list[dict] = []
        self.stamp: dict = {}
        self.rec = StreamRecorder()
        self.spark = None

    # -- helpers -----------------------------------------------------------
    def fail(self, phase: str, name: str, detail: str) -> None:
        self.failures.append({"phase": phase, "query": name, "detail": detail[:500]})
        print(f"# FAILED {phase} {name}: {detail[:300]}", file=sys.stderr)

    def span(self, name: str, start: float, end: float, parent, **attrs) -> int:
        self.spans.append(fold.Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    # -- phases ------------------------------------------------------------
    def setup(self) -> None:
        a = self.args
        self.run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        dirs = {d: os.path.join(self.run_dir, d) for d in
                ("fixture", "local", "scratch", "tmp", "eventlog", "warehouse")}
        for d in dirs.values():
            os.makedirs(d)
        cpus = len(os.sched_getaffinity(0))
        mem_mb = _mem_total_mb()
        os.environ.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=f"{max(1024, min(mem_mb // 4, 8192))}m",
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_SCRATCH=dirs["scratch"],
            TMPDIR=dirs["tmp"],
            # every JVM (spark-submit's launcher too) keeps its temp files in
            # the run dir and its perf counters off the file system
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:+PerfDisableSharedMem",
        )
        os.chdir(self.run_dir)  # derby.log / metastore_db land in the run dir
        self.stamp = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "sf": SF, "cpus": cpus, "mem_total_mb": mem_mb,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "python": platform.python_version(), "load1_before": os.getloadavg()[0],
        }
        t0 = time.monotonic()
        self.sf_dir = gen.write(dirs["fixture"], SF, a.seed)
        self.stamp["fixture_gen_s"] = time.monotonic() - t0

        sys.path.insert(0, ROOT)
        from flinkexp_spark.registry import queries
        from flinkexp_spark.session import get_session
        from flinkexp_spark.srcstate import source_tree_hash

        self.queries = queries()

        self.stamp["source_tree_hash"] = source_tree_hash(ROOT)
        self.stamp["git_head"] = _git_head()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": dirs["warehouse"],
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.eventlog_dir = dirs["eventlog"]
        t0 = time.monotonic()
        self.spark = get_session(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.monotonic() - t0
        sc = self.spark.sparkContext
        self.stamp.update(
            spark=self.spark.version,
            java=sc._jvm.java.lang.System.getProperty("java.version"),
        )
        if self.trace:
            self.spark.streams.addListener(self.rec.listener())

        self.stamp["session_start_s"] = self.session_start_s
        # Codec outputs are checked in every run, timed only when tracing.
        t0 = time.monotonic()
        self.codec_rates, bad = codec_bench(a.seed, reps=5 if self.trace else 1)
        self.attempted += len(CODECS)
        for name in bad:
            self.fail("codec", name, "decoded bytes differ from the original")

        self.stamp["codec_check_s"] = time.monotonic() - t0
        self.check_pass()
        t0 = time.monotonic()
        rng = random.Random(a.seed + 2)
        for _ in range(self.wl.warm_passes):
            order = list(self.wl.queries)
            rng.shuffle(order)
            for name in order:
                self.attempted += 1
                try:
                    self.queries[name](self.spark, self.sf_dir).write.format(
                        "noop").mode("overwrite").save()
                except Exception as exc:  # counted like a timed failure
                    self.fail("warm-up", name, repr(exc))
        self.stamp["warm_passes_s"] = time.monotonic() - t0
        self.setup_wall_s = _since_process_start()
        self.setup_s = fold.steal_adjusted(self.setup_wall_s, self.start_ticks, _cpu_ticks())

    def check_pass(self) -> None:
        """Every query against its oracle, outside the timed region; also
        the first warm-up pass."""
        from flinkexp_spark.testing.oracle import compare_query, duck_connection

        con = duck_connection(self.sf_dir)
        order = list(self.wl.queries)
        random.Random(self.args.seed).shuffle(order)
        for name in order:
            self.attempted += 1
            timings: dict = {}
            try:
                res = compare_query(self.spark, con, name, self.sf_dir, timings)
                self.stamp.setdefault("check_s", {})[name] = timings
            except Exception as exc:  # a raising query is a counted failure
                self.fail("oracle", name, repr(exc))
                continue
            if not res.ok:
                self.fail("oracle", name, res.detail)
        con.close()

    def run_query(self, name: str, traced: bool, parent: int) -> None:
        sc = self.spark.sparkContext
        fn = self.queries[name]
        self.attempted += 1
        c0 = _cpu_ticks()
        q0 = time.monotonic()
        cat = None
        try:
            if traced:
                self.rec.current = name
                sc.setJobGroup(f"{name}#build", name)
            df = fn(self.spark, self.sf_dir)
            b1 = time.monotonic()
            if traced:
                self.rec.current = None
                cat = _catalyst_s(df)
                sc.setJobGroup(f"{name}#drain", name)
            d0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            d1 = time.monotonic()
            c1 = _cpu_ticks()
        except Exception as exc:  # counted, and the loop goes on
            self.fail("timed", name, repr(exc))
            return
        finally:
            if traced:
                self.rec.current = None
                sc.setLocalProperty("spark.jobGroup.id", None)
        qid = self.span(f"query:{name}", q0, d1, parent)
        self.span("build", q0, b1, qid)
        if cat is not None:
            self.span("catalyst", b1, d0, qid, catalyst_s=cat)
        self.span("drain", d0, d1, qid)
        self.samples.append({
            "query": name, "pass": len(self.passes), "traced": traced,
            "build_s": b1 - q0, "drain_s": d1 - d0, "catalyst_s": cat,
            "wall_s": d1 - q0, "latency_s": fold.steal_adjusted(d1 - q0, c0, c1),
        })

    def timed(self) -> None:
        rng = random.Random(self.args.seed + 1)
        t_start = time.monotonic()
        deadline = t_start + self.args.seconds
        root = self.span("workload", t_start, t_start, None, workload=self.args.workload)
        # Every run times at least this many passes, so a slow (contended)
        # run does not report the median of fewer, less warmed passes.
        min_passes = 4
        while True:
            traced = self.trace and len(self.passes) % 2 == 1
            order = list(self.wl.queries)
            rng.shuffle(order)
            c0 = _cpu_ticks()
            p0 = time.monotonic()
            pid = self.span("pass", p0, p0, root, traced=traced)
            for name in order:
                self.run_query(name, traced, pid)
            p1 = time.monotonic()
            c1 = _cpu_ticks()
            self.spans[pid].end = p1
            self.passes.append({
                "traced": traced, "order": order, "wall_s": p1 - p0,
                "steal_share": fold.steal_share(c0, c1),
                "adj_s": fold.steal_adjusted(p1 - p0, c0, c1),
            })
            if p1 >= deadline and len(self.passes) >= min_passes:
                break
        self.spans[root].end = time.monotonic()

    def teardown(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.stamp["peak_rss_by_process_mb"] = _tree_peak_rss_mb()
        self.peak_rss_mb = sum(self.stamp["peak_rss_by_process_mb"].values())
        kids = _descendants(os.getpid())
        if self.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait(timeout=10)
        _wait_gone(kids, timeout_s=30)
        self.stamp["load1_after"] = os.getloadavg()[0]

    # -- metrics -----------------------------------------------------------
    def end_to_end(self, key: str = "adj") -> dict[str, float]:
        """The bounded metrics, steal-adjusted (``key="adj"``) or as raw
        wall time (``key="wall"``), from the untraced passes."""
        lat_key, pass_key = ("latency_s", "adj_s") if key == "adj" else ("wall_s", "wall_s")
        by_query: dict[str, list[float]] = {}
        for s in self.samples:
            if not s["traced"]:
                by_query.setdefault(s["query"], []).append(s[lat_key])
        return {
            "pass_s": fold.median(p[pass_key] for p in self.passes if not p["traced"]),
            "query_geomean_s": fold.geomean(fold.median(v) for v in by_query.values()),
            "setup_s": self.setup_s if key == "adj" else self.setup_wall_s,
        }

    def summary(self) -> dict:
        """Unbounded end-to-end figures for the results file."""
        lat = [s["latency_s"] for s in self.samples if not s["traced"]]
        return {
            "wall": self.end_to_end("wall"),
            "query_p50_s": fold.percentile(lat, 0.5),
            "query_p90_s": fold.percentile(lat, 0.9),
            "query_samples": len(lat),
            "peak_rss_mb": self.peak_rss_mb,
            "failed_frac": len(self.failures) / self.attempted,
        }

    def per_layer(self) -> tuple[dict[str, float], dict]:
        logs = os.listdir(self.eventlog_dir)
        alias = {run: f"{q}#build" for run, q in self.rec.run_query.items()}
        with open(os.path.join(self.eventlog_dir, logs[0])) as f:
            groups = fold.fold_event_log(f, alias)
        traced_passes = [p for p in self.passes if p["traced"]]
        n = len(traced_passes)
        traced = [s for s in self.samples if s["traced"]]
        build, drain = fold.GroupStats(), fold.GroupStats()
        breakdown: dict[str, dict] = {}
        for q in self.wl.queries:
            b = groups.get(f"{q}#build", fold.GroupStats())
            d = groups.get(f"{q}#drain", fold.GroupStats())
            build.add(b)
            drain.add(d)
            runs = {r for r, name in self.rec.run_query.items() if name == q}
            st = fold.fold_progress(p for p in self.rec.progress if p.get("runId") in runs)
            qs = [s for s in traced if s["query"] == q]
            breakdown[q] = {
                "build_s": sum(s["build_s"] for s in qs) / n,
                "drain_s": sum(s["drain_s"] for s in qs) / n,
                "catalyst_s": sum(s["catalyst_s"] for s in qs) / n,
                **{
                    part: {k: v / n for k, v in asdict(stats).items()}
                    for part, stats in (("build", b), ("drain", d), ("stream", st))
                },
            }
        both = fold.GroupStats()
        both.add(build)
        both.add(drain)
        stream_runs = set(self.rec.run_query)
        st = fold.fold_progress(p for p in self.rec.progress if p.get("runId") in stream_runs)
        pass_traced = fold.median(p["wall_s"] for p in traced_passes)
        overhead = (
            fold.median(p["adj_s"] for p in traced_passes)
            / fold.median(p["adj_s"] for p in self.passes if not p["traced"])
        )
        build_s = sum(s["build_s"] for s in traced) / n
        streaming = set(self.rec.run_query.values())
        stream_build_s = sum(s["build_s"] for s in traced if s["query"] in streaming) / n
        cpus = self.stamp["cpus"]
        m = {
            "session_start_s": self.session_start_s,
            "build_s": build_s,
            "build_jobs": build.jobs / n,
            "build_share": build_s / pass_traced,
            "catalyst_plan_s": sum(s["catalyst_s"] for s in traced) / n,
            "drain_jobs": drain.jobs / n,
            "stages": both.stages / n,
            "tasks": both.tasks / n,
            "task_deser_s": both.task_deser_s / n,
            "task_run_s": both.task_run_s / n,
            "gc_s": both.gc_s / n,
            "executor_busy_frac": both.task_run_s / n / (cpus * pass_traced),
            "shuffle_write_mb": both.shuffle_write_mb / n,
            "shuffle_read_mb": both.shuffle_read_mb / n,
            "spill_mb": both.spill_mb / n,
            "python_total_s": both.python_total_s / n,
            "python_boot_s": both.python_boot_s / n,
            "python_data_mb": both.python_data_mb / n,
            **{f"codec.{c}_mb_per_s": self.codec_rates.get(c, 0.0) for c in CODECS},
            "stream_batches": st.batches / n,
            "stream_trigger_s": st.trigger_s / n,
            "stream_addbatch_s": st.addbatch_s / n,
            "stream_planning_s": st.planning_s / n,
            "stream_walcommit_s": st.walcommit_s / n,
            "state_commit_s": st.state_commit_s / n,
            "state_rows": st.state_rows / n,
            "stream_staging_s": max(0.0, stream_build_s - st.trigger_s / n),
            "peak_rss_mb": self.peak_rss_mb,
            "trace_overhead_frac": overhead - 1.0,
        }
        return m, breakdown


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flinkexp_spark", "registry.py")):
        print(f"perfbench: no flinkexp_spark package under {ROOT}", file=sys.stderr)
        return 2

    # The engine, its JVM and its Python workers inherit fd 1; route all of
    # it to stderr and keep a private copy of stdout for the result line.
    out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)

    run = Run(args, WORKLOADS[args.workload])
    try:
        run.setup()
        run.timed()
    finally:  # the JVM and its workers end with the run, even a failed one
        run.teardown()
    if args.trace:
        metrics, breakdown = run.per_layer()
        names = PER_LAYER
    else:
        metrics, breakdown = run.end_to_end(), {}
        names = tuple(metrics)
    failed = len(run.failures)
    results = {
        "stamp": run.stamp,
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "failures": run.failures,
        "metrics": metrics,
        "summary": run.summary(),
        "passes": run.passes,
        "samples": run.samples,
        "per_query_layers": breakdown,
        "spans": fold.spans_json(run.spans),
    }
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(res_dir, f"{tag}.json"), "w") as f:
        json.dump(results, f, indent=1)
    os.chdir(ROOT)
    shutil.rmtree(run.run_dir, ignore_errors=True)
    line = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": _unit(k)} for k in names},
    }
    out.write(json.dumps(line) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
