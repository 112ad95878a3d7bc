"""Pure folds for the benchmark: percentiles, spans, event logs, progress.

Nothing here touches Spark, the clock or the file system, so every function
is unit-tested on small recorded inputs (``perfbench/tests``).
"""

from __future__ import annotations

import json
import math
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field

MB = 1024 * 1024


# --------------------------------------------------------------------------
# Order statistics
# --------------------------------------------------------------------------
def percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank ``q``-quantile (0 < q < 1), or ``None`` when fewer than
    ``min_beyond`` samples lie strictly above the returned value's rank.

    The median is always reported, even of one sample; every other
    percentile needs ``min_beyond`` samples beyond it.
    """
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if q != 0.5 and len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def geomean(values: Iterable[float]) -> float:
    xs = [v for v in values]
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


# --------------------------------------------------------------------------
# Hypervisor steal
# --------------------------------------------------------------------------
# Field order of the ``cpu`` line of /proc/stat.
_BUSY = (0, 1, 2, 5, 6)  # user nice system irq softirq
_STEAL = 7


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of this machine's CPU demand between two ``/proc/stat`` reads
    that the hypervisor gave to other guests: steal / (busy + steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = sum(d[i] for i in _BUSY)
    return d[_STEAL] / (busy + d[_STEAL]) if busy + d[_STEAL] else 0.0


def steal_adjusted(wall_s: float, t0: list[int], t1: list[int]) -> float:
    """Wall time with the stolen share taken out.

    A vCPU that is runnable but descheduled for a share ``f`` of the time
    stretches CPU-bound work from ``W`` to ``W / (1 - f)``; multiplying the
    wall time by ``1 - f`` recovers ``W``.  On a machine without steal this
    is the wall time itself.
    """
    return wall_s * (1.0 - steal_share(t0, t1))


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------
@dataclass
class Span:
    """One traced interval: ``name`` ran from ``start`` to ``end`` (seconds on
    one monotonic clock), caused by span ``parent`` (an index into the span
    list, ``None`` for the root)."""

    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.

    Children are clipped to their parent's interval and overlapping
    children are merged, so concurrent children are not subtracted twice.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def spans_json(spans: list[Span]) -> list[dict]:
    selfs = self_times(spans)
    return [
        {
            "id": i,
            "name": s.name,
            "parent": s.parent,
            "start": round(s.start, 6),
            "end": round(s.end, 6),
            "self_s": round(selfs[i], 6),
            **({"attrs": s.attrs} if s.attrs else {}),
        }
        for i, s in enumerate(spans)
    ]


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------
# Python-boundary SQL metrics (Spark 4.1 PythonSQLMetrics: pythonTotalTime,
# pythonBootTime, pythonInitTime, pythonDataSent, pythonDataReceived) as the
# event log names them on task-end accumulables.  Times are ms, sizes bytes.
PY_TOTAL_MS = ("time to run Python workers",)
PY_BOOT_MS = ("time to start Python workers", "time to initialize Python workers")
PY_DATA_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupStats:
    """Scheduler / executor / shuffle / Python-boundary counters of the jobs
    of one Spark job group (``<query>#build`` or ``<query>#drain``)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_deser_s: float = 0.0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    python_total_s: float = 0.0
    python_boot_s: float = 0.0
    python_data_mb: float = 0.0

    def add(self, other: GroupStats) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def fold_event_log(
    lines: Iterable[str], alias: dict[str, str] | None = None
) -> dict[str, GroupStats]:
    """Fold an uncompressed Spark event log into per-job-group counters.

    Stages and tasks are attributed through the job that submitted them
    (``SparkListenerJobStart`` carries the job group and its stage ids).
    ``alias`` renames groups first: a streaming query runs its micro-batch
    jobs under its own run id as job group, which the caller maps to the
    group of the call that started the stream.
    """
    alias = alias or {}
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    py_metric = {n: "total" for n in PY_TOTAL_MS}
    py_metric.update({n: "boot" for n in PY_BOOT_MS})
    py_metric.update({n: "data" for n in PY_DATA_BYTES})
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            group = alias.get(group, group)
            if group is None:
                continue
            st = stats.setdefault(group, GroupStats())
            st.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[int(sid)] = group
        elif kind == "SparkListenerStageCompleted":
            sid = int(ev["Stage Info"]["Stage ID"])
            if sid in stage_group:
                stats[stage_group[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev.get("Stage ID", -1)))
            if group is None:
                continue
            st = stats[group]
            st.tasks += 1
            tm = ev.get("Task Metrics") or {}
            st.task_deser_s += tm.get("Executor Deserialize Time", 0) / 1e3
            st.task_run_s += tm.get("Executor Run Time", 0) / 1e3
            st.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            st.spill_mb += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                role = py_metric.get(acc.get("Name"))
                if role is None:
                    continue
                upd = float(acc.get("Update") or 0)
                if role == "total":
                    st.python_total_s += upd / 1e3
                elif role == "boot":
                    st.python_boot_s += upd / 1e3
                else:
                    st.python_data_mb += upd / MB
    return stats


# --------------------------------------------------------------------------
# Structured Streaming progress
# --------------------------------------------------------------------------
@dataclass
class StreamStats:
    """Micro-batch counters of one or more streaming queries, from their
    ``StreamingQueryProgress`` JSON."""

    batches: int = 0
    trigger_s: float = 0.0
    addbatch_s: float = 0.0
    planning_s: float = 0.0
    walcommit_s: float = 0.0
    state_commit_s: float = 0.0
    state_rows: int = 0


def fold_progress(progresses: Iterable[dict]) -> StreamStats:
    """Sum per-batch durations over every progress; ``state_rows`` is the
    state size each query ends with (its highest batch), summed."""
    out = StreamStats()
    final: dict[str, dict] = {}
    for p in progresses:
        d = p.get("durationMs") or {}
        out.batches += 1
        out.trigger_s += d.get("triggerExecution", 0) / 1e3
        out.addbatch_s += d.get("addBatch", 0) / 1e3
        out.planning_s += d.get("queryPlanning", 0) / 1e3
        out.walcommit_s += d.get("walCommit", 0) / 1e3
        for op in p.get("stateOperators") or []:
            out.state_commit_s += op.get("commitTimeMs", 0) / 1e3
        key = str(p.get("runId") or p.get("id"))
        if key not in final or p.get("batchId", -1) >= final[key].get("batchId", -1):
            final[key] = p
    out.state_rows = sum(
        int(op.get("numRowsTotal") or 0)
        for p in final.values()
        for op in p.get("stateOperators") or []
    )
    return out
