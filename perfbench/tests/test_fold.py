"""Unit tests of the benchmark's pure folds.  Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fold import (  # noqa: E402
    Span,
    fold_event_log,
    fold_progress,
    geomean,
    percentile,
    self_times,
    steal_adjusted,
    steal_share,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def test_median_always_reported():
    assert percentile([3.0], 0.5) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.0


def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 0.9) is None
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 0.9) == 90.0  # ten samples (91..100) lie beyond
    assert percentile(xs, 0.99) is None
    assert percentile([], 0.5) is None


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([0.0, 1.0])


def test_steal_adjustment():
    #     user nice sys idle iowait irq softirq steal guest guest_nice
    t0 = [100, 0, 20, 500, 5, 0, 10, 50, 0, 0]
    t1 = [160, 0, 30, 700, 9, 0, 10, 80, 0, 0]  # busy +70, steal +30
    assert steal_share(t0, t1) == pytest.approx(0.3)
    assert steal_adjusted(2.0, t0, t1) == pytest.approx(1.4)
    assert steal_adjusted(2.0, t0, t0) == 2.0  # nothing ran: no correction


def test_self_time_subtracts_merged_children():
    spans = [
        Span("pass", 0.0, 10.0),
        Span("q1", 1.0, 4.0, parent=0),
        Span("q2", 3.0, 6.0, parent=0),  # overlaps q1: covered is 1..6
        Span("q3", 9.0, 12.0, parent=0),  # clipped to 9..10
        Span("build", 1.0, 2.5, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.5, 3.0, 3.0, 1.5])


def test_fold_recorded_event_log():
    with open(os.path.join(HERE, "data", "eventlog.jsonl")) as f:
        stats = fold_event_log(f, alias={"run-abc": "q#drain"})
    assert set(stats) == {"q#build", "q#drain"}
    b, d = stats["q#build"], stats["q#drain"]
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 2)
    assert (d.jobs, d.stages, d.tasks) == (1, 2, 3)
    assert b.task_run_s == pytest.approx(0.3)
    assert b.task_deser_s == pytest.approx(0.02)
    assert d.gc_s == pytest.approx(0.05)
    assert d.shuffle_write_mb == pytest.approx(2.0)
    assert d.shuffle_read_mb == pytest.approx(2.0)
    assert d.spill_mb == pytest.approx(1.0)
    assert d.python_total_s == pytest.approx(0.75)
    assert d.python_boot_s == pytest.approx(0.15)
    assert d.python_data_mb == pytest.approx(1.5)


def test_fold_streaming_progress():
    with open(os.path.join(HERE, "data", "progress.json")) as f:
        stats = fold_progress(json.load(f))
    assert stats.batches == 3
    assert stats.trigger_s == pytest.approx(0.9)
    assert stats.addbatch_s == pytest.approx(0.6)
    assert stats.planning_s == pytest.approx(0.06)
    assert stats.walcommit_s == pytest.approx(0.09)
    assert stats.state_commit_s == pytest.approx(0.03)
    assert stats.state_rows == 17  # final batch of run a (12) + of run b (5)
