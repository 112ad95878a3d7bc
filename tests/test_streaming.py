"""Streaming semantics beyond the oracle-checked catalog: multi-batch update
cadence, checkpoint restart/recovery (T10), late-row side routing (T5
helper), rate/socket plumbing."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import uuid
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from flinkexp_spark.streaming.late_data import LateRowRouter
from flinkexp_spark.streaming.replay import scratch_dir


def _write_file(df, d, i, base_time=None):
    fdir = os.path.join(d, f"f{i:04d}")
    df.coalesce(1).write.mode("overwrite").parquet(fdir)
    ts = (base_time or time.time()) + i * 5
    for root, _, files in os.walk(fdir):
        for f in files:
            os.utime(os.path.join(root, f), (ts, ts))
    return fdir


def test_update_mode_multibatch_cadence(spark):
    """SURVEY §2.1 semantic note: update mode emits the refreshed per-key
    total each micro-batch — 'a a' yields (a,1) then (a,2) at batch
    granularity, the reference's rolling-sum cadence."""
    with scratch_dir("cadence") as work:
        schema = "word string"
        input_dir = os.path.join(work, "in")
        os.makedirs(input_dir)
        _write_file(spark.createDataFrame([("a",), ("b",)], schema), input_dir, 0)
        _write_file(spark.createDataFrame([("a",), ("a",)], schema), input_dir, 1)

        reader = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(input_dir, "f*"))
        )
        agg = reader.groupBy("word").agg(F.count("*").alias("cnt"))
        batches = []
        q = (
            agg.writeStream.foreachBatch(
                lambda df, epoch: batches.append(
                    sorted((r.word, r.cnt) for r in df.collect())
                )
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .start()
        )
        q.awaitTermination()
        batches = [b for b in batches if b]
        assert batches[0] == [("a", 1), ("b", 1)]
        # second batch: only the changed key re-emits, with the new total
        assert batches[1] == [("a", 3)]


def test_checkpoint_restart_resumes_state(spark):
    """T10: kill the query, add data, restart from the same checkpoint —
    state (running counts) must carry over, not restart from zero."""
    with scratch_dir("ckpt") as work:
        schema = "k string"
        input_dir = os.path.join(work, "in")
        ckpt = os.path.join(work, "checkpoint")
        os.makedirs(input_dir)
        _write_file(spark.createDataFrame([("x",), ("y",)], schema), input_dir, 0)

        def run_once():
            reader = spark.readStream.schema(schema).parquet(
                os.path.join(input_dir, "f*")
            )
            agg = reader.groupBy("k").agg(F.count("*").alias("cnt"))
            name = f"ck_{uuid.uuid4().hex[:8]}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
            res = {r.k: r.cnt for r in spark.table(name).collect()}
            spark.catalog.dropTempView(name)
            return res

        first = run_once()
        assert first == {"x": 1, "y": 1}
        _write_file(spark.createDataFrame([("x",), ("z",)], schema), input_dir, 1)
        second = run_once()
        assert second == {"x": 2, "y": 1, "z": 1}


def test_late_row_router_side_output(spark):
    """T5 helper: rows behind the tracked watermark land in the side sink,
    on-time rows in the main handler."""
    with scratch_dir("late") as work:
        schema = "id long, ts timestamp"
        input_dir = os.path.join(work, "in")
        side = os.path.join(work, "side")
        os.makedirs(input_dir)
        _write_file(
            spark.createDataFrame([(1, datetime(2024, 1, 10, 12, 0))], schema),
            input_dir,
            0,
        )
        _write_file(
            spark.createDataFrame(
                [(2, datetime(2024, 1, 1, 0, 0)), (3, datetime(2024, 1, 10, 13, 0))],
                schema,
            ),
            input_dir,
            1,
        )
        on_time_ids = []
        router = LateRowRouter(
            ts_col="ts",
            delay=timedelta(hours=1),
            on_time=lambda df, e: on_time_ids.extend(r.id for r in df.collect()),
            side_path=side,
        )
        reader = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(input_dir, "f*"))
        )
        q = (
            reader.writeStream.foreachBatch(router)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .start()
        )
        q.awaitTermination()
        assert sorted(on_time_ids) == [1, 3]
        late_ids = [r.id for r in spark.read.parquet(side).collect()]
        assert late_ids == [2]


def test_rate_source_smoke(spark):
    """S11: the synthetic unbounded source produces schema (timestamp, value)."""
    from flinkexp_spark.sources import connectors

    df = connectors.rate_source(spark, rows_per_second=10)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]


def test_socket_wordcount_live(spark):
    """S9/E1: the reference's actual topology against a real TCP socket
    (socketTextStream analog, StreamSocket.scala:13)."""
    import socket
    import threading

    lines = ["spark flink spark", "flink"]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(3)

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    from flinkexp_spark.sources import connectors

    stream = connectors.socket_source(spark, "127.0.0.1", port)
    counts = (
        stream.select(F.explode(F.split("value", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 30
        result = {}
        while time.time() < deadline:
            q.processAllAvailable()
            result = {r.word: r.cnt for r in spark.table(name).collect()}
            if result.get("spark") == 2 and result.get("flink") == 2:
                break
            time.sleep(0.5)
        assert result.get("spark") == 2 and result.get("flink") == 2, result
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
        srv.close()


def test_kv_sink_upsert(spark, tmp_path):
    """S7: foreachPartition KV upsert sink is idempotent per key, with later
    epochs winning."""
    from flinkexp_spark.sources.connectors import (
        kv_sink,
        read_kv_spool,
        spool_kv_client_factory,
    )

    spool = str(tmp_path / "kvspool")
    os.makedirs(spool)
    writer = kv_sink(["k"], ["v"], spool_kv_client_factory(spool), batch_size=1)
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    df2 = spark.createDataFrame([("a", 5)], "k string, v long")
    writer(df1, 0)
    writer(df2, 1)
    assert read_kv_spool(spool) == {("a",): (5,), ("b",): (2,)}


def test_wide_column_sink_cell_versioning(spark, tmp_path):
    """S8: rows melt into (row_key, family, qualifier, value) cells and the
    store keeps the latest epoch per CELL — HBase timestamp semantics,
    including partial-row updates that leave sibling cells intact."""
    from flinkexp_spark.sources.connectors import (
        read_wide_column_spool,
        spool_kv_client_factory,
        wide_column_cells,
        wide_column_sink,
    )

    spool = str(tmp_path / "wcspool")
    os.makedirs(spool)

    cells = wide_column_cells(
        spark.createDataFrame([(1, 10, 100)], "rk long, a long, b long"),
        "rk",
        "fam",
        ["a", "b"],
    )
    assert sorted(cells.columns) == ["family", "qualifier", "row_key", "value"]
    assert cells.count() == 2

    writer = wide_column_sink(
        "rk", "fam", ["a", "b"], spool_kv_client_factory(spool), batch_size=1
    )
    writer(spark.createDataFrame([(1, 10, 100), (2, 20, 200)], "rk long, a long, b long"), 0)
    writer(spark.createDataFrame([(1, 11, 100)], "rk long, a long, b long"), 1)
    store = read_wide_column_spool(spool)
    assert store["1"][("fam", "a")] == "11", "epoch-1 cell must win"
    assert store["1"][("fam", "b")] == "100", "sibling cell intact"
    assert store["2"][("fam", "a")] == "20"


def test_kv_sink_no_driver_collect():
    """S7 scale guard: the KV write path must not serialize batches through
    the driver — no collect()/toPandas()/toLocalIterator in kv_sink."""
    import inspect

    from flinkexp_spark.sources import connectors

    src = inspect.getsource(connectors.kv_sink)
    for banned in (".collect(", ".toPandas(", ".toLocalIterator("):
        assert banned not in src, f"{banned} found in kv_sink write path"
    assert ".foreachPartition(" in src


def test_transform_with_state_parity(spark):
    """T7 forward path (transformWithStateInPandas): gated on protobuf,
    which the state-server IPC requires (pip install OR the SDK bridge in
    flinkexp_spark/compat/protobuf_shim.py)."""
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime available (pip or SDK bridge)")
    from flinkexp_spark.streaming.replay import replay
    from flinkexp_spark.streaming.stateful import running_totals_tws_transform

    events = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 7, "click", 1.25, "{}"),
         (2, datetime(2024, 1, 1), 7, "view", 2.50, "{}"),
         (3, datetime(2024, 1, 1), 9, "click", 0.75, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = replay(
        spark, events, running_totals_tws_transform, output_mode="update",
        state_provider="rocksdb",  # multiple column families need RocksDB
    )
    got = {r.user_id: (r.n_events, r.value_cents) for r in out.collect()}
    assert got == {7: (2, 375), 9: (1, 75)}


def test_cents_fold_skips_null_values(spark):
    """The stateful totals and the session kernel fold money as SQL ``SUM``
    does: a null amount adds no cents (a NaN cast to int64 would add
    INT64_MIN), a key or session whose every amount is null gets null
    cents, and .5 cents round away from zero like the oracles'
    ``round(v * 100, 0)``.  Both state APIs run the same folds; the
    ``transformWithStateInPandas`` twins run too when protobuf is there."""
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.datasets import local_df
    from flinkexp_spark.streaming.replay import replay
    from flinkexp_spark.streaming.stateful import (
        running_totals_transform,
        running_totals_tws_transform,
        sessionize_tws_transform,
        stateful_sessionize,
        to_cents,
    )

    assert int(to_cents([1.25, float("nan"), 2.0]).sum()) == 325
    assert list(to_cents([0.125, -0.125])) == [13, -13]
    apis = [(running_totals_transform, stateful_sessionize, None)]
    if ensure_protobuf():
        apis.append(
            (running_totals_tws_transform, sessionize_tws_transform, "rocksdb")
        )

    t0 = datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(1, t0, 7, "click", 1.25, "{}"),
         (2, t0, 7, "view", None, "{}"),
         (3, t0, 7, "click", 2.0, "{}"),
         (4, t0, 8, "click", None, "{}"),
         (5, t0, 8, "view", None, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    schema = "event_id long, ts timestamp, user_id long, value double"
    timed = local_df(
        spark,
        [(1, t0, 7, 1.25),
         (2, t0 + timedelta(minutes=1), 7, None),
         (3, t0 + timedelta(minutes=2), 7, 2.0),
         (4, t0 + timedelta(minutes=3), 8, None),
         (5, t0 + timedelta(minutes=4), 8, None)],
        schema,
    )
    sentinel = local_df(spark, [(-1, datetime(2030, 1, 1), -1, 0.0)], schema)
    for totals, sessionize, provider in apis:
        out = replay(
            spark, events, totals, output_mode="update",
            no_data_batches=False, state_provider=provider,
        )
        got = {r.user_id: (r.n_events, r.value_cents) for r in out.collect()}
        assert got == {7: (3, 325), 8: (2, None)}, provider

        out = replay(
            spark, timed, sessionize, output_mode="append",
            n_files=2, order_col="ts", extra_files=[sentinel],
            state_provider=provider,
        )
        sessions = sorted(
            (r.user_id, r.session_start, r.n_events, r.cents, r.duration_s)
            for r in out.collect() if r.user_id >= 0
        )
        assert sessions == [
            (7, "2024-01-01 00:00:00", 3, 325, 120),
            (8, "2024-01-01 00:03:00", 2, None, 60),
        ], provider


class _CaptureStream:
    """Stands in for a streaming DataFrame: keeps the processor a
    ``*_tws_transform`` hands to ``transformWithStateInPandas``."""

    def withWatermark(self, *args):
        return self

    def groupBy(self, *args):
        return self

    def transformWithStateInPandas(self, statefulProcessor, **kwargs):
        self.processor = statefulProcessor
        return self


def test_tws_processors_unpickle_without_the_package(tmp_path):
    """Spark's transformWithState pre-init runner unpickles the processor
    in a driver-side Python process that never gets the shipped package
    archive, so no processor may reference package code as a global; one
    that did failed every ``*_tws`` query run from outside the repo."""
    from pyspark import cloudpickle

    from flinkexp_spark.streaming import stateful as st

    transforms = {
        "running_totals": st.running_totals_tws_transform,
        "sessionize": st.sessionize_tws_transform,
        "map_totals": st.map_totals_tws_transform,
        "recent_events": st.recent_events_tws_transform,
        "bootstrapped_totals": st.bootstrapped_totals_tws_transform(
            _CaptureStream()
        ),
    }
    processors = {}
    for name, transform in transforms.items():
        cap = _CaptureStream()
        transform(cap)
        processors[name] = cap.processor
    blob = tmp_path / "processors.pkl"
    blob.write_bytes(cloudpickle.dumps(processors))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c",
         "import pickle, sys; print(sorted(pickle.load(open(sys.argv[1], 'rb'))))",
         str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == str(sorted(transforms))


PROBE_TWICE_SCRIPT = """
import json, sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

from flinkexp_spark.catalog.streaming_tws import workers_have_protobuf
from flinkexp_spark.compat.protobuf_shim import ensure_protobuf

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
sc = spark.sparkContext
ensure_protobuf()  # as the queries do: after the JVM started
results, jobs = [], []
for i in range(2):
    sc.setJobGroup(f"probe{i}", "workers_have_protobuf")
    results.append(workers_have_protobuf(spark))
    jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"probe{i}")))
print(json.dumps({"results": results, "jobs": jobs}))
spark.stop()
"""


def test_protobuf_probe_runs_once_per_context(tmp_path):
    """The driver's shape: a plain session started outside the repo with no
    ``PYTHONPATH``, whose workers cannot import protobuf even once the
    driver has the shim.  The probe's answer, True or False, is memoized
    per SparkContext, so the second tws query runs no probe job."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PROBE_TWICE_SCRIPT, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["jobs"] == [1, 0], out
    assert out["results"][0] == out["results"][1], out


def _tws_queries():
    from flinkexp_spark.registry import queries

    return sorted(n for n in queries() if n.endswith("_tws"))


@pytest.mark.parametrize("name", _tws_queries())
def test_tws_fallbacks_match_oracles(spark, duck, sf_dir, name, monkeypatch):
    """The fallback each ``*_tws`` query runs when the workers cannot import
    protobuf (a plain driver-owned session) must match the same oracle as
    its tws path, which the engine session takes."""
    from flinkexp_spark.catalog import streaming_tws
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.testing.oracle import compare_query

    probes = []
    monkeypatch.setattr(
        streaming_tws, "workers_have_protobuf", lambda s: probes.append(s) and False
    )
    res = compare_query(spark, duck, name, sf_dir)
    assert res.ok, f"{name}: {res.detail}"
    assert probes or not ensure_protobuf()


def test_tws_timer_sessionizer_matches_timeout_sessionizer(spark):
    """The explicit-timer tws sessionizer and the EventTimeTimeout
    sessionizer must produce identical sessions, including a TIMER-closed
    one (a key whose last event is followed only by the sentinel)."""
    from datetime import datetime, timedelta

    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.datasets import local_df
    from flinkexp_spark.streaming.replay import replay
    from flinkexp_spark.streaming.stateful import (
        sessionize_tws_transform,
        stateful_sessionize,
    )

    if not ensure_protobuf():
        pytest.skip("no google.protobuf runtime available (pip or SDK bridge)")

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # user 1: two sessions split in-band by a >30 min gap
        (1, t0, 1, 1.00),
        (2, t0 + timedelta(minutes=10), 1, 2.00),
        (3, t0 + timedelta(minutes=50), 1, 4.00),
        # user 2: one session, closed ONLY by the timer (no later event)
        (4, t0 + timedelta(minutes=5), 2, 8.00),
    ]
    schema = "event_id long, ts timestamp, user_id long, value double"
    events = local_df(spark, rows, schema)
    sentinel = local_df(spark, [(-1, datetime(2030, 1, 1), -1, 0.0)], schema)

    def run(transform, provider):
        out = replay(
            spark, events, transform, output_mode="append",
            n_files=2, order_col="ts", extra_files=[sentinel],
            state_provider=provider,
        )
        return sorted(
            (r.user_id, r.session_start, r.n_events, r.cents, r.duration_s)
            for r in out.collect() if r.user_id >= 0
        )

    timers = run(sessionize_tws_transform, "rocksdb")
    timeout = run(stateful_sessionize, None)
    assert timers == timeout
    assert [r[0] for r in timers] == [1, 1, 2]  # 2 sessions for u1, 1 for u2
    assert timers[0][2] == 2 and timers[0][3] == 300  # 1.00+2.00 in cents


def test_python_stream_source_checkpoint_restart(spark, tmp_path):
    """The Python streaming source's offset contract across a RESTART:
    run with a checkpoint, stop, restart with a larger cap from the same
    checkpoint — committed offsets must not replay into the sink (no
    duplicates) and the new range must arrive (no loss)."""
    from flinkexp_spark.sources.pysource import register_python_sources

    register_python_sources(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(cap: int):
        df = (
            spark.readStream.format("synthcrawlstream")
            .option("rows", str(cap))
            .option("batch", "40")
            .load()
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run(100)
    run(250)  # restart from the same checkpoint with more data available
    rows = spark.read.parquet(out).select("doc_id").collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == list(range(250)), (len(ids), ids[:5], ids[-5:])


def test_update_sequence_emits_exactly_the_changed_keys(spark):
    """VERDICT r6 #7 — E5 rolling-sum parity at micro-batch granularity:
    in update mode, EVERY batch's emitted rows must be exactly the keys
    whose counts changed in that batch (no re-emission of untouched keys,
    no missing touched key), carrying the refreshed CUMULATIVE total.
    Three quantile-split batches with known, partially-overlapping key
    sets pin the whole sequence, not just the final totals."""
    from flinkexp_spark.streaming.replay import replay

    rows = []
    plan = {0: ["a"] * 6 + ["b"] * 4, 1: ["b"] * 3 + ["c"] * 7,
            2: ["a"] * 5 + ["c"] * 5}
    for batch, words in plan.items():
        for i, w in enumerate(words):
            rows.append((batch * 10 + i, w))
    src = spark.createDataFrame(rows, "seq long, word string")

    batches = []
    replay(
        spark,
        src,
        lambda df: df.groupBy("word").agg(F.count("*").alias("cnt")),
        output_mode="update",
        n_files=3,
        order_col="seq",
        sink=lambda df, epoch: batches.append(df.toPandas()),
    )
    batches = [b for b in batches if len(b)]
    assert len(batches) == 3, f"expected 3 micro-batches, got {len(batches)}"

    running: dict[str, int] = {}
    for batch_no, (pdf, words) in enumerate(zip(batches, plan.values())):
        expected_changed = {}
        for w in words:
            running[w] = running.get(w, 0) + 1
            expected_changed[w] = running[w]
        got = dict(zip(pdf["word"], pdf["cnt"]))
        assert got == expected_changed, (
            f"batch {batch_no}: emitted {got}, the changed-key set is "
            f"{expected_changed}"
        )


def test_listener_rig_captures_rates_and_watermark(spark, sf_dir):
    """The ReplayMetricsListener's wall-clock numbers can't be hash-checked
    (they'd pin noise) — assert them here instead: progress arrives for
    every batch, each non-empty batch reports a positive processing rate,
    and the deterministic accumulators agree with a plain batch count."""
    import os
    import uuid

    import pyspark.sql.functions as F

    from flinkexp_spark import datasets
    from flinkexp_spark.streaming.replay import (
        _stream_partitions,
        capture_stream_metrics,
    )

    events = datasets.load(spark, sf_dir, "events").select("event_id", "ts")
    n_expected = events.count()
    with scratch_dir("listener_probe") as work:
        src = os.path.join(work, "input")
        events.repartition(2).write.parquet(src)
        reader = spark.readStream.schema(events.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        name = f"probe_{uuid.uuid4().hex[:8]}"
        with _stream_partitions(spark), capture_stream_metrics(spark) as mx:
            q = (
                reader.groupBy().count()
                .writeStream.format("memory").queryName(name)
                .outputMode("complete").trigger(availableNow=True).start()
            )
            try:
                q.awaitTermination()
            finally:
                spark.catalog.dropTempView(name)
    assert mx.input_rows_total == n_expected
    assert mx.nonempty_batches >= 2  # two input files -> >= two data batches
    nonzero_rates = [r for r in mx.rates if r > 0]
    assert len(nonzero_rates) >= mx.nonempty_batches, mx.rates


def test_observed_metrics_query_agrees_with_batch_truth(spark, sf_dir):
    """End-to-end determinism of the listener-sourced columns: the query's
    watermark/window math must equal the batch computation over the same
    events table (the same contract the DuckDB oracle hashes)."""
    import pyspark.sql.functions as F

    from flinkexp_spark import datasets
    from flinkexp_spark.registry import queries

    row = queries()["stream_observed_metrics"](spark, sf_dir).collect()[0]
    events = datasets.load(spark, sf_dir, "events")
    truth = events.agg(
        F.count("*").alias("n_rows"),
        (F.floor(F.max("ts").cast("double") * 1000) - 600000).alias("wm"),
    ).collect()[0]
    assert row.n_rows == truth.n_rows
    assert row.watermark_ms == truth.wm
    wins = (
        events.select(
            (F.floor(F.col("ts").cast("double") / 3600) * 3600000 + 3600000)
            .cast("long").alias("wend_ms")
        )
        .distinct()
    )
    emitted = wins.filter(F.col("wend_ms") <= row.watermark_ms).count()
    open_w = wins.filter(F.col("wend_ms") > row.watermark_ms).count()
    assert row.emitted_windows == emitted
    assert row.state_rows_final == open_w


def test_failed_drain_drops_its_sink_view(spark):
    """A stream that fails mid-drain must not leave its ``sink_*`` memory
    view registered in the long-lived session: the error propagates and
    the view is gone."""
    from flinkexp_spark.streaming.replay import drain_memory_sink

    with scratch_dir("failed_drain") as work:
        spark.range(10).write.parquet(os.path.join(work, "in"))
        stream = spark.readStream.schema("id long").parquet(
            os.path.join(work, "in")
        )
        out = stream.select(
            F.when(F.col("id") == 3, F.raise_error(F.lit("poison row 3")))
            .otherwise(F.col("id"))
            .alias("id")
        )
        with pytest.raises(Exception, match="poison row 3"):
            drain_memory_sink(spark, out, os.path.join(work, "checkpoint"))
    leaked = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("sink_")
    ]
    assert leaked == []


def test_replay_partitions_follow_session_parallelism(spark):
    """Replays size their state partitions from the session: one per core,
    at most 8 (8 on a ``local[8]`` driver session, 4 on a 4-core engine
    session), with the in-memory state provider unless a replay asks for
    RocksDB; both settings are restored on exit."""
    from types import SimpleNamespace

    from flinkexp_spark.streaming.replay import _stream_partitions

    parts = "spark.sql.shuffle.partitions"
    provider = "spark.sql.streaming.stateStore.providerClass"

    for cores, want in ((2, "2"), (4, "4"), (8, "8"), (32, "8")):
        fake = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=cores)
        )
        assert _stream_partitions(fake).keys[parts] == want, cores

    saved = spark.conf.get(parts)
    spark.conf.set(parts, "3")
    try:
        before = (spark.conf.get(parts), spark.conf.get(provider))
        with _stream_partitions(spark):
            assert spark.conf.get(parts) == str(
                min(8, spark.sparkContext.defaultParallelism)
            )
            assert spark.conf.get(provider).endswith(
                ".HDFSBackedStateStoreProvider"
            )
        assert (spark.conf.get(parts), spark.conf.get(provider)) == before
        with _stream_partitions(spark, state_provider="rocksdb"):
            assert spark.conf.get(provider).endswith(
                ".RocksDBStateStoreProvider"
            )
        assert (spark.conf.get(parts), spark.conf.get(provider)) == before
    finally:
        spark.conf.set(parts, saved)


CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def test_replay_checkpoint_manager_is_scoped_to_the_replay(spark):
    """Replays run their checkpoints through the FileSystem-API manager,
    and the key is back to what it was afterwards: unset when it was
    unset (also after a drain that raises), the old value otherwise."""
    from flinkexp_spark.streaming.replay import replay

    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None
    seen = []
    replay(
        spark,
        spark.range(5),
        lambda s: s,
        sink=lambda df, epoch: seen.append(df.sparkSession.conf.get(CHECKPOINT_MANAGER, None)),
    )
    assert seen and all(
        v.endswith(".checkpointing.FileSystemBasedCheckpointFileManager") for v in seen
    ), seen
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None

    def poison(s):
        return s.select(
            F.when(F.col("id") == 3, F.raise_error(F.lit("poison row 3")))
            .otherwise(F.col("id"))
            .alias("id")
        )

    with pytest.raises(Exception, match="poison row 3"):
        replay(spark, spark.range(5), poison)
    assert spark.conf.get(CHECKPOINT_MANAGER, None) is None

    own = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    spark.conf.set(CHECKPOINT_MANAGER, own)
    try:
        assert replay(spark, spark.range(5), lambda s: s).count() == 5
        assert spark.conf.get(CHECKPOINT_MANAGER) == own
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER)


def test_replay_checkpoint_keeps_hadoop_and_spark_checksums(spark):
    """A checkpoint written under the replay's manager still has Hadoop's
    ``.<name>.crc`` beside every log and state file and Spark's
    ``<name>.crc`` checksum beside every state delta, and a restart from it
    resumes the state."""
    from flinkexp_spark.streaming.replay import _stream_partitions, drain_memory_sink

    def counts(df):
        return {r.w: r["count"] for r in df.collect()}

    with scratch_dir("ckpt_checksums") as work:
        src, ck = os.path.join(work, "in"), os.path.join(work, "ck")
        base = time.time()
        _write_file(spark.createDataFrame([("a",), ("b",), ("a",)], "w string"), src, 0, base)
        out = (
            spark.readStream.schema("w string")
            .parquet(os.path.join(src, "f*"))
            .groupBy("w")
            .count()
        )
        with _stream_partitions(spark):
            first = drain_memory_sink(spark, out, output_mode="complete", checkpoint=ck)
        assert counts(first) == {"a": 2, "b": 1}

        files = {
            os.path.relpath(os.path.join(d, f), ck)
            for d, _, names in os.walk(ck)
            for f in names
        }

        def hadoop_crc(rel):
            d, f = os.path.split(rel)
            return os.path.join(d, f".{f}.crc")

        deltas = sorted(f for f in files if f.endswith(".delta"))
        assert deltas, sorted(files)
        for f in ["offsets/0", "commits/0", "metadata", *deltas]:
            assert hadoop_crc(f) in files, f
        for f in deltas:
            assert f + ".crc" in files and hadoop_crc(f + ".crc") in files, f

        _write_file(spark.createDataFrame([("a",)], "w string"), src, 1, base)
        with _stream_partitions(spark):
            second = drain_memory_sink(spark, out, output_mode="complete", checkpoint=ck)
        assert counts(second) == {"a": 3, "b": 1}


def test_replay_copies_an_untouched_fixture_without_touching_it(spark, sf_dir, monkeypatch):
    """An unmodified ``datasets.load`` frame is staged by copying its file;
    the fixture's inode and mtime (the schema cache's key) are unchanged."""
    import shutil

    from flinkexp_spark import datasets
    from flinkexp_spark.streaming.replay import replay

    path = os.path.abspath(datasets.table_path(sf_dir, "events"))
    events = datasets.load(spark, sf_dir, "events")
    assert datasets.fixture_file(events) == path
    assert datasets.fixture_file(events.select("ts")) is None

    copies = []
    copyfile = shutil.copyfile
    monkeypatch.setattr(
        shutil, "copyfile", lambda a, b: copies.append(a) or copyfile(a, b)
    )
    before = os.stat(path)
    out = replay(spark, events, lambda s: s.groupBy().count(), output_mode="complete")
    assert out.collect()[0][0] == events.count()
    after = os.stat(path)
    assert copies == [path]
    assert (after.st_ino, after.st_nlink, after.st_mtime_ns) == (
        before.st_ino,
        before.st_nlink,
        before.st_mtime_ns,
    )


def test_multi_part_replay_keeps_batches_and_watermarks(spark, sf_dir):
    """``stream_watermark_append`` replays two time-split files and a
    sentinel: three data batches and the no-data batch that closes the
    last windows, each with the watermark the previous batches set
    (1 hour behind their latest event) and no row dropped."""
    from flinkexp_spark import datasets
    from flinkexp_spark.registry import queries
    from flinkexp_spark.streaming.replay import _time_split, capture_stream_metrics

    parts = _time_split(datasets.load(spark, sf_dir, "events"), 2, "ts")

    def latest_ms(df):
        return df.agg(F.floor(F.max(F.unix_micros("ts")) / 1000)).first()[0]

    hour = 3_600_000
    sentinel_ms = 1_893_456_000_000  # the query's sentinel event, 2030-01-01 UTC
    with capture_stream_metrics(spark) as mx:
        queries()["stream_watermark_append"](spark, sf_dir)
    progresses = sorted(mx.progresses, key=lambda p: p["batchId"])
    assert [p["batchId"] for p in progresses] == [0, 1, 2, 3]
    assert [p["numInputRows"] for p in progresses] == [parts[0].count(), parts[1].count(), 1, 0]
    assert mx.watermarks_ms == [
        0,
        latest_ms(parts[0]) - hour,
        max(latest_ms(parts[0]), latest_ms(parts[1])) - hour,
        sentinel_ms - hour,
    ]
    assert [
        o["numRowsDroppedByWatermark"] for p in progresses for o in p["stateOperators"]
    ] == [0, 0, 0, 0]
