"""DataStream-API adapter tests: the reference's program shape, ported 1:1.

The reference's only executable is the socket word count
(StreamSocket.scala:12-16); these tests run that exact chain through the
adapter — live TCP, bounded file replay (Python-callable path), and the
batch bridge — and check the SURVEY §2.1 contract (final totals match).
"""

from __future__ import annotations

import socket
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from flinkexp_spark.datastream import StreamExecutionEnvironment

LINES = ["spark flink spark", "flink beam", "spark"]
EXPECTED = {"spark": 3, "flink": 2, "beam": 1}


def _drain(spark, handles, name, want):
    try:
        deadline = time.time() + 30
        got = {}
        while time.time() < deadline:
            for q in handles:
                q.processAllAvailable()
            got = {r[0]: r[1] for r in spark.table(name).collect()}
            if got == want:
                break
            time.sleep(0.5)
        assert got == want, got
    finally:
        for q in handles:
            q.stop()
        spark.catalog.dropTempView(name)


def test_reference_program_live_socket(spark):
    """StreamSocket.scala:12-16 ported line-for-line: socketTextStream ->
    flatMap -> map -> keyBy(0) -> sum(1) -> sink; env.execute submits."""
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(LINES) + "\n").encode())
            time.sleep(3)

    threading.Thread(target=serve, daemon=True).start()

    name = f"ds_{uuid.uuid4().hex[:8]}"
    try:
        env = StreamExecutionEnvironment.get_execution_environment(spark)
        (
            env.socket_text_stream("127.0.0.1", port)
            .flat_map("split(value, ' ')", output_type="word string")
            .map(["word", "1 AS one"])
            .key_by(0)
            .sum(1)
            .sink_memory(name)
        )
        handles = env.execute("Test")
        assert len(handles) == 1
        _drain(spark, handles, name, EXPECTED)
    finally:
        srv.close()


def test_python_callable_path_bounded_replay(spark, tmp_path):
    """PyFlink-contract Python path: flat_map/map callables over Arrow
    batches, bounded file source drained with availableNow."""
    src = tmp_path / "lines"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(LINES) + "\n")

    stream = spark.readStream.format("text").load(str(src))
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"
    (
        env.from_data_frame(stream)
        .flat_map(lambda line: line.split(" "), output_type="word string")
        .map(lambda w: (w, 1), output_type="word string, one long")
        .key_by("word")
        .sum("one")
        .sink_memory(name)
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
        got = {r.word: r.one for r in spark.table(name).collect()}
        assert got == EXPECTED
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def test_batch_bridge_runs_same_chain(spark):
    """The identical chain over a batch DataFrame (Flink's bounded-stream
    mode): sinks run inline at execute()."""
    df = spark.createDataFrame([(line,) for line in LINES], "value string")
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"
    chain = (
        env.from_data_frame(df)
        .flat_map("split(value, ' ')", output_type="word string")
        .filter("word <> ''")
        .map(["word", "1 AS one"])
        .key_by(0)
        .sum(1)
    )
    chain.sink_memory(name)
    assert env.execute("Test") == []  # batch sinks contribute no handles
    got = {r.word: r.one for r in spark.table(name).collect()}
    assert got == EXPECTED
    spark.catalog.dropTempView(name)


def test_keyed_count_min_max(spark):
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("b", 7)], "k string, v long"
    )
    ks = env.from_data_frame(df).key_by("k")
    assert {tuple(r) for r in ks.count().df.collect()} == {("a", 2), ("b", 1)}
    assert {tuple(r) for r in ks.min("v").df.collect()} == {("a", 1), ("b", 7)}
    assert {tuple(r) for r in ks.max(1).df.collect()} == {("a", 3), ("b", 7)}


def test_str_exprs_stay_in_codegen(spark):
    """The SQL-expression path must not cross into Python."""
    df = spark.createDataFrame([("x y",)], "value string")
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_data_frame(df)
        .flat_map("split(value, ' ')", output_type="word string")
        .map(["word", "1 AS one"])
        .key_by(0)
        .sum(1)
    )
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    for op in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert op not in plan


def test_keyed_tumbling_window_streaming(spark, tmp_path):
    """Flink keyed TumblingEventTimeWindows parity: window joins the key in
    the streaming aggregate; watermark bounds state."""
    import pandas as pd

    src = tmp_path / "ev"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 05:00",
                 "2024-01-01 12:30", "2024-01-02 01:00"]
            ),
            "k": ["a", "a", "b", "a"],
            "v": [1, 2, 10, 5],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(src / "f0")
    )
    stream = spark.readStream.schema("ts timestamp, k string, v long").parquet(
        str(src / "*")
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"
    (
        env.from_data_frame(stream)
        .key_by("k")
        .window("1 day", on="ts", watermark="1 hour")
        .sum("v")
        .sink_memory(name, output_mode="complete")
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
        got = {
            (str(r.window_start), r.k): r.v for r in spark.table(name).collect()
        }
        assert got == {
            ("2024-01-01 00:00:00", "a"): 3,
            ("2024-01-01 00:00:00", "b"): 10,
            ("2024-01-02 00:00:00", "a"): 5,
        }, got
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def test_keyed_session_window_batch(spark):
    """Session windows merge via the native session_window; 30-min gap."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00", "2024-01-01 00:20",
                     "2024-01-01 02:00"]
                ),
                "k": ["u", "u", "u"],
            }
        )
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_data_frame(df)
        .key_by("k")
        .window("unused", session_gap="30 minutes", on="ts")
        .count()
        .df.collect()
    )
    sessions = {(str(r.window_start), r["count"]) for r in out}
    assert sessions == {
        ("2024-01-01 00:00:00", 2),
        ("2024-01-01 02:00:00", 1),
    }, sessions


def test_keyed_reduce_batch_matches_sum(spark):
    """Flink KeyedStream.reduce parity (batch fold): commutative combine
    equals the built-in aggregate."""
    df = spark.createDataFrame(
        [("a", 3, 10), ("a", 1, 20), ("b", 7, 5)], "k string, v long, w long"
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    out = (
        env.from_data_frame(df)
        .key_by("k")
        .reduce(lambda a, b: (a[0] + b[0], max(a[1], b[1])))
        .df.collect()
    )
    assert {tuple(r) for r in out} == {("a", 4, 20), ("b", 7, 5)}


def test_keyed_reduce_streaming_rolls_state(spark, tmp_path):
    """Streaming reduce: per-key state is one reduced tuple; final totals
    match the batch fold (SURVEY §2.1 contract)."""
    src = tmp_path / "r"
    src.mkdir()
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("b", 7), ("a", 5)], "k string, v long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    stream = spark.readStream.schema("k string, v long").parquet(str(src / "*"))
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"
    (
        env.from_data_frame(stream)
        .key_by("k")
        .reduce(lambda a, b: (a[0] + b[0],))
        .sink_memory(name, output_mode="update")
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
        got = {r.k: r.v for r in spark.table(name).collect()}
        assert got == {"a": 9, "b": 7}, got
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def test_union_merges_streams(spark):
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    a = env.from_data_frame(spark.createDataFrame([("x",)], "w string"))
    b = env.from_data_frame(spark.createDataFrame([("y",)], "w string"))
    assert {r.w for r in a.union(b).df.collect()} == {"x", "y"}


def test_connect_feeds_two_sided_process(spark):
    """CoProcessFunction composition: connect tags sides, keyed process
    branches on the tag (processElement1/2)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    orders = spark.createDataFrame([("u1", 5), ("u2", 3)], "k string, qty long")
    cancels = spark.createDataFrame([("u1", 2)], "k string, cancelled long")
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    connected = env.from_data_frame(orders).connect(
        env.from_data_frame(cancels)
    )
    assert set(connected.df.columns) == {"k", "qty", "cancelled", "__side"}

    # batch branch check: net qty = sum(qty) - sum(cancelled) per key,
    # computed by branching on the side tag
    out = (
        connected.df.groupBy("k")
        .agg(
            F.sum(F.when(F.col("__side") == 0, F.col("qty")).otherwise(0)).alias("q"),
            F.sum(F.when(F.col("__side") == 1, F.col("cancelled")).otherwise(0)).alias("c"),
        )
        .selectExpr("k", "q - c AS net")
        .collect()
    )
    assert {(r.k, r.net) for r in out} == {("u1", 3), ("u2", 3)}


def test_keyed_process_custom_state(spark, tmp_path):
    """KeyedProcessFunction seam via the adapter: custom per-key state
    (count + running max) through applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = tmp_path / "p"
    src.mkdir()
    df = spark.createDataFrame(
        [("a", 3), ("a", 9), ("b", 7)], "k string, v long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    stream = spark.readStream.schema("k string, v long").parquet(str(src / "*"))

    out_schema = StructType(
        [
            StructField("k", StringType()),
            StructField("n", LongType()),
            StructField("vmax", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("vmax", LongType())]
    )

    def fn(key, pdfs, state):
        import pandas as pd

        n, vmax = (state.get if state.exists else (0, None))
        for pdf in pdfs:
            n += len(pdf)
            m = int(pdf["v"].max())
            vmax = m if vmax is None else max(vmax, m)
        state.update((n, vmax))
        yield pd.DataFrame({"k": [key[0]], "n": [n], "vmax": [vmax]})

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"
    (
        env.from_data_frame(stream)
        .key_by("k")
        .process(fn, out_schema, state_schema)
        .sink_memory(name, output_mode="update")
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
        got = {(r.k): (r.n, r.vmax) for r in spark.table(name).collect()}
        assert got == {"a": (2, 9), "b": (1, 7)}, got
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def test_enable_checkpointing_resumes_from_offsets(spark, tmp_path):
    """env.enable_checkpointing: the sink persists offsets; a second execute
    with the same checkpoint dir processes ONLY new files (exactly-once
    resume, Flink checkpoint parity)."""
    src = tmp_path / "cp_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (src / "a.txt").write_text("spark flink\n")

    def run():
        stream = spark.readStream.format("text").load(str(src))
        env = StreamExecutionEnvironment.get_execution_environment(spark)
        env.enable_checkpointing(ckpt)
        name = "cp_sink"
        (
            env.from_data_frame(stream)
            .flat_map("split(value, ' ')", output_type="word string")
            .map(["word", "CAST(1 AS BIGINT) AS one"])
            .key_by(0)
            .sum(1)
            .sink_memory(name, output_mode="complete")
        )
        [q] = env.execute("Test", available_now=True)
        q.awaitTermination(60)
        got = {r.word: r.one for r in spark.table(name).collect()}
        q.stop()
        spark.catalog.dropTempView(name)
        return got

    assert run() == {"spark": 1, "flink": 1}
    import os

    assert os.path.isdir(os.path.join(ckpt, "cp_sink", "offsets"))

    # new data arrives; the resumed query must fold it into the SAME state
    # (complete-mode totals include both files exactly once)
    (src / "b.txt").write_text("spark\n")
    assert run() == {"spark": 2, "flink": 1}


def test_sink_foreach_batch_routes_late_rows(spark, tmp_path):
    """Side-output (OutputTag) parity through the fluent chain: the
    LateRowRouter attached via sink_foreach_batch forks late rows to a side
    store while on-time rows flow to the main handler."""
    from datetime import timedelta

    import pandas as pd

    from flinkexp_spark.streaming.late_data import LateRowRouter

    src = tmp_path / "late_src"
    src.mkdir()
    on_time_batches = []

    # batch 1: establishes watermark at 12:00 - 1h = 11:00
    b1 = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 12:00"]), "k": ["a"]})
    # batch 2: one on-time row, one LATE row (10:00 < 11:00)
    b2 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 12:30", "2024-01-01 10:00"]),
         "k": ["b", "late"]}
    )
    for i, pdf in enumerate((b1, b2)):
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"f{i}")
        )
        import os, time as _t
        ts = _t.time() - (2 - i) * 10
        for root, _, files in os.walk(str(src / f"f{i}")):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))

    side = str(tmp_path / "side")
    router = LateRowRouter(
        "ts",
        timedelta(hours=1),
        on_time=lambda df, epoch: on_time_batches.append(
            {r.k for r in df.collect()}
        ),
        side_path=side,
    )

    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "f*"))
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    env.from_data_frame(stream).sink_foreach_batch(router)
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
    finally:
        q.stop()

    assert {k for batch in on_time_batches for k in batch} == {"a", "b"}
    late = spark.read.parquet(side).collect()
    assert {r.k for r in late} == {"late"}


def test_rebalance_rescale_partitioning(spark):
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ds = env.from_data_frame(spark.range(100).repartition(8))
    assert ds.rebalance(4).df.rdd.getNumPartitions() == 4
    assert ds.rescale(2).df.rdd.getNumPartitions() == 2
    # rescale must be the narrow path: no Exchange in its plan
    plan = ds.rescale(2).df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" in plan


def test_sink_parquet_streaming_exactly_once(spark, tmp_path):
    """Streaming parquet sink with checkpoint: rows land exactly once and
    hive partitioning applies."""
    src = tmp_path / "pq_src"
    src.mkdir()
    (src / "a.txt").write_text("x 1\ny 2\nx 3\n")
    out = str(tmp_path / "pq_out")

    stream = spark.readStream.format("text").load(str(src))
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    env.enable_checkpointing(str(tmp_path / "ckpt"))
    (
        env.from_data_frame(stream)
        .map(
            [
                "split(value, ' ')[0] AS k",
                "CAST(split(value, ' ')[1] AS LONG) AS v",
            ]
        )
        .sink_parquet(out, partition_by=["k"])
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
    finally:
        q.stop()

    back = spark.read.parquet(out)
    assert {(r.k, r.v) for r in back.collect()} == {("x", 1), ("y", 2), ("x", 3)}
    import os

    assert os.path.isdir(os.path.join(out, "k=x"))  # hive partitioning


def test_interval_join_streaming_bounded_state(spark, tmp_path):
    """Flink intervalJoin parity: keyed stream-stream join within
    [ts - 10min, ts]; watermarks bound state; results match the batch
    range-join semantics."""
    import pandas as pd

    src = tmp_path / "ij"
    src.mkdir()
    clicks = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00"]),
            "user_id": [1, 1],
            "cid": [100, 101],
        }
    )
    views = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 09:55", "2024-01-01 10:30", "2024-01-01 10:59"]
            ),
            "user_id": [1, 1, 1],
            "vid": [200, 201, 202],
        }
    )
    spark.createDataFrame(clicks).coalesce(1).write.parquet(str(src / "c"))
    spark.createDataFrame(views).coalesce(1).write.parquet(str(src / "v"))

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    c = (
        env.from_data_frame(
            spark.readStream.schema("ts timestamp, user_id long, cid long").parquet(
                str(src / "c")
            )
        )
        .assign_watermark("ts", "1 hour")
        .key_by("user_id")
    )
    v = (
        env.from_data_frame(
            spark.readStream.schema("ts timestamp, user_id long, vid long").parquet(
                str(src / "v")
            )
        )
        .assign_watermark("ts", "1 hour")
        .key_by("user_id")
    )
    name = f"ds_{uuid.uuid4().hex[:8]}"
    c.interval_join(v, on="ts").map(["cid", "r_vid"]).sink_memory(
        name, output_mode="append"
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
        pairs = {(r.cid, r.r_vid) for r in spark.table(name).collect()}
        # click 100 @10:00 matches view 200 @9:55; click 101 @11:00 matches
        # views 201/202 in its 10-minute lookback? 10:30 is outside, 10:59 in.
        assert pairs == {(100, 200), (101, 202)}, pairs
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def test_keyed_min_by_max_by_return_whole_rows(spark):
    """Flink minBy/maxBy parity: the full row travels, not just the value."""
    df = spark.createDataFrame(
        [("a", 3, "r1"), ("a", 1, "r2"), ("b", 7, "r3")],
        "k string, v long, tag string",
    )
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ks = env.from_data_frame(df).key_by("k")
    assert {tuple(r) for r in ks.min_by("v").df.collect()} == {
        ("a", 1, "r2"),
        ("b", 7, "r3"),
    }
    assert {tuple(r) for r in ks.max_by(1).df.collect()} == {
        ("a", 3, "r1"),
        ("b", 7, "r3"),
    }


def test_connect_broadcast_rules_filter_stream(spark, tmp_path):
    """BroadcastProcessFunction parity: a small rule table broadcast into
    the main stream's plan; stream-static join re-reads rules per batch."""
    import pyspark.sql.functions as F

    src = tmp_path / "lines"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(LINES) + "\n")

    stream = spark.readStream.format("text").load(str(src))
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    name = f"ds_{uuid.uuid4().hex[:8]}"

    def rules():
        return spark.createDataFrame(
            [("hello", "keep"), ("world", "keep")], "word string, action string"
        )

    def process(main, rules_df):
        words = main.select(
            F.explode(F.split("value", " ")).alias("word")
        )
        return words.join(
            rules_df.filter(F.col("action") == "keep"), "word"
        ).groupBy("word").count()

    (
        env.from_data_frame(stream)
        .connect_broadcast(rules, process)
        .sink_memory(name, output_mode="complete")
    )
    [q] = env.execute("Test", available_now=True)
    try:
        q.awaitTermination(60)
        got = {r.word: r["count"] for r in spark.table(name).collect()}
        expected = {
            w: EXPECTED[w] for w in ("hello", "world") if w in EXPECTED
        }
        assert got == expected, (got, expected)
    finally:
        q.stop()
