"""T1-T10 + E1-E7 streaming parity: Structured Streaming operators in
bounded replay (SURVEY §2.2 "Streaming-only operators", §5.2 test strategy).

Reference: the exercised streaming word count (StreamSocket.scala:13-16); the
event-time/window/state envelope declared via flink-streaming-scala
(study/pom.xml:21), Kafka (study/pom.xml:82), RocksDB keyed state
(study/pom.xml:72).

Every query here funnels the `events` (or `documents`) fixture through the
REAL streaming path — ``readStream`` file source, availableNow trigger,
RocksDB-backed state store — then compares final state against batch SQL
(the duckdb oracle), per the SURVEY §2.1 contract: final totals match,
emission cadence is micro-batch.

Scale notes: streaming state is keyed and watermark-bounded — per-key
windowed state is dropped once the watermark passes, so state size is
O(active windows × keys), independent of stream length.  That, plus the
RocksDB provider (spill to disk), is what makes these operators safe on an
unbounded 100 TB/day stream; the availableNow replay exercises the exact
same operators and state lifecycle.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.catalog._util import dec
from flinkexp_spark.registry import register
from flinkexp_spark.streaming.replay import replay

# Tumbling/sliding windows are emitted as formatted start/end strings; the
# oracle reconstructs them from epoch arithmetic (UTC on both sides).
_WS = "date_format(window.start, 'yyyy-MM-dd HH:mm:ss')"
_WE = "date_format(window.end, 'yyyy-MM-dd HH:mm:ss')"


def _win_cols(df: DataFrame) -> DataFrame:
    return df.select(
        F.expr(_WS).alias("window_start"),
        F.expr(_WE).alias("window_end"),
        *[c for c in df.columns if c != "window"],
    )


@register(
    "stream_wordcount_update",
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("E1", "E2", "E3", "E4", "E5", "E6", "E7", "T9", "S9"),
)
def q_stream_wordcount_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-E7 parity: STREAMING word count in update output mode.

    The reference's exact dataflow (socket -> flatMap -> map -> keyBy -> sum
    -> print, StreamSocket.scala:13-16) with the socket replaced by the
    bounded file replay and print by a foreachBatch capture.  Update mode
    reproduces the per-key "emit current total" semantics at micro-batch
    granularity (SURVEY §2.1).  The LIVE socket source (S9) runs the same
    transform in tests/test_streaming.py::test_socket_wordcount_live.
    """
    docs = datasets.load(spark, sf_dir, "documents")

    def transform(stream: DataFrame) -> DataFrame:
        words = stream.select(
            F.explode(F.split(F.col("text"), " ")).alias("word")
        ).filter(F.col("word") != "")
        return words.groupBy("word").agg(F.count("*").alias("cnt"))

    # foreachBatch keeps each micro-batch's updated rows apart (a memory
    # sink accepts update mode but appends every batch into one table)
    batches: list[pd.DataFrame] = []
    replay(
        spark, docs, transform, output_mode="update",
        sink=lambda df, epoch: batches.append(df.toPandas()),
    )
    # Single input file -> one micro-batch -> the updated rows ARE the final
    # totals.  (Multi-batch cadence is exercised in tests/test_streaming.py.)
    out = pd.concat(batches) if batches else pd.DataFrame({"word": [], "cnt": []})
    return spark.createDataFrame(out, schema="word string, cnt long")


@register(
    "stream_text_source",
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("S1", "E2", "E5"),
)
def q_stream_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (streaming form): line-oriented TEXT file streaming source — the
    socket payload shape (one `value: string` column) read via
    ``readStream.text``; word count in complete mode."""
    import os

    from flinkexp_spark import sources
    from flinkexp_spark.streaming.replay import (
        _stream_partitions,
        drain_memory_sink,
        scratch_dir,
    )

    docs = datasets.load(spark, sf_dir, "documents")
    with scratch_dir("txt") as work:
        docs.select(F.col("text").alias("value")).coalesce(1).write.mode(
            "overwrite"
        ).text(os.path.join(work, "lines"))
        lines = sources.read_text(
            spark, os.path.join(work, "lines"), streaming=True
        )
        out = (
            lines.select(F.explode(F.split("value", " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
        )
        with _stream_partitions(spark):
            return drain_memory_sink(
                spark, out, os.path.join(work, "checkpoint"), "complete"
            )


@register(
    "stream_tumbling_window",
    oracle="""
        SELECT strftime(make_timestamp(CAST((floor(epoch(ts) / 86400) * 86400) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(make_timestamp(CAST((floor(epoch(ts) / 86400) * 86400 + 86400) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_end,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    tags=("T2", "T9"),
)
def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: tumbling 1-day event-time windows (complete mode ≡ Table TUMBLE)."""
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(F.window("ts", "1 day"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(dec("value")).cast("double").alias("total_value"),
            )
        )

    return _win_cols(replay(spark, events, transform, output_mode="complete", no_data_batches=False))


@register(
    "stream_union_watermark",
    oracle="""
        SELECT strftime(make_timestamp(CAST((floor(epoch(ts) / 86400) * 86400) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
    tags=("T1", "T2", "O3"),
)
def q_stream_union_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+O3: union of two differently-lagged streams feeding one windowed
    aggregation — the multi-source watermark contract.

    Each branch carries its OWN watermark (30 min vs 2 h allowed lateness,
    the two-Kafka-topics-one-job shape); Spark advances the downstream
    aggregation's watermark as the MIN over all inputs, so the slower
    branch governs state eviction and no in-order row is ever dropped.
    Final per-(day, type) totals must equal the batch union — checked in
    complete mode against the plain batch oracle.
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        a = stream.filter(F.col("event_id") % 2 == 0).withWatermark(
            "ts", "30 minutes"
        )
        b = stream.filter(F.col("event_id") % 2 == 1).withWatermark("ts", "2 hours")
        return (
            a.unionByName(b)
            .groupBy(F.window("ts", "1 day"), "event_type")
            .agg(F.count("*").alias("n"))
        )

    out = replay(spark, events, transform, output_mode="complete", no_data_batches=False)
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
    )


@register(
    "stream_sliding_window",
    oracle="""
        SELECT strftime(make_timestamp(CAST((w) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(make_timestamp(CAST((w + 21600) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S') AS window_end,
               COUNT(*) AS n
        FROM (
            SELECT floor(epoch(ts) / 10800) * 10800 - 10800 * i.g AS w, epoch(ts) AS e
            FROM events, (SELECT unnest(range(2)) AS g) i
        )
        WHERE e >= w AND e < w + 21600
        GROUP BY 1, 2
    """,
    tags=("T3",),
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: sliding (hop) windows — 6 h length, 3 h slide; each event lands in 2."""
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy(F.window("ts", "6 hours", "3 hours")).agg(
            F.count("*").alias("n")
        )

    return _win_cols(replay(spark, events, transform, output_mode="complete", no_data_batches=False))


@register(
    "stream_window_topn",
    oracle="""
        WITH agg AS (
            SELECT floor(epoch(ts) / 21600) * 21600 AS w, event_type,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2),
        r AS (
            SELECT w, event_type, n,
                   row_number() OVER (
                       PARTITION BY w ORDER BY n DESC, event_type
                   ) AS rnk
            FROM agg)
        SELECT strftime(make_timestamp(CAST(w AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(make_timestamp(CAST(w + 21600 AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_end,
               event_type,
               CAST(n AS BIGINT) AS n,
               CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= 3
    """,
    tags=("T2", "W5", "T9"),
)
def q_stream_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink SQL *Window Top-N* parity: per 6-hour tumbling window, the top-3
    event types by count (deterministic tie-break on event_type).

    Spark's streaming engine does the stateful half (windowed counts with
    per-window state); rank() over a streaming aggregate is not incremental
    in Spark, so the Top-N cut runs downstream of the sink — the documented
    Structured Streaming composition for Flink's in-engine Window Top-N
    (rank in foreachBatch / on the drained result).  Scale: the ranking
    input is one row per (window, key) — already aggregate-sized, far
    smaller than the stream, and partitioned by window for the rank.
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy(F.window("ts", "6 hours"), "event_type").agg(
            F.count("*").alias("n")
        )

    sink = replay(spark, events, transform, output_mode="complete", no_data_batches=False)
    w = Window.partitionBy("window").orderBy(F.desc("n"), F.asc("event_type"))
    return _win_cols(
        sink.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
            F.col("rnk") <= 3
        )
    )


@register(
    "stream_session_window",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM ordered
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
                   AS session_end,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, sid
    """,
    tags=("T4",),
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: session windows (30-min gap) per user — Table SESSION equivalent.

    The oracle is the batch gaps-and-islands formulation; Spark's
    session_window must produce the identical session set.

    Sink choice (r12, the slowest-headliner fix): the output is
    INPUT-SIZED — ~95k sessions from 100k events at sf0.1, since most
    per-user gaps exceed 30 minutes — so the memory sink's driver-side
    row ingest dominated the replay (measured 10.5 s vs 2.1 s).  The
    file drain writes executor-side; complete mode overwrites per batch
    (streaming/replay.py::drain_file_sink), so the final table is the
    last batch's full emission, identical rows to the memory sink.
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"))
        )

    out = replay(spark, events, transform, output_mode="complete", sink="files")
    return out.select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )


@register(
    "stream_watermark_append",
    oracle="""
        SELECT strftime(make_timestamp(CAST((floor(epoch(ts) / 86400) * 86400) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n
        FROM events
        GROUP BY 1
    """,
    tags=("T1", "T9"),
)
def q_stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: event-time watermark + append mode.

    Append emits a window only once the watermark passes its end, so the
    replay runs as multiple micro-batches (watermarks advance between
    batches) and a far-future sentinel row closes the final real windows.
    No late data here (T5 covers drops) — so the final window set equals the
    batch tumble.
    """
    events = datasets.load(spark, sf_dir, "events")
    sentinel = datasets.local_df(
        spark,
        [(int(-1), datetime(2030, 1, 1), int(-1), "__sentinel__", 0.0, "{}")],
        events.schema,
    )

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count("*").alias("n"))
        )

    # 2 data files + sentinel = 3 micro-batches: the minimum that still
    # observes watermark advancement BETWEEN batches (recomputed per batch,
    # never within one) while keeping replay fixed costs down.
    out = replay(
        spark,
        events,
        transform,
        output_mode="append",
        n_files=2,
        order_col="ts",
        extra_files=[sentinel],
    )
    return (
        _win_cols(out)
        .filter(F.col("window_start") < "2029-12-01")
        .select("window_start", "n")
    )


@register(
    "stream_late_data",
    oracle="""
        SELECT strftime(make_timestamp(CAST((floor(epoch(ts) / 86400) * 86400) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n
        FROM events
        GROUP BY 1
    """,
    tags=("T5", "T1"),
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: late-data handling — rows behind the watermark whose window was
    already finalized (emitted + state evicted) are DROPPED.

    Measured Spark 4.1 semantics, pinned by this query + oracle: the replay
    runs batch0 = first half, batch1 = second half (watermark jumps past all
    first-half windows, which are emitted and evicted), batch2 = late
    duplicates of the first two days (arrive after eviction -> dropped),
    batch3 = far-future sentinel (flushes remaining windows).  The final
    window set must equal the clean batch tumble — if the late rows had been
    kept, the first two day-windows would double (verified: they do if the
    late rows instead arrive in the same batch as the eviction, i.e. while
    state is still open — Spark's documented "may or may not drop" gray zone
    within one batch).  Flink-style allowed-lateness side outputs: see
    flinkexp_spark.streaming.late_data for routing late rows to a side sink.
    """
    events = datasets.load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    first_half = events.filter(F.col("ts") < cutoff)
    second_half = events.filter(F.col("ts") >= cutoff)
    # late rows keep their ORIGINAL (old) ts — they arrive out of order,
    # after the watermark has already passed their windows
    late = events.filter(F.col("ts") < F.lit("2024-01-03").cast("timestamp")).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    sentinel = datasets.local_df(
        spark,
        [(int(-1), datetime(2030, 1, 1), int(-1), "__sentinel__", 0.0, "{}")],
        events.schema,
    )

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count("*").alias("n"))
        )

    # File/batch layout: [first_half, second_half, late+sentinel].  The late
    # rows and the sentinel share the final micro-batch: dropping uses the
    # watermark computed at the END of the previous batch (already past the
    # late rows' windows), while the sentinel only advances the watermark
    # AFTER this batch — so the drop decision is unaffected and the replay
    # saves one full micro-batch of fixed cost.
    out = replay(
        spark,
        first_half,
        transform,
        output_mode="append",
        extra_files=[second_half, late.unionAll(sentinel)],
    )
    return (
        _win_cols(out)
        .filter(F.col("window_start") < "2029-12-01")
        .select("window_start", "n")
    )


@register(
    "stream_dedup",
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("T6",),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: streaming dedup — first occurrence per (user_id, event_type).

    Output is the key set (which row is "first" depends on arrival order, so
    the deterministic contract is the set of distinct keys).
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return stream.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )

    return replay(
        spark, events, transform, output_mode="append",
        no_data_batches=False,
    )


# The per-user (count, cents) totals contract, shared with
# stream_stateful_totals_tws (catalog/streaming_tws.py).
STATEFUL_TOTALS_ORACLE = """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events GROUP BY user_id
    """


def keyed_state_replay(
    spark: SparkSession, df: DataFrame, transform, state_provider: str | None = None
) -> DataFrame:
    """Replay ``df`` as ONE update-mode micro-batch through a keyed-state
    ``transform``, so the emitted rows are each key's final state."""
    return replay(
        spark,
        df,
        transform,
        output_mode="update",
        no_data_batches=False,
        state_provider=state_provider,
    )


@register("stream_stateful_count", oracle=STATEFUL_TOTALS_ORACLE, tags=("T7",))
def q_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: custom stateful per-key process function (Flink KeyedProcessFunction /
    RocksDB keyed-state analog, study/pom.xml:72) via applyInPandasWithState.

    Keeps (count, cents) per user in GroupState; emits the running totals
    each batch.  Single-batch replay -> emitted rows are the final totals.
    Money is summed in integer cents so state arithmetic is exact.
    """
    from flinkexp_spark.streaming.stateful import running_totals_transform

    events = datasets.load(spark, sf_dir, "events")
    return keyed_state_replay(spark, events, running_totals_transform)


@register(
    "stream_interval_join",
    oracle="""
        SELECT a.event_id AS click_id, COUNT(*) AS n_views
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts
         AND b.event_id <> a.event_id
        WHERE a.event_type = 'click' AND b.event_type = 'view'
        GROUP BY a.event_id
    """,
    tags=("T8", "J7"),
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8/J7: stream-stream interval join, watermark-bounded state.

    Both sides carry watermarks and the join condition time-bounds b.ts
    relative to a.ts, so each side's buffered state is evicted once the
    watermark passes — bounded state on an unbounded stream.  The grouped
    count runs as a follow-up BATCH aggregation over the join's append
    output (chained stateful aggregation after a stream-stream join needs
    Spark's multiple-stateful-operator support; keeping the streaming part
    to the join is the portable formulation).
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        a = (
            stream.filter(F.col("event_type") == "click")
            .select("event_id", "user_id", "ts")
            .withWatermark("ts", "1 hour")
            .alias("a")
        )
        b = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("b_event_id"),
                F.col("user_id").alias("b_user_id"),
                F.col("ts").alias("b_ts"),
            )
            .withWatermark("b_ts", "1 hour")
            .alias("b")
        )
        return a.join(
            b,
            (F.col("a.user_id") == F.col("b.b_user_id"))
            & (F.col("b.b_ts") >= F.col("a.ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("b.b_ts") <= F.col("a.ts"))
            & (F.col("b.b_event_id") != F.col("a.event_id")),
            "inner",
        ).select(F.col("a.event_id").alias("click_id"))

    pairs = replay(spark, events, transform, output_mode="append",
                   no_data_batches=False)
    return pairs.groupBy("click_id").agg(F.count("*").alias("n_views"))


@register(
    "stream_static_join",
    oracle="""
        SELECT c_mktsegment AS segment, COUNT(*) AS n
        FROM events JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("J8",),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 (streaming form): stream-static enrichment join (Flink lookup join,
    study/pom.xml:105) — the static dim is re-read per micro-batch and
    broadcast; no state needed."""
    events = datasets.load(spark, sf_dir, "events")
    dim = F.broadcast(datasets.load(spark, sf_dir, "customer"))

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.filter(F.col("event_type") == "purchase")
            .join(dim, F.col("user_id") == dim.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n"))
        )

    return replay(spark, events, transform, output_mode="complete", no_data_batches=False)


@register(
    "rollup_gapfill_hourly",
    oracle="""
        WITH bounds AS (
            SELECT make_timestamp(CAST((floor(epoch(MIN(ts)) / 3600) * 3600) AS BIGINT) * 1000000) AS lo,
                   make_timestamp(CAST((floor(epoch(MAX(ts)) / 3600) * 3600) AS BIGINT) * 1000000) AS hi
            FROM events WHERE event_type = 'purchase'),
        hours AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
            FROM bounds),
        agg AS (
            SELECT make_timestamp(CAST((floor(epoch(ts) / 3600) * 3600) AS BIGINT) * 1000000) AS h,
                   COUNT(*) AS n
            FROM events WHERE event_type = 'purchase' GROUP BY 1)
        SELECT strftime(hours.h, '%Y-%m-%d %H:%M:%S') AS hour,
               CAST(COALESCE(agg.n, 0) AS BIGINT) AS n
        FROM hours LEFT JOIN agg ON hours.h = agg.h
    """,
    tags=("T2", "F3"),
)
def q_rollup_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series rollup with GAP FILLING (hypertable-rollup pattern):
    hourly purchase counts including zero rows for empty hours.

    The dense hour spine is generated with ``sequence()`` from the min/max
    bounds — O(hours) rows regardless of event volume — then left-joined to
    the sparse hourly aggregate.  At 100 TB the aggregate side shrinks to
    one row per hour BEFORE the join (partial agg), so the gap-fill join is
    spine-sized, not data-sized.
    """
    events = datasets.load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("n"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    return (
        spine.join(hourly, "h", "left")
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


@register(
    "stream_tumbling_checkpointed",
    oracle="""
        SELECT strftime(make_timestamp(CAST((floor(epoch(ts) / 21600) * 21600) AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n
        FROM events
        GROUP BY 1
    """,
    tags=("T10", "T2"),
)
def q_stream_tumbling_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: fault-tolerance plumbing — same windowed agg, run WITH a
    checkpointLocation (RocksDB state + WAL).  Restart/recovery semantics are
    exercised in tests/test_streaming.py::test_checkpoint_restart."""
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy(F.window("ts", "6 hours")).agg(
            F.count("*").alias("n")
        )

    out = replay(
        spark, events, transform, output_mode="complete",
        no_data_batches=False,
    )
    return _win_cols(out).select("window_start", "n")


@register(
    "stream_temporal_join",
    # Oracle: DuckDB native ASOF JOIN — each event against the order version
    # (per customer, by o_orderdate) valid at event time.
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN v.o_totalprice IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_matched,
               CAST(SUM(CAST(floor(COALESCE(v.o_totalprice, 0) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS price_cents
        FROM events e
        ASOF LEFT JOIN (SELECT o_custkey, o_orderdate,
                               max_by(o_totalprice, o_orderkey)
                                   AS o_totalprice
                        FROM orders GROUP BY o_custkey, o_orderdate) v
          ON e.user_id = v.o_custkey AND e.ts >= v.o_orderdate
        GROUP BY event_type
    """,
    tags=("T8", "J9", "J8"),
)
def q_stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink temporal table join (FOR SYSTEM_TIME AS OF, the Table-API
    planner envelope study/pom.xml:149-165): each streaming event joins the
    dimension VERSION valid at its event time — here the customer's latest
    order at-or-before the event, versioned by o_orderdate.

    Spark has no native streaming temporal join; the engine runs the
    standard shape: foreachBatch + batch as-of join (operators/asof.py)
    against the versioned dim per micro-batch, appending enriched rows to
    a sink table.  Row-local semantics make this exactly equal to the
    all-at-once temporal join — and it is how production Spark pipelines
    express FOR SYSTEM_TIME AS OF today (the dim is re-snapshotted per
    micro-batch, so late dim updates take effect at the next batch, same
    as Flink's processing-time temporal join).  State cost: zero (the
    as-of window runs inside each micro-batch; nothing carries over).
    """
    from flinkexp_spark.operators.asof import asof_join
    from flinkexp_spark.streaming.replay import scratch_dir

    # untouched, so the replay copies the fixture file; projected in-stream
    events = datasets.load(spark, sf_dir, "events")
    # One version row per (customer, date): (o_custkey, o_orderdate) is NOT
    # unique in orders, and an ambiguous version key would make the as-of
    # match nondeterministic (whichever tied row sorts last wins).  The
    # deterministic winner is the tied row with the highest o_orderkey.
    versions = (
        datasets.load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("vts"),
        )
        .agg(F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"))
    )
    with scratch_dir("temporal_out") as outdir:

        def writer(batch_df: DataFrame, epoch: int) -> None:
            enriched = asof_join(
                batch_df,
                versions,
                on="user_id",
                left_ts="ts",
                right_ts="vts",
                right_prefix="v_",
            )
            enriched.write.mode("append").parquet(outdir)

        replay(
            spark,
            events,
            lambda s: s.select("event_id", "ts", "user_id", "event_type"),
            sink=writer,
        )
        out = spark.read.parquet(outdir)
        return (
            out.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.when(F.col("v_o_totalprice").isNull(), 0).otherwise(1)
                ).alias("n_matched"),
                F.sum(
                    F.floor(
                        F.coalesce(F.col("v_o_totalprice"), F.lit(0.0)) * 100
                        + 0.5
                    ).cast("long")
                ).alias("price_cents"),
            )
            .localCheckpoint()  # materialize before the scratch dir vanishes
        )


@register(
    "stream_interval_join_outer",
    oracle="""
        SELECT a.event_id AS click_id,
               CAST(COUNT(b.event_id) AS BIGINT) AS n_views
        FROM events a LEFT JOIN events b
          ON a.user_id = b.user_id
         AND b.event_type = 'view'
         AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts
         AND b.event_id <> a.event_id
        WHERE a.event_type = 'click'
        GROUP BY a.event_id
    """,
    tags=("T8", "J7", "J2"),
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 outer variant: stream-stream LEFT OUTER interval join — clicks
    with no view in their 10-minute lookback still emit (NULL-padded), the
    Flink outer interval join / left temporal semantics.

    The outer side can only emit "no match" once the watermark proves no
    matching view can still arrive, so unmatched rows surface on watermark
    advancement — a far-future sentinel pair (one row per branch: each
    filtered branch tracks its own event-time watermark, and the GLOBAL
    watermark is their min, so both branches must see the flush) closes
    the tail that would otherwise stay buffered at stream end.  State is
    still time-bounded: buffered rows drop as the watermark passes.
    """
    events = datasets.load(spark, sf_dir, "events")
    sentinel = datasets.local_df(
        spark,
        [
            (int(-1), datetime(2030, 1, 1), int(-1), "click", 0.0, "{}"),
            (int(-2), datetime(2030, 1, 1), int(-1), "view", 0.0, "{}"),
        ],
        events.schema,
    )

    def transform(stream: DataFrame) -> DataFrame:
        a = (
            stream.filter(F.col("event_type") == "click")
            .select("event_id", "user_id", "ts")
            .withWatermark("ts", "1 hour")
            .alias("a")
        )
        b = (
            stream.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("b_event_id"),
                F.col("user_id").alias("b_user_id"),
                F.col("ts").alias("b_ts"),
            )
            .withWatermark("b_ts", "1 hour")
            .alias("b")
        )
        return a.join(
            b,
            (F.col("a.user_id") == F.col("b.b_user_id"))
            & (F.col("b.b_ts") >= F.col("a.ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("b.b_ts") <= F.col("a.ts"))
            & (F.col("b.b_event_id") != F.col("a.event_id")),
            "left_outer",
        ).select(
            F.col("a.event_id").alias("click_id"),
            F.col("b.b_event_id").alias("matched_view"),
        )

    pairs = replay(
        spark,
        events,
        transform,
        output_mode="append",
        n_files=2,
        order_col="ts",
        extra_files=[sentinel],
    )
    return (
        pairs.filter(F.col("click_id") >= 0)
        .groupBy("click_id")
        .agg(F.count("matched_view").alias("n_views"))
    )


# Batch gaps-and-islands over (user, ts) with a 30-minute gap: the session
# contract of both timer sessionizers (stream_session_timers_tws too).
SESSION_TIMERS_ORACLE = """
        WITH ordered AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                             > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
        sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
            FROM ordered)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
                   AS duration_s
        FROM sessions
        GROUP BY user_id, sid
    """


def session_timers(
    spark: SparkSession, sf_dir: str, transform, state_provider: str | None = None
) -> DataFrame:
    """Replay ``events`` in two time-ordered files through a timer
    sessionizer.  A far-future sentinel row (user -1, dropped from the
    result) moves the watermark past every open session, so its final
    no-data micro-batch fires the remaining timers."""
    events = datasets.load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    sentinel = datasets.local_df(
        spark,
        [(int(-1), datetime(2030, 1, 1), int(-1), 0.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    out = replay(
        spark,
        events,
        transform,
        output_mode="append",
        n_files=2,
        order_col="ts",
        extra_files=[sentinel],
        state_provider=state_provider,
    )
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_session_timers", oracle=SESSION_TIMERS_ORACLE, tags=("T7", "T4", "T5")
)
def q_stream_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 with TIMERS: custom per-key sessionization through
    ``applyInPandasWithState`` + EventTimeTimeout — the Flink
    KeyedProcessFunction pairing of keyed state AND event-time timers
    (`ctx.timerService().registerEventTimeTimer`), which the native
    session_window operator (stream_session_window) hides.  Sessions close
    in-band on a gap-exceeding event or by timer when the watermark passes
    the gap horizon; a far-future sentinel fires the final timers.  Output
    matches the batch gaps-and-islands oracle exactly (946 sessions at
    sf0.001).
    """
    from flinkexp_spark.streaming.stateful import stateful_sessionize

    return session_timers(spark, sf_dir, stateful_sessionize)


@register(
    "stream_cumulate_window",
    # Same construction as the batch analog (windows.q_window_cumulate):
    # expanding day-anchored windows in 6 h steps.
    oracle="""
        WITH steps AS (SELECT unnest(range(1, 5)) AS s),
        hits AS (
            SELECT floor(epoch(ts) / 86400) * 86400 AS day_start,
                   day_start + 21600 * s.s AS win_end,
                   value
            FROM events, steps s
            WHERE epoch(ts) < day_start + 21600 * s.s
        )
        SELECT strftime(make_timestamp(CAST((day_start) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               strftime(make_timestamp(CAST((win_end) AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S')
                   AS window_end,
               COUNT(*) AS n
        FROM hits
        GROUP BY 1, 2
    """,
    tags=("T2", "T3"),
)
def q_stream_cumulate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink CUMULATE window TVF (FLIP-145) in its STREAMING form: the
    step-explode runs stateless inside the micro-batch and the (day, step)
    aggregation carries streaming state — early partials per refresh step
    that converge to the day total, which is CUMULATE's entire purpose.
    State = O(open step windows), the same bound as a hop window.
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        day = (F.unix_timestamp("ts") / 86400).cast("long") * 86400
        hits = (
            stream.select("ts", day.alias("day_start"))
            .select(
                "ts",
                "day_start",
                F.explode(F.sequence(F.lit(1), F.lit(4))).alias("s"),
            )
            .filter(
                F.unix_timestamp("ts") < F.col("day_start") + 21600 * F.col("s")
            )
            .select(
                "day_start",
                (F.col("day_start") + 21600 * F.col("s")).alias("win_end"),
            )
        )
        return hits.groupBy("day_start", "win_end").agg(F.count("*").alias("n"))

    out = replay(spark, events, transform, output_mode="complete", no_data_batches=False)
    return out.select(
        F.date_format(
            F.timestamp_seconds("day_start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        F.date_format(F.timestamp_seconds("win_end"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_end"
        ),
        "n",
    )


@register(
    "stream_window_join",
    oracle="""
        WITH a AS (
            SELECT user_id, event_id AS click_id,
                   floor(epoch(ts) / 21600) * 21600 AS w
            FROM events WHERE event_type = 'click'),
        b AS (
            SELECT user_id, event_id AS purchase_id,
                   floor(epoch(ts) / 21600) * 21600 AS w
            FROM events WHERE event_type = 'purchase')
        SELECT strftime(make_timestamp(CAST(a.w AS BIGINT) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               a.click_id,
               b.purchase_id
        FROM a JOIN b ON a.user_id = b.user_id AND a.w = b.w
    """,
    tags=("T8", "T2", "J7"),
)
def q_stream_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink SQL *Window Join* parity: both streams are assigned tumbling
    6-hour windows, then joined on (window, key) — clicks with purchases by
    the same user in the same window.

    Window-equality is Spark's third sanctioned stream-stream join bound
    (beside time-range conditions): each side's window column inherits
    event-time semantics from its watermarked source, so buffered state for
    a window is evicted wholesale once the watermark passes the window end
    — state O(active windows), the same bound Flink's window join
    advertises.
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        a = (
            stream.filter(F.col("event_type") == "click")
            .withWatermark("ts", "1 hour")
            .select(
                F.window("ts", "6 hours").alias("w"),
                "user_id",
                F.col("event_id").alias("click_id"),
            )
        )
        b = (
            stream.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("b_user_id"), F.col("ts").alias("b_ts"),
                    F.col("event_id").alias("purchase_id"))
            .withWatermark("b_ts", "1 hour")
            .select(
                F.window("b_ts", "6 hours").alias("bw"),
                "b_user_id",
                "purchase_id",
            )
        )
        return a.join(
            b,
            (F.col("w") == F.col("bw")) & (F.col("user_id") == F.col("b_user_id")),
            "inner",
        ).select(
            F.expr("date_format(w.start, 'yyyy-MM-dd HH:mm:ss')").alias(
                "window_start"
            ),
            "click_id",
            "purchase_id",
        )

    return replay(
        spark, events, transform, output_mode="append",
        no_data_batches=False,
    )


@register(
    "stream_window_distinct_users",
    oracle="""
        SELECT strftime(make_timestamp(
                   CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) * 1000000),
                   '%Y-%m-%d %H:%M:%S') AS window_start,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY 1
    """,
    tags=("T2", "T6", "A3"),
)
def q_stream_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T6+A3: EXACT distinct users per window on a stream — Spark
    forbids COUNT(DISTINCT) in streaming aggregates, so this runs the
    documented two-stage shape: watermarked dropDuplicates on
    (window, user) feeding a windowed count — TWO chained stateful
    operators in one streaming query (multi-stateful-operator support,
    append mode; the far-future sentinel closes the final real windows).

    State: the dedup stage holds one tombstone per (window, user) until
    the watermark passes; the count holds one long per window — both
    watermark-bounded.  (An HLL sketch would replace stage one at 100 TB
    when ±rsd error is acceptable; its approximation cannot hash-match an
    exact oracle, so the checkable form is the exact one.)
    """
    events = datasets.load(spark, sf_dir, "events")
    sentinel = datasets.local_df(
        spark,
        [(int(-1), datetime(2030, 1, 1), int(-1), "__sentinel__", 0.0, "{}")],
        events.schema,
    )

    def transform(stream: DataFrame) -> DataFrame:
        per_user = (
            stream.withWatermark("ts", "1 hour")
            .select(F.window("ts", "1 day").alias("window"), "user_id")
            .dropDuplicates(["window", "user_id"])
        )
        return per_user.groupBy("window").agg(F.count("*").alias("n_users"))

    out = replay(
        spark,
        events,
        transform,
        output_mode="append",
        n_files=2,
        order_col="ts",
        extra_files=[sentinel],
    )
    return (
        _win_cols(out)
        .filter(F.col("window_start") < "2029-12-01")
        .select("window_start", "n_users")
    )


@register(
    "stream_ewma_per_user",
    oracle="""
        WITH o AS (
            SELECT user_id,
                   list_transform(
                       list_sort(list({'ts': ts, 'eid': event_id,
                                       'v': value})),
                       s -> s.v) AS vals
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id)
        SELECT user_id,
               CAST(len(vals) AS BIGINT) AS n,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
                     (acc, v) -> acc * 0.8 + v * 0.2), 6) AS ewma
        FROM o
    """,
    tags=("T7", "W3"),
)
def q_stream_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/W3: per-key EWMA ON THE STREAM — applyInPandasWithState carrying
    ONE (count, ewma) pair per key (streaming/stateful.ewma_transform),
    the O(1)-state unbounded twin of the batch ordered fold
    (window_ewma_per_user).  Same oracle, same bit-exact result: the
    replay's time-ordered micro-batches let the carried state reproduce
    the global (ts, event_id)-ordered fold exactly.
    """
    from flinkexp_spark.streaming.stateful import ewma_transform

    events = datasets.load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return keyed_state_replay(spark, events, ewma_transform)


HISTQ_WIDTH = 10  # value in [0, ~500] -> <= ~50 bins per window
HISTQ_QS = (0.5, 0.95)


@register(
    "stream_histogram_quantile",
    oracle=f"""
        WITH h AS (
            SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS wstart,
                   CAST(floor(value / {HISTQ_WIDTH}) AS BIGINT) AS bin,
                   COUNT(*) AS c
            FROM events GROUP BY 1, 2),
        cum AS (
            SELECT wstart, bin,
                   SUM(c) OVER (PARTITION BY wstart ORDER BY bin) AS cum,
                   SUM(c) OVER (PARTITION BY wstart) AS total
            FROM h)
        SELECT strftime(make_timestamp(wstart * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               CAST(q AS DOUBLE) AS q,
               CAST(MIN(bin) * {HISTQ_WIDTH} AS DOUBLE) AS edge
        FROM cum CROSS JOIN (SELECT CAST(unnest({list(HISTQ_QS)}) AS DOUBLE) AS q)
        WHERE cum >= q * total
        GROUP BY 1, 2
    """,
    tags=("T2", "A6"),
)
def q_stream_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+A6: per-window quantiles ON A STREAM via the mergeable histogram.

    GK/t-digest percentile state isn't exposed to streaming aggregation;
    the fixed-bin histogram IS a streaming-legal sketch: the stateful op
    is an ordinary windowed (window, bin) count — state O(windows × bins),
    watermark-evictable, update-combinable — and quantiles read off the
    final counts downstream.  Same sketch as `agg_histogram_quantile`, so
    batch and stream agree bit-for-bit (both integer arithmetic).
    """
    events = datasets.load(spark, sf_dir, "events")

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(
                F.window("ts", "1 day"),
                F.floor(F.col("value") / HISTQ_WIDTH).cast("long").alias("bin"),
            )
            .agg(F.count("*").alias("c"))
        )

    hist = _win_cols(replay(spark, events, transform, output_mode="complete", no_data_batches=False))
    wcum = (
        Window.partitionBy("window_start")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "window_start",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("window_start")).alias("total"),
    )
    qs = F.explode(F.array(*[F.lit(q) for q in HISTQ_QS])).alias("q")
    return (
        cum.crossJoin(spark.range(1).select(qs))
        .filter(F.col("cum") >= F.col("q") * F.col("total"))
        .groupBy("window_start", "q")
        .agg((F.min("bin") * HISTQ_WIDTH).cast("double").alias("edge"))
    )


@register(
    "stream_session_dynamic_gap",
    oracle="""
        WITH t AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   epoch_us(ts) + CASE WHEN event_type IN ('click','view')
                                       THEN 1800000000 ELSE 3600000000
                                  END AS end_us
            FROM events),
        o AS (
            SELECT *,
                   MAX(end_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
            FROM t),
        s AS (
            SELECT *,
                   SUM(CASE WHEN prev_end IS NULL OR ts_us >= prev_end
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
            FROM o)
        SELECT user_id,
               strftime(make_timestamp(MIN(ts_us)), '%Y-%m-%d %H:%M:%S')
                   AS session_start,
               strftime(make_timestamp(MAX(end_us)), '%Y-%m-%d %H:%M:%S')
                   AS session_end,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    tags=("T4", "T1"),
)
def q_stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+: session windows with a PER-EVENT gap (Flink dynamic session gap).

    Engagement events (click/view) close after 30 min, everything else
    after 60 — `session_window` takes the gap as an EXPRESSION, so the
    stateful merge logic is unchanged (state per active session, watermark
    eviction).  The oracle is interval-merge via running-max-of-ends
    (the lag-based islands trick is only valid for constant gaps).
    """
    events = datasets.load(spark, sf_dir, "events")
    # session_window's dynamic form takes the gap as a STRING column
    # (parsed to CalendarInterval per row); typed INTERVAL literals are
    # rejected (DayTimeIntervalType).
    gap = F.when(
        F.col("event_type").isin("click", "view"), F.lit("30 minutes")
    ).otherwise(F.lit("60 minutes"))

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(F.session_window("ts", gap), "user_id")
            .agg(F.count("*").alias("n_events"))
        )

    out = replay(spark, events, transform, output_mode="complete", no_data_batches=False)
    return out.select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )


@register(
    "stream_pipeline_enriched",
    oracle="""
        WITH uniq AS (
            SELECT DISTINCT event_id, ts, user_id, event_type FROM events),
        enriched AS (
            SELECT u.*, n.n_name
            FROM uniq u JOIN nation n
              ON (u.user_id % 25) = n.n_nationkey)
        SELECT strftime(make_timestamp(
                   CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) * 1000000),
                   '%Y-%m-%d %H:%M:%S') AS window_start,
               n_name,
               COUNT(*) AS n
        FROM enriched
        GROUP BY 1, 2
    """,
    tags=("T6", "J8", "T2", "T9"),
)
def q_stream_pipeline_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COMPOSITE: dedup -> static-dim enrich -> windowed count,
    chained in ONE streaming query (the shape real ingest pipelines run).

    The input is replayed with a duplicated file so the dedup stage is
    load-bearing; state = dedup keys (watermark-evictable via
    dropDuplicatesWithinWatermark at scale) + O(windows x dims) window
    counts; the dim join broadcasts per micro-batch (stream-static).
    """
    events = datasets.load(spark, sf_dir, "events")
    nation = datasets.load(spark, sf_dir, "nation")

    def transform(stream: DataFrame) -> DataFrame:
        uniq = stream.dropDuplicates(["event_id"])
        enriched = uniq.join(
            F.broadcast(nation),
            (F.col("user_id") % 25) == F.col("n_nationkey"),
        )
        return (
            enriched.groupBy(F.window("ts", "1 day"), "n_name")
            .agg(F.count("*").alias("n"))
        )

    out = replay(
        spark,
        events,
        transform,
        output_mode="complete",
        extra_files=[events],  # duplicate the input: dedup must earn its keep
    )
    return out.select(
        F.expr(_WS).alias("window_start"), "n_name", "n"
    )


@register(
    "stream_wordcount_per_record",
    oracle="""
        WITH w AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS word,
                   unnest(range(0, len(string_split(text, ' ')))) AS pos
            FROM documents
        )
        SELECT word, doc_id * 1000000 + pos AS seq,
               ROW_NUMBER() OVER (
                   PARTITION BY word ORDER BY doc_id * 1000000 + pos
               ) AS cnt
        FROM w WHERE word <> ''
    """,
    tags=("E5", "E4", "T7", "T9"),
)
def q_stream_wordcount_per_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 at FLINK's emission cadence: one output row PER INPUT RECORD
    carrying the key's refreshed running total — `keyBy().sum().print()`
    (reference StreamSocket.scala:15-16) emits per record, and SURVEY
    §2.1 scoped the repo's contract to micro-batch granularity; this
    query closes that last visible semantic delta.  A stateful flat-map
    (stateful flat-map: running per-word count, one emission per arriving
    record in arrival order) replayed over three micro-batches, so totals
    provably CONTINUE across batches rather than recount.  The oracle is
    the pure-SQL form of per-record emission: ``ROW_NUMBER() OVER
    (PARTITION BY word ORDER BY seq)`` — the k-th arrival of a word emits
    total k.

    Emissions are input-sized — that IS the contract — so the COST lever
    is the python/Arrow boundary, not the row count.  r07 keyed the state
    by word: one python call + one state-server round-trip + one pandas
    frame PER DISTINCT WORD per batch (~46 K rows/s at sf1 — the engine's
    slowest per-row path).  r08 shards the keyed state by HASH BUCKET
    (``pmod(xxhash64(word), 256)``): one call per bucket per batch, the
    bucket's vocabulary lives in one array-valued state row, and the
    per-record numbering inside the call is vectorized (groupby.cumcount
    + a base-offset map).  Semantics are unchanged — bucketing a keyed
    state store is exactly how a distributed engine shards it anyway;
    per-word totals and arrival order are preserved because a word maps
    to exactly one bucket.  Measured sf0.1 warm: 6.5 s -> 2.2 s; the
    bucket count (256) is the parallelism/state-granularity knob at
    scale, matching shuffle partitions the way state-store shards do.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    words = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
        )
        .filter(F.col("word") != "")
        .select(
            (F.col("doc_id") * 1000000 + F.col("pos")).alias("seq"), "word"
        )
    )

    def transform(stream: DataFrame) -> DataFrame:
        from pyspark.sql.streaming.state import GroupStateTimeout

        def per_bucket(key, pdfs, state):
            import pandas as pd

            if state.exists:
                w0, c0 = state.get
                base = dict(zip(w0, c0))
            else:
                base = {}
            pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
                "seq", kind="stable"
            )
            intra = pdf.groupby("word", sort=False).cumcount().to_numpy()
            prior = (
                pdf["word"].map(base).fillna(0).astype("int64").to_numpy()
            )
            for w, k in pdf["word"].value_counts().items():
                base[w] = base.get(w, 0) + int(k)
            state.update((list(base.keys()), list(base.values())))
            yield pd.DataFrame(
                {
                    "word": pdf["word"].to_numpy(),
                    "seq": pdf["seq"].to_numpy(),
                    "cnt": prior + intra + 1,
                }
            )

        bucketed = stream.withColumn(
            "bucket", F.pmod(F.xxhash64("word"), F.lit(256))
        )
        return bucketed.groupBy("bucket").applyInPandasWithState(
            per_bucket,
            outputStructType="word string, seq long, cnt long",
            stateStructType="words array<string>, counts array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # Micro-batch boundaries: replay()'s generic order_col split runs an
    # EXACT percentile over every seq (11.7 s of the sf1 wall all by
    # itself).  This query's output is invariant to WHERE the boundaries
    # fall — any seq-monotone 3-way split yields the same per-word ranks —
    # so derive bounds from max(doc_id) (a column-metadata-cheap scan)
    # instead: seq < b1, [b1, b2), >= b2 with b_i = i/3 of the id space.
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    b1 = (max_id // 3 + 1) * 1000000
    b2 = (2 * (max_id // 3) + 1) * 1000000
    parts = [
        words.filter(F.col("seq") < b1),
        words.filter((F.col("seq") >= b1) & (F.col("seq") < b2)),
        words.filter(F.col("seq") >= b2),
    ]
    return replay(
        spark,
        parts[0],
        transform,
        output_mode="update",
        extra_files=parts[1:],
        no_data_batches=False,
        sink="files",  # input-sized emission: keep rows executor-side
    )
