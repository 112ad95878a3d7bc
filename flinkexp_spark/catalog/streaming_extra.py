"""Round-4 streaming additions: watermark-scoped dedup state.

``dropDuplicatesWithinWatermark`` (Spark 3.5+) is the production answer to
T6's unbounded-state problem: plain ``dropDuplicates`` on a stream keeps
every key forever, while the within-watermark variant expires each key's
dedup state once the watermark passes its event time + delay — state is
bounded by (arrival rate x delay), not stream length.  At 100 TB/day of
clickstream this is the only dedup that survives; the exact-dedup batch
variants live in catalog/llm_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.registry import register
from flinkexp_spark.streaming.replay import replay


@register(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_id, user_id, event_type FROM events
    """,
    tags=("T6", "T1"),
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 at production scale: ``dropDuplicatesWithinWatermark`` over an
    at-least-once feed.

    The replay runs TWO micro-batches: the full feed, then a re-delivery of
    the last 30 minutes (the at-least-once tail a crashed producer resends).
    With a 2-hour delay the resent rows are NOT late (watermark = max_ts -
    2h < their event times), so they reach the dedup operator and are
    dropped by its state — exercising the state path, not the late-row
    filter.  Every event_id survives exactly once, which is what the oracle
    checks.  State for a key expires once the watermark passes its event
    time + 2h; plain dropDuplicates would keep it forever.
    """
    # untouched, so the replay copies the fixture file; the resent tail is
    # derived from the same frame, so both parts share its schema
    events = datasets.load(spark, sf_dir, "events")
    # at-least-once tail: rows within 30 min of the stream's end, resent in
    # a second delivery (1-row max aggregate broadcast, no driver collect)
    cutoff = events.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("cut")
    )
    resent = events.crossJoin(F.broadcast(cutoff)).filter(
        F.col("ts") >= F.col("cut")
    ).drop("cut")

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.select("event_id", "user_id", "event_type", "ts")
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type")
        )

    return replay(
        spark,
        events,
        transform,
        output_mode="append",
        extra_files=[resent],
        # input-sized emission (every unique event survives): drain through
        # the executor-side parquet sink, not the driver-side memory sink —
        # the same rule that took stream_session_window 6.6s -> 1.35s (r12)
        sink="files",
        # dedup emits each first-seen row in its arrival batch; the trailing
        # no-data batch only evicts state and appends nothing
        no_data_batches=False,
    )


@register(
    "stream_foreachbatch_merge",
    oracle="""
        SELECT user_id,
               CAST(ts AS STRING) AS ts_s,
               event_type AS last_type,
               value AS last_value
        FROM (
            SELECT user_id, ts, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) v WHERE rn = 1
    """,
    tags=("T9", "T7", "S7"),
)
def q_stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: a 3-micro-batch replay drives
    ``foreachBatch`` -> compact-the-batch -> ``merge_upsert`` into a
    parquet snapshot, write-new-then-swap per epoch (the manual form of a
    lakehouse table's atomic snapshot commit — same dataflow, with the
    table format supplying the manifest atomicity at scale).

    Batch-vs-incremental parity is the checked contract: after replaying
    the whole feed incrementally, the snapshot must equal the one-shot
    batch compaction (changelog_compact's oracle).  The foreachBatch writer
    runs ON THE DRIVER per epoch but every frame it touches is distributed
    — batch compaction is a keyed max_by, the MERGE is one join.
    """
    import os
    import shutil

    from flinkexp_spark.operators.maintenance import merge_upsert
    from flinkexp_spark.streaming.replay import scratch_dir

    events = datasets.load(spark, sf_dir, "events")
    out_schema = "user_id long, ts timestamp, event_type string, value double"
    with scratch_dir("merge_sink") as work:
        snap = os.path.join(work, "snapshot")

        def writer(batch_df: DataFrame, epoch_id: int) -> None:
            # compact the epoch to one row per key (last by version vector);
            # epochs arrive time-ordered, so later epochs legitimately
            # overwrite earlier keys
            compact = (
                batch_df.groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("ts", "event_type", "value"),
                        F.struct("ts", "event_id"),
                    ).alias("last")
                )
                .select(
                    "user_id", "last.ts", "last.event_type", "last.value",
                    F.lit("U").alias("op"),
                )
            )
            if os.path.isdir(snap):
                target = spark.read.schema(out_schema).parquet(snap)
            else:
                target = spark.createDataFrame([], out_schema)
            merged = merge_upsert(target, compact, "user_id", check_unique=False)
            # write-new-then-swap: the merged plan lazily READS the current
            # snapshot, so overwriting it in place would corrupt the read
            merged.write.mode("overwrite").parquet(snap + ".next")
            shutil.rmtree(snap, ignore_errors=True)
            os.rename(snap + ".next", snap)

        replay(
            spark,
            events.select("user_id", "ts", "event_id", "event_type", "value"),
            lambda s: s,
            n_files=3,
            order_col="ts",
            sink=writer,
        )
        rows = spark.read.schema(out_schema).parquet(snap).collect()
    out = datasets.local_df(
        spark, rows, out_schema
    )
    return out.select(
        "user_id",
        F.col("ts").cast("string").alias("ts_s"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


# Spark .option() strings and the oracle text MUST agree; single-sourced
# (same pattern as sources_io.PYSRC_ROWS).
PYSTREAM_ROWS = 2000
PYSTREAM_BATCH = 500
PYSTREAM_BUCKETS = 4


@register(
    "stream_python_datasource",
    oracle=f"""
        WITH synth AS (
            SELECT g AS doc_id,
                   CAST(CAST(concat('0x', substr(md5(CAST(g AS VARCHAR)), 1, 8))
                             AS BIGINT) % 1000 AS BIGINT) AS score
            FROM (SELECT unnest(range({PYSTREAM_ROWS})) AS g))
        SELECT CAST(doc_id % {PYSTREAM_BUCKETS} AS BIGINT) AS bucket,
               COUNT(*) AS n,
               CAST(SUM(score) AS BIGINT) AS score_sum
        FROM synth GROUP BY doc_id % {PYSTREAM_BUCKETS} ORDER BY bucket
    """,
    tags=("S11", "T9", "E7"),
)
def q_stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming custom connector via the Python DataSource API
    (sources/pysource.py): a SimpleDataSourceStreamReader paginates the
    feed in {"pos": n} offsets — checkpointable, with readBetweenOffsets
    replaying committed ranges for exactly-once restart — and a complete-
    mode aggregation drains it via processAllAvailable (multiple real
    micro-batches; 2000 rows at batch=500 is 4+ commits).

    The oracle regenerates the md5-derived feed arithmetically, so the
    final totals pin both the source's pagination (no row lost or doubled
    across offset boundaries) and the aggregation.
    """
    from flinkexp_spark.sources.pysource import register_python_sources

    register_python_sources(spark)
    df = (
        spark.readStream.format("synthcrawlstream")
        .option("rows", str(PYSTREAM_ROWS))
        .option("batch", str(PYSTREAM_BATCH))
        .load()
    )
    agg = (
        df.groupBy((F.col("doc_id") % PYSTREAM_BUCKETS).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("score").cast("long").alias("score_sum"),
        )
    )
    import os

    from flinkexp_spark.streaming.replay import drain_memory_sink, scratch_dir

    with scratch_dir("pystream") as work:
        # available_now=False: availableNow snapshots ONE offset step of a
        # SimpleDataSourceStreamReader; the continuous-trigger drain runs
        # all pages (see drain_memory_sink)
        out = drain_memory_sink(
            spark, agg, os.path.join(work, "checkpoint"), "complete",
            available_now=False,
        )
    return out.orderBy("bucket")


@register(
    "stream_observed_metrics",
    # The listener-sourced numbers are all pure event-time functions of the
    # fixture, so SQL re-derives every column: watermark_ms is the
    # ms-truncated max event time minus the 10-minute delay (Spark tracks
    # event-time watermarks at ms precision); emitted/retained windows
    # split the distinct 1-hour tumble buckets at that watermark (append
    # mode emits and evicts a window once its end crosses the watermark,
    # flushed by the final no-data batch availableNow runs after the last
    # file); n_batches pins the replay's 3-file slicing.
    oracle="""
        WITH b AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                       AS cents_sum,
                   CAST(epoch_ms(MAX(ts)) - 600000 AS BIGINT) AS watermark_ms
            FROM events),
        w AS (
            SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 hour', ts))
                        + 3600000 AS BIGINT) AS wend_ms
            FROM events GROUP BY 1)
        SELECT n_rows,
               cents_sum,
               CAST(3 AS BIGINT) AS n_batches,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM w
                 WHERE wend_ms <= watermark_ms) AS emitted_windows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM w
                 WHERE wend_ms > watermark_ms) AS state_rows_final,
               watermark_ms
        FROM b
    """,
    tags=("T9", "A2"),
)
def q_stream_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability, two instruments riding one replay (r09
    verdict #5): ``df.observe()`` attaches named aggregate metrics that
    ride each micro-batch's execution (no second pass), and a
    StreamingQueryListener (streaming/replay.py ReplayMetricsListener)
    captures the engine's own per-batch progress — input rows, sink rows,
    state-store size, watermark progression.

    The checked contract: (1) summing the OBSERVED per-batch metrics
    across the 3-batch replay equals the batch aggregate over the whole
    feed — the observation path neither drops nor double-counts rows;
    (2) the LISTENER-sourced numbers land exactly where event-time math
    says they must — the final watermark is max(ts)-10min at ms
    precision, the emitted-row total equals the tumbling windows whose
    end crossed that watermark, and the final state-store row count is
    the windows still open.  Wall-clock rates (processedRowsPerSecond)
    are collected by the same listener but asserted only in pytest
    (tests/test_streaming.py) — hashing them would pin noise.
    """
    from flinkexp_spark.streaming.replay import capture_stream_metrics

    events = datasets.load(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )

    def transform(stream: DataFrame) -> DataFrame:
        observed = stream.observe(
            "feed_metrics",
            F.count(F.lit(1)).alias("batch_rows"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "batch_cents"
            ),
        )
        # the stateful leg the listener watches: watermarked tumbling count
        return (
            observed.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )

    # the listener binds to the replay's query, the only one started inside
    with capture_stream_metrics(spark) as mx:
        replay(spark, events, transform, n_files=3, order_col="ts")
    totals = [0, 0]
    for prog in mx.progresses:
        m = (prog.get("observedMetrics") or {}).get("feed_metrics")
        if m:
            # An empty micro-batch reports sum(...) as null — the observed
            # metric arrives as None, not 0.
            totals[0] += m["batch_rows"] or 0
            totals[1] += m["batch_cents"] or 0
    # cross-instrument guard: the listener's input-row total must agree
    # with the observe() path before either is reported
    if mx.input_rows_total != totals[0]:
        raise AssertionError(
            f"listener saw {mx.input_rows_total} input rows, "
            f"observe() saw {totals[0]}"
        )
    row = (
        totals[0],
        totals[1],
        mx.nonempty_batches,
        mx.sink_rows_total,
        mx.final_state_rows,
        mx.final_watermark_ms,
    )
    return datasets.local_df(
        spark,
        [row],
        "n_rows long, cents_sum long, n_batches long, "
        "emitted_windows long, state_rows_final long, watermark_ms long",
    )
