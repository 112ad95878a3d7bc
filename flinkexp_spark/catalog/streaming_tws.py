"""T7 forward path: ``transformWithStateInPandas`` (Spark 4's successor to
``applyInPandasWithState``), capability-probed.

The state-server IPC needs ``google.protobuf`` importable ON THE WORKERS.
Whether that holds depends on the launching process (PYTHONPATH is captured
at JVM start — see compat/protobuf_shim.py), so each query probes the actual
worker environment once per SparkContext (:func:`workers_have_protobuf`)
and falls back to a dependency-free implementation of the same contract
when the probe fails.  The oracle is the same either way — the probe
selects an execution engine, never a semantic.

The engine's own session (``get_session`` installs the protobuf shim before
its JVM starts) takes the tws paths.  A plain session the caller started,
like the driver's, gets False from the probe and runs the fallbacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.catalog.streaming_replay import (
    SESSION_TIMERS_ORACLE,
    STATEFUL_TOTALS_ORACLE,
    keyed_state_replay,
    session_timers,
)
from flinkexp_spark.registry import register
from flinkexp_spark.session import memo


def workers_have_protobuf(spark: SparkSession) -> bool:
    """True if the Python workers can import google.protobuf.  One tiny
    job per SparkContext, memoized either way: the workers' PYTHONPATH was
    fixed when the JVM started, so the answer cannot change."""

    def probe(batches):
        import pandas as pd

        try:
            import google.protobuf.descriptor  # noqa: F401

            ok = 1
        except Exception:
            ok = 0
        for _ in batches:
            yield pd.DataFrame({"ok": [ok]})

    def run() -> bool:
        rows = spark.range(1).mapInPandas(probe, "ok long").collect()
        return bool(rows and rows[0][0] == 1)

    return memo(spark, "workers_have_protobuf", run)


def _tws_or_fallback(spark: SparkSession, tws, fallback):
    """``(transform, state_provider)`` for a T7 query: the tws transform on
    RocksDB (multi-column-family state exists only there) when driver and
    workers can import protobuf, else the fallback on the replay's default
    provider."""
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf

    if ensure_protobuf() and workers_have_protobuf(spark):
        return tws, "rocksdb"
    return fallback, None


def _map_totals_agg(stream: DataFrame) -> DataFrame:
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return stream.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("cents")
    )


@register(
    "stream_map_state_totals_tws",
    oracle="""
        SELECT user_id, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY user_id, event_type
    """,
    tags=("T7",),
)
def q_stream_map_state_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 MapState: per-user per-event-type running totals through the
    forward API's ``MapState`` primitive (Flink MapState analog,
    study/pom.xml:72) — a state shape ``applyInPandasWithState`` cannot
    express (single-value GroupState).  When workers lack protobuf the
    same contract runs as a watermarkless streaming groupBy aggregation
    (update mode), which is its relational equivalent.
    """
    from flinkexp_spark.streaming.stateful import map_totals_tws_transform

    events = datasets.load(spark, sf_dir, "events")
    return keyed_state_replay(
        spark,
        events,
        *_tws_or_fallback(spark, map_totals_tws_transform, _map_totals_agg),
    )


def _recent_agg(stream: DataFrame) -> DataFrame:
    # streaming-compatible equivalent for the single-batch replay: ranking
    # windows are not allowed on streams, so sort each key's collected
    # (ts, event_id) pairs in a groupBy aggregation and slice the top 3
    pairs = F.struct(F.col("ts"), F.col("event_id"))
    top = stream.groupBy("user_id").agg(
        F.reverse(F.array_sort(F.collect_list(pairs))).alias("all")
    )
    return top.select(
        "user_id",
        F.posexplode(F.slice(F.col("all"), 1, 3)).alias("pos", "p"),
    ).select(
        "user_id",
        (F.col("pos") + 1).alias("slot"),
        F.col("p.event_id").alias("event_id"),
    )


@register(
    "stream_list_state_recent_tws",
    # last-3 events per user by (ts, event_id) DESC, slot 1 = newest
    oracle="""
        WITH r AS (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS slot
            FROM events)
        SELECT user_id, CAST(slot AS BIGINT) AS slot, event_id
        FROM r WHERE slot <= 3
    """,
    tags=("T7",),
)
def q_stream_list_state_recent_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 ListState: per-user last-3 event buffer through the forward
    API's ``ListState`` primitive (Flink ListState analog,
    study/pom.xml:72) — the CEP-lookback state shape.  When workers lack
    protobuf the same contract runs as a collect_list + sort + slice
    aggregation — correct for the bounded replay contract but it
    materializes each key's full event list, so the tws path (constant
    N-row state per key) is the only 100 TB-safe variant; the fallback
    exists for capability parity, not scale."""
    from flinkexp_spark.streaming.stateful import recent_events_tws_transform

    events = datasets.load(spark, sf_dir, "events")
    return keyed_state_replay(
        spark,
        events,
        *_tws_or_fallback(spark, recent_events_tws_transform, _recent_agg),
    )


@register(
    "stream_stateful_bootstrap_tws",
    # full-table totals, restricted to users that appear in the STREAMED
    # half (odd event_id) — users living only in the savepoint have no
    # batch-1 input row and correctly emit nothing in update mode
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events GROUP BY user_id
        HAVING SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) >= 1
    """,
    tags=("T7", "T10"),
)
def q_stream_stateful_bootstrap_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/T10 state BOOTSTRAP: seed per-user totals state from a batch
    "savepoint" table (the even-event_id half, pre-aggregated), then
    stream the odd half on top via ``initialState`` +
    ``handleInitialState`` — Flink's State Processor API / savepoint
    bootstrap, the capability that lets an engine migration carry its
    state.  Emitted totals = savepoint + streamed = whole-table oracle.

    When workers lack protobuf, the same totals fold runs through
    ``applyInPandasWithState`` with the savepoint collected into a
    closure-carried ``seed`` dict (per-user table: MBs at any scale) that
    each key's first batch starts from.
    """
    from flinkexp_spark.streaming.stateful import (
        bootstrapped_totals_tws_transform,
        running_totals_transform,
    )

    events = datasets.load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    savepoint = (
        events.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("cents"),
            F.count("value").alias("nn"),
        )
    )

    def from_savepoint(stream: DataFrame) -> DataFrame:
        seed = {
            int(r.user_id): (int(r.n), int(r.cents or 0), int(r.nn))
            for r in savepoint.collect()
        }
        return running_totals_transform(stream, seed=seed)

    return keyed_state_replay(
        spark,
        events.filter(F.col("event_id") % 2 == 1),
        *_tws_or_fallback(
            spark, bootstrapped_totals_tws_transform(savepoint), from_savepoint
        ),
    )


@register(
    "stream_session_timers_tws",
    oracle=SESSION_TIMERS_ORACLE,
    tags=("T7", "T4", "T5"),
)
def q_stream_session_timers_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 timers on the forward API: explicit ``registerTimer`` /
    ``deleteTimer`` / ``handleExpiredTimer`` sessionization — the literal
    Flink ``KeyedProcessFunction`` + ``onTimer`` shape
    (study/pom.xml:72) — when the workers can reach the protobuf
    state-server; otherwise the same contract through
    ``applyInPandasWithState`` + EventTimeTimeout (stream_session_timers).
    """
    from flinkexp_spark.streaming.stateful import (
        sessionize_tws_transform,
        stateful_sessionize,
    )

    return session_timers(
        spark,
        sf_dir,
        *_tws_or_fallback(spark, sessionize_tws_transform, stateful_sessionize),
    )


@register("stream_stateful_totals_tws", oracle=STATEFUL_TOTALS_ORACLE, tags=("T7",))
def q_stream_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (forward API): per-user running totals through a typed
    ``StatefulProcessor`` with RocksDB ValueState — Flink
    KeyedProcessFunction's closest Spark analog (study/pom.xml:72) — when
    the workers can reach the protobuf state-server IPC; otherwise the
    same contract through ``applyInPandasWithState``
    (stream_stateful_count).

    Money accumulates in integer cents (exact, order-independent); a
    single-batch replay makes the emitted update-mode rows the final
    totals.
    """
    from flinkexp_spark.streaming.stateful import (
        running_totals_transform,
        running_totals_tws_transform,
    )

    events = datasets.load(spark, sf_dir, "events")
    return keyed_state_replay(
        spark,
        events,
        *_tws_or_fallback(
            spark, running_totals_tws_transform, running_totals_transform
        ),
    )
