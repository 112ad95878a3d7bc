"""T7 forward path: ``transformWithStateInPandas`` (Spark 4's successor to
``applyInPandasWithState``), capability-probed.

The state-server IPC needs ``google.protobuf`` importable ON THE WORKERS.
Whether that holds depends on the launching process (PYTHONPATH is captured
at JVM start — see compat/protobuf_shim.py), so the query probes the actual
worker environment with a one-row mapInPandas job and falls back to the
dependency-free ``applyInPandasWithState`` implementation when the probe
fails.  Both paths carry the identical per-key (count, cents) contract, so
the oracle is the same either way — the probe selects an execution engine,
never a semantic.

Registered AFTER the round-3 official window (see catalog/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.registry import register
from flinkexp_spark.streaming.replay import replay

_PROBE_CACHE: dict[str, bool] = {}


def workers_have_protobuf(spark: SparkSession) -> bool:
    """True if the Python workers can import google.protobuf (one tiny job;
    only True is memoized — a False re-probes, so an environment fixed
    after the first check self-heals at the cost of one small job per
    fallback query)."""
    app_id = spark.sparkContext.applicationId
    if _PROBE_CACHE.get(app_id):
        return True

    def probe(batches):
        import pandas as pd

        try:
            import google.protobuf.descriptor  # noqa: F401

            ok = 1
        except Exception:
            ok = 0
        for _ in batches:
            yield pd.DataFrame({"ok": [ok]})

    rows = spark.range(1).mapInPandas(probe, "ok long").collect()
    result = bool(rows and rows[0][0] == 1)
    if result:
        _PROBE_CACHE[app_id] = True
    return result


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
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.streaming.stateful import map_totals_tws_transform

    use_tws = ensure_protobuf() and workers_have_protobuf(spark)
    events = datasets.load(spark, sf_dir, "events")

    if use_tws:
        transform = map_totals_tws_transform
    else:

        def transform(stream):
            cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            return stream.groupBy("user_id", "event_type").agg(
                F.count("*").alias("n"), F.sum(cents).alias("cents")
            )

    return replay(
        spark,
        events,
        transform,
        output_mode="update",
        use_checkpoint=True,
        no_data_batches=False,
        state_provider="rocksdb" if use_tws else None,
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
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.streaming.stateful import recent_events_tws_transform

    use_tws = ensure_protobuf() and workers_have_protobuf(spark)
    events = datasets.load(spark, sf_dir, "events")

    if use_tws:
        transform = recent_events_tws_transform
    else:

        def transform(stream):
            # streaming-compatible equivalent for the single-batch replay:
            # foreachBatch-free ranking is not allowed on streams, so rank
            # inside applyInPandas-style batch semantics via groupBy agg
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

    return replay(
        spark,
        events,
        transform,
        output_mode="update",
        use_checkpoint=True,
        no_data_batches=False,
        state_provider="rocksdb" if use_tws else None,
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

    When workers lack protobuf, the same bootstrap runs through
    ``applyInPandasWithState`` with the savepoint shipped as a
    closure-carried dict (per-user table: MBs at any scale) seeding each
    key's first-batch state.
    """
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.streaming.stateful import bootstrapped_totals_tws_transform

    use_tws = ensure_protobuf() and workers_have_protobuf(spark)
    events = datasets.load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    savepoint = (
        events.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    )
    streamed = events.filter(F.col("event_id") % 2 == 1)

    if use_tws:
        transform = bootstrapped_totals_tws_transform(savepoint)
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        from flinkexp_spark.streaming.stateful import (
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            to_cents,
        )

        sp_map = {
            int(r.user_id): (int(r.n), int(r.cents)) for r in savepoint.collect()
        }

        def transform(stream):
            def totals(key, pdfs, state):
                import pandas as pd

                if state.exists:
                    n, c = state.get
                else:
                    n, c = sp_map.get(int(key[0]), (0, 0))
                for pdf in pdfs:
                    n += len(pdf)
                    c += int(to_cents(pdf["value"]).sum())
                state.update((n, c))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "n_events": [n], "value_cents": [c]}
                )

            return stream.groupBy("user_id").applyInPandasWithState(
                totals,
                OUTPUT_SCHEMA,
                STATE_SCHEMA,
                "update",
                GroupStateTimeout.NoTimeout,
            )

    return replay(
        spark,
        streamed,
        transform,
        output_mode="update",
        use_checkpoint=True,
        no_data_batches=False,
        state_provider="rocksdb" if use_tws else None,
    )


@register(
    "stream_session_timers_tws",
    # identical contract (and oracle) to stream_session_timers: batch
    # gaps-and-islands over (user, ts) with a 30-minute gap
    oracle="""
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
    """,
    tags=("T7", "T4", "T5"),
)
def q_stream_session_timers_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 timers on the forward API: explicit ``registerTimer`` /
    ``deleteTimer`` / ``handleExpiredTimer`` sessionization — the literal
    Flink ``KeyedProcessFunction`` + ``onTimer`` shape
    (study/pom.xml:72) — when the workers can reach the protobuf
    state-server; otherwise the same contract through
    ``applyInPandasWithState`` + EventTimeTimeout.

    Sessions close in-band (gap-exceeding event) or by timer (watermark
    passes last_event + gap); a far-future sentinel drives the final
    no-data micro-batch that fires the remaining timers.
    """
    from datetime import datetime

    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.streaming.stateful import (
        sessionize_tws_transform,
        stateful_sessionize,
    )

    use_tws = ensure_protobuf() and workers_have_protobuf(spark)
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
        sessionize_tws_transform if use_tws else stateful_sessionize,
        output_mode="append",
        n_files=2,
        order_col="ts",
        sentinel_df=sentinel,
        state_provider="rocksdb" if use_tws else None,
    )
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_stateful_totals_tws",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events GROUP BY user_id
    """,
    tags=("T7",),
)
def q_stream_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (forward API): per-user running totals through a typed
    ``StatefulProcessor`` with RocksDB ValueState — Flink
    KeyedProcessFunction's closest Spark analog (study/pom.xml:72) — when
    the workers can reach the protobuf state-server IPC; otherwise the
    same contract through ``applyInPandasWithState``.

    Money accumulates in integer cents (exact, order-independent); a
    single-batch replay makes the emitted update-mode rows the final
    totals.
    """
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf
    from flinkexp_spark.streaming.stateful import (
        running_totals_transform,
        running_totals_tws_transform,
    )

    use_tws = ensure_protobuf() and workers_have_protobuf(spark)
    events = datasets.load(spark, sf_dir, "events")
    return replay(
        spark,
        events,
        running_totals_tws_transform if use_tws else running_totals_transform,
        output_mode="update",
        use_checkpoint=True,
        no_data_batches=False,
        # multi-column-family state (tws) exists only on RocksDB
        state_provider="rocksdb" if use_tws else None,
    )
