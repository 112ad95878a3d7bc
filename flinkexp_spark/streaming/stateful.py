"""T7: custom stateful per-key processing (SURVEY §2.2 T7).

Reference analog: Flink's ``KeyedProcessFunction`` with RocksDB keyed state
(declared via flink-statebackend-rocksdb, study/pom.xml:72).  Two Spark
realizations carry each contract: ``applyInPandasWithState`` (one GroupState
value per key, event-time timeouts) and Spark 4's
``transformWithStateInPandas`` (typed Value/Map/List state, explicit timers;
it needs protobuf on the workers, see catalog/streaming_tws.py).  The state
store is chosen per bounded replay (streaming/replay.py): replays run on the
in-memory provider, and the tws transforms pass ``state_provider="rocksdb"``,
the only provider with the column families they need.

Each contract has one implementation that both APIs call: ``fold_totals``
is the per-key (count, cents) fold and ``sessionize_batch`` the gap-session
kernel.

Money is accumulated in integer CENTS, not floats: state updates must be
exact and order-independent (a float running sum would drift per partition
ordering and break exactly-once replay equivalence).  Beside each cents sum
the state counts the non-null amounts, so a key or session whose every
amount is null emits null cents, as SQL ``SUM`` does (:func:`sql_sums`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
    ]
)
STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("nn", LongType()),  # non-null amounts folded
    ]
)


def to_cents(values) -> np.ndarray:
    """Amounts -> int64 cents, rounded half away from zero like the oracles'
    ``round(v * 100, 0)`` (pandas' ``.round()`` is half-even).  A null
    amount counts 0 cents, so a sum over the result skips it as SQL ``SUM``
    does; it is never cast, since a NaN cast to int64 is INT64_MIN.  The
    folds count non-null amounts beside that sum (:func:`sql_sums`).

    A ``transformWithStateInPandas`` processor imports this module's helpers
    inside its handler methods: Spark's pre-init runner unpickles the
    processor in a driver-side Python process that never gets the shipped
    package archive, so the class must not reference package code as a
    global."""
    x = np.asarray(values, dtype="float64") * 100
    return np.nan_to_num(np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")


def sql_sums(cents, nn):
    """Cents sums as a nullable int64 column: null where ``nn``, the count
    of non-null amounts summed, is 0 — SQL ``SUM`` over only nulls."""
    import pandas as pd

    return pd.array([c if k else None for c, k in zip(cents, nn)], dtype="Int64")


def fold_totals(key, prev, pdfs):
    """Fold one key's batch into its running ``(n, cents, nn)`` totals
    (``STATE_SCHEMA``), starting from ``prev`` (zero when None).  Returns
    the new totals and the one-row ``OUTPUT_SCHEMA`` frame that emits
    them."""
    import pandas as pd

    n, cents, nn = prev if prev is not None else (0, 0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(to_cents(pdf["value"]).sum())
        nn += int(pdf["value"].notna().sum())
    return (n, cents, nn), pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_cents": sql_sums([cents], [nn]),
        }
    )


def running_totals_transform(stream: DataFrame, seed=None) -> DataFrame:
    """T7 per-user running (count, cents) totals through
    ``applyInPandasWithState``, emitted for every key each batch.  ``seed``
    maps a user_id to the totals its key starts from (a savepoint); other
    keys start at zero."""
    seed = seed or {}

    def running_totals(key, pdfs, state):
        prev = state.get if state.exists else seed.get(int(key[0]))
        totals, out = fold_totals(key, prev, pdfs)
        state.update(totals)
        yield out

    return stream.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_tws_transform(
    stream: DataFrame, initial_state: DataFrame | None = None
) -> DataFrame:
    """T7 on the Spark 4 ``transformWithStateInPandas`` API (the successor
    of applyInPandasWithState): typed per-key ValueState managed by a
    StatefulProcessor, RocksDB-backed, with timer support.

    Same contract as :func:`running_totals_transform`.  ``initial_state``
    holds (user_id, n, cents, nn) savepoint rows that seed each key's state
    in batch 0 (``handleInitialState``).

    CAPABILITY-GATED: the state-server IPC needs ``google.protobuf`` on
    driver AND workers (compat/protobuf_shim.py bridges the host SDK's
    runtime when pip protobuf is absent).  The registered queries probe the
    worker environment and fall back to :func:`running_totals_transform`
    when the probe fails (catalog/streaming_tws.py).
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState("totals", STATE_SCHEMA)

        def handleInitialState(self, key, initialState, timerValues):
            # one pandas row group per key from the initialState plan
            self._state.update(
                tuple(int(initialState[c].sum()) for c in ("n", "cents", "nn"))
            )

        def handleInputRows(self, key, rows, timerValues):
            # imported here, not used as a global: see to_cents
            from flinkexp_spark.streaming.stateful import fold_totals

            # get() is None when the key has no state: one state-server
            # round trip, not an exists() probe plus a get()
            totals, out = fold_totals(key, self._state.get(), rows)
            self._state.update(totals)
            yield out

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
        initialState=None
        if initial_state is None
        else initial_state.groupBy("user_id"),
    )


def bootstrapped_totals_tws_transform(initial_state_df):
    """T7 state bootstrap on the forward API: the Flink savepoint-bootstrap
    analog (State Processor API).  Migrate an engine by materializing its
    state as a table and resuming the stream on top of it.

    ``initial_state_df`` carries (user_id, n, cents, nn) "savepoint" rows; the
    returned transform is :func:`running_totals_tws_transform` seeded from
    them, so the totals emitted per batch equal savepoint + streamed.
    """
    return lambda stream: running_totals_tws_transform(stream, initial_state_df)


# --- T7 with TIMERS: per-key sessionization -----------------------------------

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", StringType()),
        StructField("n_events", LongType()),
        StructField("cents", LongType()),
        StructField("duration_s", LongType()),
    ]
)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_ns", LongType()),
        StructField("last_ns", LongType()),
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("nn", LongType()),
    ]
)
SESSION_GAP_S = 1800


def session_frame(key, spans):
    """ONE ``SESSION_OUT_SCHEMA`` frame for a key's closed sessions, each a
    (start_ns, last_ns, n, cents, nn) span.  One frame per invocation (guide
    §4.2): a 1-row frame plus a scalar strftime per session was the
    handlers' dominant cost at sf1.  np.floor(x/1e9) reproduces the old
    math.floor(ns/1e9) float64 semantics bit-for-bit."""
    import pandas as pd

    s = np.array([x[0] for x in spans], dtype="int64")
    e = np.array([x[1] for x in spans], dtype="int64")
    return pd.DataFrame(
        {
            "user_id": [key[0]] * len(spans),
            "session_start": pd.Series(s.astype("datetime64[ns]")).dt.strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            "n_events": [x[2] for x in spans],
            "cents": sql_sums([x[3] for x in spans], [x[4] for x in spans]),
            "duration_s": (np.floor(e / 1e9) - np.floor(s / 1e9)).astype("int64"),
        }
    )


def sessionize_batch(key, cur, pdfs):
    """The T7 gap-session kernel for one key's micro-batch.

    Sorts the batch by (ts, event_id), splits it where consecutive events
    are more than ``SESSION_GAP_S`` apart, and stitches the first run onto
    the carried session ``cur`` (a (start_ns, last_ns, n, cents, nn) span,
    or None).  Returns the session left open (None only for an empty batch
    with nothing carried) and the :func:`session_frame` of the sessions it
    closed (None when none closed)."""
    import pandas as pd

    # One key's batch arrives as multiple Arrow chunks in ARRIVAL order,
    # not time order — one lexsort over the concatenated arrays, else
    # chunk boundaries split or merge sessions nondeterministically.
    # Memory = this key's rows in this batch (bounded by batch size, not
    # stream length).
    chunks = list(pdfs)
    whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    closed = []
    if len(whole):
        gap_ns = SESSION_GAP_S * 1_000_000_000
        ts = whole["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
        order = np.lexsort((whole["event_id"].to_numpy(), ts))
        t = ts[order]
        v = whole["value"].to_numpy()[order]
        c = to_cents(v)
        k = ~np.isnan(v.astype("float64"))  # non-null amounts
        # vectorized gaps-and-islands within the batch; the carried state
        # stitches across batches
        brk = np.empty(len(t), dtype=bool)
        brk[0] = cur is None or (t[0] - cur[1]) > gap_ns
        brk[1:] = (t[1:] - t[:-1]) > gap_ns
        starts = np.flatnonzero(brk)
        ends = np.append(starts[1:], len(t))
        if brk[0] and cur is not None:
            # the batch's first row exceeds the gap: the carried session
            # closes now
            closed.append(cur)
            cur = None
        if not brk[0]:
            # rows [0, first break) continue the carried session
            cont = int(starts[0]) if len(starts) else len(t)
            cur = (
                cur[0],
                max(cur[1], int(t[cont - 1])),  # chunks can arrive
                # time-interleaved within a batch; last must not regress
                cur[2] + cont,
                cur[3] + int(c[:cont].sum()),
                cur[4] + int(k[:cont].sum()),
            )
            if len(starts):  # a later break closes the carried session
                closed.append(cur)
                cur = None
        for i, (s, e) in enumerate(zip(starts, ends)):
            span = (
                int(t[s]),
                int(t[e - 1]),
                int(e - s),
                int(c[s:e].sum()),
                int(k[s:e].sum()),
            )
            if i < len(starts) - 1:
                closed.append(span)
            else:
                cur = span  # the last span stays open for the next batch
    return cur, (session_frame(key, closed) if closed else None)


def stateful_sessionize(stream: DataFrame) -> DataFrame:
    """T7 with event-time TIMERS: gap-based sessionization through
    ``applyInPandasWithState`` + ``EventTimeTimeout`` — the full Flink
    ``KeyedProcessFunction`` surface (keyed state AND registered timers,
    the part NoTimeout operators don't exercise).

    Sessions close two ways, both exercised: in-band (a new event arrives
    after the gap -> emit the closed session immediately) and by TIMER (the
    watermark passes last_event + gap with no new data -> ``hasTimedOut``
    fires and flushes the open session).  State per key is one 5-long
    struct; the timeout timestamp re-arms on every update, so state never
    outlives gap + lateness — O(active keys), stream-length independent.
    """

    def sessions(key, pdfs, state):
        if state.hasTimedOut:
            span = state.get
            state.remove()
            yield session_frame(key, [span])
            return
        cur, out = sessionize_batch(key, state.get if state.exists else None, pdfs)
        state.update(cur)
        # re-arm the event-time timer: fire when the watermark passes the
        # session's gap horizon (ms epoch, per the GroupState API)
        state.setTimeoutTimestamp(cur[1] // 1_000_000 + SESSION_GAP_S * 1000)
        if out is not None:
            yield out

    return (
        stream.withWatermark("ts", "1 second")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessions,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# state for the tws sessionizer: the session struct plus the armed
# timer's expiry (ms) so stale timers can be deleted before re-arming
SESSION_TWS_STATE_SCHEMA = StructType(
    [*SESSION_STATE_SCHEMA.fields, StructField("timer_ms", LongType())]
)


def sessionize_tws_transform(stream: DataFrame) -> DataFrame:
    """T7 timers on the FORWARD API: gap sessionization through
    ``transformWithStateInPandas`` with EXPLICIT timer management —
    ``handle.registerTimer`` / ``deleteTimer`` re-armed per event batch and
    ``handleExpiredTimer`` flushing the open session when the watermark
    passes its gap horizon.  This is the literal Flink
    ``KeyedProcessFunction`` shape (``ctx.timerService()
    .registerEventTimeTimer`` + ``onTimer``), one step more explicit than
    :func:`stateful_sessionize`'s EventTimeTimeout.

    Same contract as :func:`stateful_sessionize` (identical oracle, same
    :func:`sessionize_batch` kernel).  Capability-gated like
    :func:`running_totals_tws_transform`.
    """
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Sessionizer(StatefulProcessor):
        def init(self, handle):
            self._handle = handle
            self._state = handle.getValueState("session", SESSION_TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            # imported here, not used as a global: see to_cents
            from flinkexp_spark.streaming.stateful import sessionize_batch

            cur = None
            prev = self._state.get()  # None when absent: one IPC, not two
            if prev is not None:
                cur = tuple(prev[:5])
                # the armed timer is stale the moment new data arrives
                self._handle.deleteTimer(prev[5])
            cur, out = sessionize_batch(key, cur, rows)
            if cur is not None:
                # re-arm: fire when the watermark passes the gap horizon
                timer_ms = cur[1] // 1_000_000 + SESSION_GAP_S * 1000
                self._handle.registerTimer(timer_ms)
                self._state.update((*cur, timer_ms))
            if out is not None:
                yield out

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # No deleteTimer here: PySpark 4.1 removes each expired timer
            # right after this hook returns (stateful_processor_util.py), and
            # a redundant delete logs a TimerStateImpl WARN per firing.
            # Stale timers are deleted on every update, so a firing timer is
            # the live horizon: flush the open session.
            from flinkexp_spark.streaming.stateful import session_frame

            prev = self._state.get()  # None when absent: one IPC, not two
            if prev is not None:
                self._state.clear()
                yield session_frame(key, [prev[:5]])

    return (
        stream.withWatermark("ts", "1 second")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=Sessionizer(),
            outputStructType=SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


MAP_TOTALS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("cents", LongType()),
    ]
)


def map_totals_tws_transform(stream: DataFrame) -> DataFrame:
    """T7 MapState on the forward API: per-user ``MapState[event_type ->
    (n, cents)]`` — Flink's ``MapState`` keyed-state primitive
    (study/pom.xml:72), which applyInPandasWithState cannot express (its
    GroupState is a single value).  Each batch updates the per-type slots
    it touched and emits every slot's running totals (update mode);
    single-batch replay -> the emitted rows are the final per-(user, type)
    totals.

    Scale: state per user is O(distinct event types), and only touched
    slots serialize per batch — the point of MapState over a value-typed
    dict blob.  Capability-gated like the other tws transforms.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class MapTotals(StatefulProcessor):
        def init(self, handle):
            self._m = handle.getMapState(
                "totals", "event_type string", "n long, cents long, nn long"
            )

        def handleInputRows(self, key, rows, timerValues):
            # imported here, not used as globals: see to_cents
            from flinkexp_spark.streaming.stateful import sql_sums, to_cents

            for pdf in rows:
                g = pd.DataFrame(
                    {
                        "event_type": pdf["event_type"],
                        "cents": to_cents(pdf["value"]),
                        "nn": pdf["value"].notna().astype("int64"),
                    }
                ).groupby("event_type", sort=False)
                for etype, grp in g:
                    k = (str(etype),)
                    n0, c0, nn0 = (
                        self._m.getValue(k) if self._m.containsKey(k) else (0, 0, 0)
                    )
                    self._m.updateValue(
                        k,
                        (
                            n0 + len(grp),
                            c0 + int(grp["cents"].sum()),
                            nn0 + int(grp["nn"].sum()),
                        ),
                    )
            slots = [(k[0], *v) for k, v in self._m.iterator()]
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(slots),
                    "event_type": [s[0] for s in slots],
                    "n": [s[1] for s in slots],
                    "cents": sql_sums([s[2] for s in slots], [s[3] for s in slots]),
                }
            )

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=MapTotals(),
        outputStructType=MAP_TOTALS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


RECENT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("slot", LongType()),
        StructField("event_id", LongType()),
    ]
)
RECENT_N = 3


def recent_events_tws_transform(stream: DataFrame) -> DataFrame:
    """T7 ListState on the forward API: per-user bounded buffer of the
    RECENT_N latest (ts, event_id) — Flink's ``ListState`` primitive
    (study/pom.xml:72), the state shape behind CEP lookback and
    "last-N actions" features.  Each batch appends its events, truncates
    to the N latest by (ts, event_id), and emits the buffer with slot
    ranks (1 = newest); single-batch replay -> final last-N per user.

    Scale: state per key is a constant N rows — the buffer IS the bound.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class RecentEvents(StatefulProcessor):
        def init(self, handle):
            self._buf = handle.getListState("recent", "ts_ns long, event_id long")

        def handleInputRows(self, key, rows, timerValues):
            items = (
                [tuple(r) for r in self._buf.get()] if self._buf.exists() else []
            )
            for pdf in rows:
                t = pdf["ts"].to_numpy().astype("datetime64[ns]").astype("int64")
                items.extend(zip(t.tolist(), pdf["event_id"].tolist()))
            items.sort(reverse=True)  # newest first by (ts, event_id)
            items = items[:RECENT_N]
            self._buf.put([(int(t), int(e)) for t, e in items])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "slot": list(range(1, len(items) + 1)),
                    "event_id": [e for _, e in items],
                }
            )

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RecentEvents(),
        outputStructType=RECENT_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("ewma", DoubleType()),
    ]
)


def ewma_transform(stream: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming per-key EWMA with O(1) state — the unbounded twin of the
    batch ordered-fold (catalog/windows.q_window_ewma_per_user): state is
    ONE (count, ewma) pair per key; each batch folds its rows in
    (ts, event_id) order on top of the carried value.  Equivalent to the
    batch fold whenever micro-batches arrive time-ordered (the replay rig
    guarantees it; a production job gets it from watermarked sources).
    """

    def ewma(key, pdfs, state):
        import pandas as pd

        n, acc = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for v in pdf["value"].to_numpy():
                acc = acc * (1 - alpha) + float(v) * alpha
                n += 1
        state.update((n, acc))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "ewma": [round(acc, 6)]}
        )

    state_schema = StructType(
        [StructField("n", LongType()), StructField("ewma", DoubleType())]
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        ewma,
        EWMA_OUTPUT_SCHEMA,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
