"""Flink DataStream-API adapter: the reference's fluent surface over
Structured Streaming.

The reference's entire executable program is one method chain
(StreamSocket.scala:12-16)::

    env.socketTextStream("10.0.0.249", 8887)
       .flatMap(_.split(" ")).map((_, 1)).keyBy(0).sum(1).print()
    env.execute("Test")

This module lets that user port their program 1:1::

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    (env.socket_text_stream("10.0.0.249", 8887)
        .flat_map("split(value, ' ')")          # or a Python callable
        .map(["_0 AS word", "1 AS one"])        # or lambda w: (w, 1)
        .key_by(0)
        .sum(1)
        .print())
    env.execute("Test")

Design (SURVEY §3.1): the chain builds a Catalyst logical plan exactly as
Flink's chain builds a StreamTransformation DAG — nothing runs until
``execute()``, which plays ``env.execute``'s role of submitting the job
(here: ``writeStream.start()``).  ``key_by`` marks the hash-partition
boundary; the downstream ``sum`` becomes a stateful streaming aggregate, so
the only network crossing is the groupBy Exchange — the same single
shuffle the reference's ``keyBy`` declares.

Two expression paths, chosen per call:

* **str / list-of-str** (SQL expressions) — stays JVM-side in whole-stage
  codegen; this is the fast path and what the scale rule requires.
* **Python callable** — Arrow-batched ``mapInPandas`` with per-element
  semantics, exactly PyFlink's Python ``flat_map``/``map`` contract
  (PyFlink also requires the ``output_type`` declaration).

Tuple fields are positional: ``key_by(0)`` / ``sum(1)`` resolve against
the current column order, Flink ``Tuple`` parity.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from flinkexp_spark.session import get_session
from flinkexp_spark.sources.connectors import rate_source, socket_source

ExprOrFn = Union[str, "list[str]", Callable]


class StreamExecutionEnvironment:
    """``StreamExecutionEnvironment.getExecutionEnvironment`` analog
    (StreamSocket.scala:12): owns the session and the declared sinks;
    ``execute()`` submits them."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sinks: list[Callable[[], object]] = []
        self._checkpoint_root: str | None = None

    def enable_checkpointing(self, checkpoint_dir: str) -> "StreamExecutionEnvironment":
        """Flink ``env.enableCheckpointing`` analog: every sink started by
        ``execute()`` gets a checkpointLocation under ``checkpoint_dir``
        (one subdir per sink), so offsets + state-store snapshots persist
        and a restarted job resumes exactly-once from the last commit —
        Spark's checkpoint recovery contract (exercised end-to-end by
        stream_tumbling_checkpointed / tests/test_streaming.py T10)."""
        self._checkpoint_root = checkpoint_dir
        return self

    @classmethod
    def get_execution_environment(
        cls, spark: SparkSession | None = None
    ) -> "StreamExecutionEnvironment":
        return cls(spark or get_session(app_name="flinkexp_datastream"))

    # -- sources ------------------------------------------------------------
    def socket_text_stream(self, host: str, port: int) -> "DataStream":
        """The reference's source (socketTextStream, StreamSocket.scala:13)."""
        return DataStream(self, socket_source(self.spark, host, port))

    def rate_stream(self, rows_per_second: int = 100) -> "DataStream":
        return DataStream(self, rate_source(self.spark, rows_per_second))

    def from_data_frame(self, df: DataFrame) -> "DataStream":
        """Wrap any DataFrame (streaming or batch) — the replay/testing
        entry, and the bridge from the Table side (Flink's
        ``toDataStream``)."""
        return DataStream(self, df)

    # -- job submission -----------------------------------------------------
    def execute(self, job_name: str = "job", available_now: bool = False) -> list:
        """Submit every declared sink (env.execute, StreamSocket.scala:16).

        Returns the started ``StreamingQuery`` handles (batch sinks run to
        completion inline and contribute no handle).  ``available_now=True``
        drains bounded sources and terminates — the replay/testing trigger;
        the default runs continuously like the reference job.
        """
        handles = []
        for submit in self._sinks:
            h = submit(job_name, available_now)
            if h is not None:
                handles.append(h)
        self._sinks.clear()
        return handles


class DataStream:
    """A logical stream: a DataFrame plus the fluent operator surface."""

    def __init__(self, env: StreamExecutionEnvironment, df: DataFrame):
        self.env = env
        self.df = df

    # -- helpers ------------------------------------------------------------
    def _resolve(self, field: int | str) -> str:
        return self.df.columns[field] if isinstance(field, int) else field

    def _python_rows(self, f: Callable, flat: bool, output_type: str) -> DataFrame:
        n_in = len(self.df.columns)
        from pyspark.sql.types import StructType

        # parse via the real DDL parser — a naive comma split mangles
        # parameterized types like decimal(10,2) or map<string,long>
        out_names = [fld.name for fld in StructType.fromDDL(output_type).fields]

        def run(batches):
            import pandas as pd

            for pdf in batches:
                out = []
                for row in pdf.itertuples(index=False):
                    v = row[0] if n_in == 1 else tuple(row)
                    if flat:
                        for o in f(v):
                            out.append(o if isinstance(o, tuple) else (o,))
                    else:
                        o = f(v)
                        out.append(o if isinstance(o, tuple) else (o,))
                if out:
                    yield pd.DataFrame(out, columns=out_names)

        return self.df.mapInPandas(run, schema=output_type)

    # -- operators (E2-E4) --------------------------------------------------
    def flat_map(self, f: ExprOrFn, output_type: str = "_0 string") -> "DataStream":
        """E2 (``flatMap``, StreamSocket.scala:15): 1->N elements.

        str form: a SQL ARRAY expression, exploded JVM-side (codegen).
        callable form: ``f(element) -> iterable`` via Arrow batches
        (PyFlink contract; ``output_type`` is the declared result schema).
        """
        if isinstance(f, str):
            name = output_type.split()[0]
            out = self.df.select(F.explode(F.expr(f)).alias(name))
            return DataStream(self.env, out)
        return DataStream(self.env, self._python_rows(f, True, output_type))

    def map(self, f: ExprOrFn, output_type: str = "_0 string") -> "DataStream":
        """E3 (``map``): 1->1.  str-list form = SQL projections (codegen);
        callable form = Arrow batches, tuples allowed."""
        if isinstance(f, (list, tuple)):
            return DataStream(self.env, self.df.selectExpr(*f))
        if isinstance(f, str):
            return DataStream(self.env, self.df.selectExpr(f))
        return DataStream(self.env, self._python_rows(f, False, output_type))

    def filter(self, predicate: str) -> "DataStream":
        return DataStream(self.env, self.df.filter(predicate))

    def key_by(self, *fields: int | str) -> "KeyedStream":
        """E4 (``keyBy``): declares the hash-partition boundary — the chain's
        single shuffle, realized as the groupBy Exchange downstream."""
        return KeyedStream(self.env, self.df, [self._resolve(x) for x in fields])

    def union(self, *others: "DataStream") -> "DataStream":
        """Flink ``union``: merge same-schema streams; no shuffle (narrow)."""
        df = self.df
        for o in others:
            df = df.unionByName(o.df)
        return DataStream(self.env, df)

    def assign_watermark(self, on: str, delay: str) -> "DataStream":
        """Flink ``assignTimestampsAndWatermarks(forBoundedOutOfOrderness)``:
        declare ``on`` as the event-time column with ``delay`` allowed
        disorder.  No-op on batch DataFrames (bounded mode)."""
        if self.df.isStreaming:
            return DataStream(self.env, self.df.withWatermark(on, delay))
        return self

    def rebalance(self, n: int) -> "DataStream":
        """Flink ``rebalance``: redistribute evenly across ``n`` subtasks —
        a full round-robin shuffle (use after a skew-producing filter)."""
        return DataStream(self.env, self.df.repartition(n))

    def rescale(self, n: int) -> "DataStream":
        """Flink ``rescale``: reduce parallelism WITHOUT a network shuffle
        (local merge only) — Spark's narrow ``coalesce``."""
        return DataStream(self.env, self.df.coalesce(n))

    def connect(self, other: "DataStream") -> "DataStream":
        """Flink ``connect`` (CoProcessFunction feed): merge two
        differently-shaped streams into one keyed stream, each row tagged
        with its side (``__side`` = 0/1) and missing columns NULL-padded —
        the standard Spark composition for two-input keyed operators: a
        downstream ``key_by(...).process(fn)`` sees both sides' rows per
        key and branches on the tag, exactly ``processElement1/2``."""
        left = self.df.withColumn("__side", F.lit(0))
        right = other.df.withColumn("__side", F.lit(1))
        return DataStream(
            self.env, left.unionByName(right, allowMissingColumns=True)
        )

    def connect_broadcast(
        self,
        rules_loader: Callable[[], DataFrame],
        process: Callable[[DataFrame, DataFrame], DataFrame],
    ) -> "DataStream":
        """Flink ``BroadcastProcessFunction``: a slow-changing rule/config
        side broadcast to every task of the main stream.

        Spark realization: the rule side is a CALLABLE re-evaluated at plan
        time and broadcast into the main stream's plan —
        ``process(main_df, broadcast(rules_df))`` builds the combined
        DataFrame (typically a broadcast join or a filter against the rule
        set).  In streaming, stream-static joins re-read the static side
        per micro-batch, so rule updates between batches take effect at
        the next batch — exactly Flink's processing-time broadcast-state
        cadence; for per-batch explicit reload semantics route through
        ``sink_foreach_batch`` instead.  ``rules_loader`` rather than a
        DataFrame so the caller controls snapshot freshness.
        """
        rules = rules_loader()
        out = process(self.df, F.broadcast(rules))
        return DataStream(self.env, out)

    # -- sinks (E6) ---------------------------------------------------------
    def print(self) -> "DataStream":
        """E6 (``print``): console sink; update cadence mirrors the
        reference's per-record rolling emission (SURVEY §2.1)."""
        return self._add_sink("console", None)

    def sink_memory(self, name: str, output_mode: str | None = None) -> "DataStream":
        """Named in-memory table sink (testing twin of ``print``).

        Default mode is ``complete`` (final per-key state — right for the
        aggregated chains this adapter mirrors); non-aggregated streaming
        chains must pass ``output_mode="append"`` or ``"update"`` (Spark
        rejects complete without an aggregation)."""
        return self._add_sink("memory", name, output_mode)

    def sink_parquet(
        self,
        path: str,
        partition_by: list[str] | None = None,
        output_mode: str = "append",
    ) -> "DataStream":
        """Production file sink: parquet (hive-partitioned when
        ``partition_by`` is given).  Streaming writes are exactly-once under
        checkpointing (file-sink manifest); batch writes run inline at
        ``execute()``."""
        df = self.df
        cols = list(partition_by or [])

        # capture the sink's ordinal NOW: evaluated inside the closure at
        # execute() time, len(_sinks) is the FINAL count and every sink of a
        # kind would share one checkpoint dir (state/offset collision).
        sink_idx = len(self.env._sinks)

        def submit(job_name: str, available_now: bool):
            if not df.isStreaming:
                w = df.write.mode("overwrite")
                if cols:
                    w = w.partitionBy(*cols)
                w.parquet(path)
                return None
            w = df.writeStream.format("parquet").outputMode(output_mode)
            if cols:
                w = w.partitionBy(*cols)
            w = w.option("path", path)
            if available_now:
                w = w.trigger(availableNow=True)
            root = self.env._checkpoint_root
            import os as _os

            ckpt = (
                _os.path.join(root, f"pq{sink_idx}")
                if root is not None
                else _os.path.join(path, "_checkpoint")
            )
            w = w.option("checkpointLocation", ckpt)
            return w.start()

        self.env._sinks.append(submit)
        return self

    def sink_foreach_batch(
        self, writer: Callable, output_mode: str = "update"
    ) -> "DataStream":
        """Custom per-micro-batch sink (``foreachBatch``): the escape hatch
        that attaches Flink-style side outputs and external stores to the
        fluent chain — e.g. ``streaming.late_data.LateRowRouter`` (OutputTag
        / allowed-lateness parity, T5) or ``sources.connectors.kv_sink``
        (S7).  ``writer(df, epoch)`` must be idempotent per epoch for
        exactly-once with checkpointing.  Batch DataFrames invoke the
        writer once with epoch 0."""
        df = self.df
        sink_idx = len(self.env._sinks)  # see sink_parquet: bind NOW

        def submit(job_name: str, available_now: bool):
            if not df.isStreaming:
                writer(df, 0)
                return None
            w = df.writeStream.foreachBatch(writer).outputMode(output_mode)
            if available_now:
                w = w.trigger(availableNow=True)
            root = self.env._checkpoint_root
            if root is not None:
                import os as _os

                w = w.option(
                    "checkpointLocation",
                    _os.path.join(root, f"feb{sink_idx}"),
                )
            return w.start()

        self.env._sinks.append(submit)
        return self

    def _add_sink(
        self, fmt: str, name: str | None, output_mode: str | None = None
    ) -> "DataStream":
        df = self.df
        mode = output_mode or ("update" if fmt == "console" else "complete")
        sink_idx = len(self.env._sinks)  # see sink_parquet: bind NOW

        def submit(job_name: str, available_now: bool):
            if not df.isStreaming:
                if fmt == "console":
                    df.show(truncate=False)
                else:
                    df.createOrReplaceTempView(name)
                return None
            writer = df.writeStream.format(fmt).outputMode(mode)
            if name:
                writer = writer.queryName(name)
            if available_now:
                writer = writer.trigger(availableNow=True)
            root = self.env._checkpoint_root
            if root is not None:
                import os as _os

                writer = writer.option(
                    "checkpointLocation",
                    _os.path.join(root, name or f"sink{sink_idx}"),
                )
            return writer.start()

        self.env._sinks.append(submit)
        return self


class KeyedStream:
    """Post-``keyBy`` stream: aggregates run per key with streaming state."""

    def __init__(self, env: StreamExecutionEnvironment, df: DataFrame, keys: list[str]):
        self.env = env
        self.df = df
        self.keys = keys
        self._window = None

    def _groups(self) -> list:
        """GroupBy columns incl. the declared window (the ONE place the
        window()->aggregate contract lives; every keyed aggregate uses it
        so a declared window can never be silently dropped)."""
        return ([self._window] if self._window is not None else []) + self.keys

    def _flatten_window(self, out: DataFrame, tail: list[str]) -> DataFrame:
        if self._window is None:
            return out
        return out.select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *self.keys,
            *tail,
        )

    def _no_window(self, op: str) -> None:
        if self._window is not None:
            raise NotImplementedError(
                f"KeyedStream.{op} does not support a declared window(); "
                "apply the window via sum/min/max/min_by/max_by/count, or "
                "window inside process() state logic"
            )

    def _agg(self, field: int | str, agg) -> DataStream:
        col = self.df.columns[field] if isinstance(field, int) else field
        out = self.df.groupBy(*self._groups()).agg(agg(col).alias(col))
        return DataStream(self.env, self._flatten_window(out, [col]))

    def window(
        self,
        size: str,
        slide: str | None = None,
        session_gap: str | None = None,
        on: str = "ts",
        watermark: str | None = None,
    ) -> "KeyedStream":
        """Flink keyed windows (TumblingEventTimeWindows / Sliding / Session
    ``.of(...)``): the window becomes an extra grouping key, so the
        downstream ``sum``/``count`` is a windowed streaming aggregate.

        ``watermark`` (e.g. ``"1 hour"``) bounds state exactly like
        Flink's allowed lateness: closed windows are dropped once the
        watermark passes.  Session windows use the native
        ``session_window`` merge.
        """
        df = self.df
        if watermark and df.isStreaming:
            df = df.withWatermark(on, watermark)
        if session_gap is not None:
            win = F.session_window(F.col(on), session_gap)
        elif slide is not None:
            win = F.window(F.col(on), size, slide)
        else:
            win = F.window(F.col(on), size)
        ks = KeyedStream(self.env, df, self.keys)
        ks._window = win.alias("window")
        return ks

    def sum(self, field: int | str) -> DataStream:
        """E5 (``sum``): per-key rolling sum — a stateful streaming aggregate
        whose state is one long per key (SURVEY §2.1 contract: final totals
        match batch; cadence is micro-batch updates)."""
        return self._agg(field, F.sum)

    def min(self, field: int | str) -> DataStream:
        return self._agg(field, F.min)

    def max(self, field: int | str) -> DataStream:
        return self._agg(field, F.max)

    def interval_join(
        self,
        other: "KeyedStream",
        on: str,
        other_on: str | None = None,
        lower: str = "INTERVAL 10 MINUTES",
        upper: str = "INTERVAL 0 MINUTES",
        prefix: str = "r_",
    ) -> DataStream:
        """Flink ``KeyedStream.intervalJoin(other).between(lower, upper)``:
        rows join when keys match and ``other.ts`` lies in
        ``[ts - lower, ts + upper]``.

        Both sides must carry watermarks (``assign_watermark``) when
        streaming — the time-range condition then bounds each side's
        buffered state exactly as Flink's interval join advertises
        (eviction at watermark passage).  Right-side columns are prefixed
        to avoid collisions.
        """
        other_on = other_on or on
        right = other.df
        for c in right.columns:
            right = right.withColumnRenamed(c, f"{prefix}{c}")
        key_cond = None
        for lk, rk in zip(self.keys, [f"{prefix}{k}" for k in other.keys]):
            c = F.col(lk) == F.col(rk)
            key_cond = c if key_cond is None else (key_cond & c)
        r_on = F.col(f"{prefix}{other_on}")
        time_cond = (r_on >= F.col(on) - F.expr(lower)) & (
            r_on <= F.col(on) + F.expr(upper)
        )
        out = self.df.join(right, key_cond & time_cond, "inner")
        return DataStream(self.env, out)

    def reduce(self, f: Callable) -> DataStream:
        """Flink ``KeyedStream.reduce``: rolling per-key combine of the
        non-key fields with an arbitrary Python ``f(acc_tuple, row_tuple)
        -> tuple``.

        Streaming: ``applyInPandasWithState`` — state is ONE reduced tuple
        per key (Flink's ReducingState bound exactly), emitted per batch in
        update cadence.  Batch: ``applyInPandas`` fold per key.  For
        deterministic results across partition orderings, ``f`` should be
        commutative+associative — the same caveat Flink documents.
        """
        self._no_window("reduce")
        df, keys = self.df, self.keys
        fields = {fld.name: fld for fld in df.schema.fields}
        vals = [c for c in df.columns if c not in keys]
        from pyspark.sql.types import StructType

        schema = StructType([fields[c] for c in keys + vals])

        if df.isStreaming:
            state_schema = StructType([fields[c] for c in vals])

            def step(key, pdfs, state):
                import pandas as pd

                acc = tuple(state.get) if state.exists else None
                for pdf in pdfs:
                    for row in pdf[vals].itertuples(index=False):
                        t = tuple(row)
                        acc = t if acc is None else f(acc, t)
                if acc is not None:
                    state.update(acc)
                    yield pd.DataFrame([tuple(key) + acc], columns=keys + vals)

            out = df.groupBy(*keys).applyInPandasWithState(
                step,
                schema,
                state_schema,
                "update",
                GroupStateTimeout.NoTimeout,
            )
        else:

            def fold(pdf):
                import pandas as pd

                acc = None
                for row in pdf[vals].itertuples(index=False):
                    t = tuple(row)
                    acc = t if acc is None else f(acc, t)
                key = tuple(pdf[keys].iloc[0])
                return pd.DataFrame([key + acc], columns=keys + vals)

            out = df.groupBy(*keys).applyInPandas(fold, schema)
        return DataStream(self.env, out)

    def process(
        self,
        func: Callable,
        output_schema,
        state_schema,
        output_mode: str = "update",
        timeout: str = GroupStateTimeout.NoTimeout,
    ) -> DataStream:
        """Flink ``KeyedProcessFunction`` seam: raw ``applyInPandasWithState``
        passthrough — keyed state + (with ``GroupStateTimeout
        .EventTimeTimeout``) event-time timers, exactly the pairing
        stream_session_timers uses (streaming/stateful.py)."""
        self._no_window("process")
        out = self.df.groupBy(*self.keys).applyInPandasWithState(
            func, output_schema, state_schema, output_mode, timeout
        )
        return DataStream(self.env, out)

    def min_by(self, field: int | str) -> DataStream:
        """Flink ``minBy``: the whole ROW holding the per-key minimum of
        ``field`` (vs ``min``, which takes just the value).  Realized as
        ``min_by(struct, ord)`` — map-side combinable, one struct of state
        per key, no per-key sort."""
        return self._row_by(field, F.min_by)

    def max_by(self, field: int | str) -> DataStream:
        """Flink ``maxBy``: the whole ROW holding the per-key maximum."""
        return self._row_by(field, F.max_by)

    def _row_by(self, field: int | str, agg) -> DataStream:
        col = self.df.columns[field] if isinstance(field, int) else field
        vals = [c for c in self.df.columns if c not in self.keys]
        row = F.struct(*vals)
        out = self.df.groupBy(*self._groups()).agg(
            agg(row, F.col(col)).alias("__row")
        )
        flat = [F.col(f"__row.{c}").alias(c) for c in vals]
        if self._window is None:
            out = out.select(*self.keys, *flat)
        else:
            out = out.select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                *self.keys,
                *flat,
            )
        return DataStream(self.env, out)

    def count(self) -> DataStream:
        out = self.df.groupBy(*self._groups()).agg(
            F.count("*").alias("count")
        )
        return DataStream(self.env, self._flatten_window(out, ["count"]))
