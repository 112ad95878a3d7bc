"""Bounded-replay rig for streaming operators (SURVEY §5.2).

The reference's program is an unbounded streaming job (StreamSocket.scala:13-16).
Its operators are made *testable* by replaying a bounded fixture through the
real Structured Streaming path: fixture rows -> parquet files on disk ->
``spark.readStream`` -> transform -> sink, driven to completion with the
``availableNow`` trigger.  Final state is then comparable against batch SQL
(the DuckDB oracle) — same contract SURVEY §2.1 declares for the rolling
aggregate: *final* totals match; per-record emission cadence is micro-batch.

Key mechanics:

* ``n_files`` > 1 splits the input into time-ordered files and sets
  ``maxFilesPerTrigger=1`` so the replay runs as MULTIPLE micro-batches —
  this is what makes watermark advancement observable (the watermark is
  recomputed between batches, never within one).  File order is pinned via
  mtimes (the file source processes oldest-first).
* A sentinel (a far-future row) goes in as the LAST ``extra_files``
  entry, so the final watermark passes every real window's end —
  append-mode windowed aggs then emit all real windows.  Callers filter
  the sentinel's own window out.
* ``sink`` is ``"memory"`` (the memory sink's table), ``"files"`` (a
  foreachBatch parquet append read back, for input-sized outputs) or a
  ``foreachBatch`` writer ``(df, epoch_id) -> None``.
* ``scratch_dir`` is the one way to get a workspace: input files,
  checkpoints and sinks live in a per-call directory under ``SCRATCH_ROOT``
  and are removed when the call returns.  Every stream the engine starts
  names a ``checkpointLocation`` there: a query started without one gets a
  ``temporary-*`` checkpoint under the JVM's ``java.io.tmpdir``, which
  Spark deletes by forking ``rm -rf`` when the query stops.
* Staging copies what it need not rewrite: a part that is an unmodified
  ``datasets.load`` frame over a single-file table is copied byte for byte
  into the replay input (``shutil.copyfile``, a new inode, so pinning the
  copy's mtime leaves the fixture and its cached schema alone); every
  other part (time splits, sentinels, derived frames) is written by a
  ``coalesce(1)`` Spark job.
* Replay checkpoints go through Hadoop's ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``), set only inside the
  replay-scoped conf context.  Without a native Hadoop library every
  rename through Spark's default ``FileContext`` manager forks
  ``readlink``: timed in the driver JVM on a 4-core host, a rename took
  31 ms that way and 0.9 ms through ``FileSystem``.  Each
  micro-batch renames its offsets and commit files, every state
  partition's delta and the checksum file of each.  The ``FileSystem``
  manager is only as safe as the target file system's rename; a replay
  checkpoint is local, has one writer and is deleted when the call
  returns, and a local ``rename(2)`` is atomic.  Hadoop ``.crc`` files and
  Spark's checkpoint checksum files are written and verified either way.
  Streaming jobs outside the rig keep the session's default manager.
* File creates and ``mkdirs`` no longer fork ``chmod``: a ``get_session``
  session with a local master sets permissions through java.nio
  (``compat/jvm``, see ``session.py``), which took a warm
  ``stream_wordcount_update`` replay from 41 ``chmod`` forks (5-7 ms
  each) to none.  A session built elsewhere still forks them.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from flinkexp_spark.datasets import fixture_file


def _scratch_root() -> str:
    """Scratch filesystem for replay inputs/checkpoints/sinks.

    Everything written here is throwaway (created and deleted within one
    query call).  A tmpfs is used when the host has one, but the medium is
    not where a replay's fixed cost goes: with the root on ``/dev/shm``
    or on a virtual disk, ``stream_wordcount_update`` at sf0.1 took
    1.64 vs 1.73 s (median of 3 sessions each, 4-core host; sessions
    ranged 1.3-2.7 s).  The per-file cost is Hadoop's: without a native
    library it forks ``readlink`` for every ``FileContext`` rename, which
    is why replay checkpoints use the ``FileSystem``-API manager, and the
    stock local file system forks ``chmod`` for every file create, which
    is why ``get_session`` swaps in a java.nio one (module docstring).
    `SPARK_GRAFT_SCRATCH`
    overrides the root (point it at a real disk if the fixtures outgrow
    RAM — replay scratch is fixture-sized, MBs).
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "flinkexp_scratch")
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".tmp",
    )


SCRATCH_ROOT = _scratch_root()

# Stateful-operator parallelism for bounded replays.  The shuffle-partition
# count is baked into a streaming checkpoint at first start and fixes the
# number of state-store instances per operator — it should track STATE
# SIZE, not the session's batch shuffle width.  Fixture replays carry tiny
# state, and per-instance open/commit overhead dominates: measured at
# sf0.1, 8 partitions run the windowed replays ~2x faster than 32, and on a
# 4-core host 4 partitions beat 8 (stream_wordcount_update 0.81 s vs
# 0.98 s).  So a replay uses one instance per core, at most 8.  On a real
# cluster, size this to keep per-instance state in memory
# (state_bytes / ~1 GB), NOT to the batch width.
_MAX_STREAM_PARTITIONS = 8

# State-store provider for BOUNDED REPLAYS only.  A replay's state is tiny
# (fixture-sized) and its checkpoint is fresh + throwaway, so the in-memory
# HDFSBackedStateStoreProvider is the right choice: measured ~35% faster
# end-to-end than RocksDB at sf0.01 (RocksDB pays native-instance open +
# changelog commit per partition per batch).  Long-running streaming jobs
# keep the session default (RocksDBStateStoreProvider, see
# ``session.get_session``), which spills keyed state to disk instead of
# OOMing; a replay that needs RocksDB (transformWithStateInPandas: multiple
# state column families) passes ``state_provider="rocksdb"``.
_PROVIDERS = {
    "memory": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


# Checkpoint file manager for BOUNDED REPLAYS only (module docstring):
# Hadoop FileSystem-API creates and renames instead of FileContext ones.
_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


class _stream_partitions:
    """Replay-scoped session conf: shuffle partitions sized to fixture state
    (one state-store instance per core, at most _MAX_STREAM_PARTITIONS,
    not the batch width), the throwaway-checkpoint state provider and the
    FileSystem-API checkpoint manager.  Restores on exit, unsetting keys
    that had no value before."""

    def __init__(
        self,
        spark: SparkSession,
        state_provider: str | None = None,
        no_data_batches: bool = True,
    ):
        self.spark = spark
        parts = min(_MAX_STREAM_PARTITIONS, spark.sparkContext.defaultParallelism)
        self.keys = {
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.streaming.stateStore.providerClass": _PROVIDERS[
                state_provider or "memory"
            ],
            "spark.sql.streaming.checkpointFileManagerClass": _CHECKPOINT_MANAGER,
        }
        if not no_data_batches:
            # Skip the trailing zero-row micro-batch.  Only set by replays
            # whose OUTPUT cannot depend on it: complete mode (last data
            # batch already re-emitted the whole table), update mode (a
            # no-data batch has no changed keys to emit), and eager
            # append operators (inner stream-stream joins, dropDuplicates)
            # that emit on arrival.  Append windowed aggregates, outer
            # joins, and timer-based emission NEED the no-data batch — the
            # watermark from the last data file only takes effect after
            # that batch — and must keep the default.  The batch is pure
            # overhead for the safe classes: its state-eviction commit
            # rewrites every buffered row into a state-store delta
            # (measured 2.4 s of the 3.5 s stream_window_join replay).
            self.keys["spark.sql.streaming.noDataMicroBatches.enabled"] = (
                "false"
            )

    def __enter__(self):
        self.saved = {k: self.spark.conf.get(k, None) for k in self.keys}
        for k, v in self.keys.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


@contextlib.contextmanager
def scratch_dir(tag: str):
    """Self-cleaning scratch directory under SCRATCH_ROOT — THE shared
    write-then-read-back workspace for source/sink queries (one place for
    naming, creation, and cleanup policy)."""
    path = os.path.join(SCRATCH_ROOT, f"{tag}_{uuid.uuid4().hex[:12]}")
    os.makedirs(path, exist_ok=True)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _stage(spark: SparkSession, parts: list[DataFrame], work: str):
    """Write ``parts`` as replay input files under ``work`` and return the
    ``readStream`` reader that replays them one file per micro-batch.

    Each part becomes one parquet file in its own directory.  A part that
    is an unmodified ``datasets.load`` frame over a single-file table is
    copied (no Spark job); every other part is a ``coalesce(1)`` write.
    Those writes are independent single-task jobs, so several are
    submitted concurrently: the next part's write back-fills the scheduler
    while the previous one commits (guide §2.6 — overlap independent
    jobs); a single write runs on the calling thread.  File mtimes are
    then pinned oldest-first, because the file source replays in mtime
    order."""
    input_dir = os.path.join(work, "input")
    writes = []
    for i, p in enumerate(parts):
        fdir = os.path.join(input_dir, f"f{i:04d}")
        src = fixture_file(p)
        if src is None:
            writes.append((fdir, p))
        else:
            os.makedirs(fdir)
            shutil.copyfile(src, os.path.join(fdir, os.path.basename(src)))

    def _write_part(fdir: str, p: DataFrame) -> None:
        p.coalesce(1).write.mode("overwrite").parquet(fdir)

    if len(writes) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(writes))) as pool:
            list(pool.map(lambda w: _write_part(*w), writes))
    elif writes:
        _write_part(*writes[0])
    now = time.time()
    for i in range(len(parts)):
        ts = now - (len(parts) - i) * 10
        for root, _, files in os.walk(os.path.join(input_dir, f"f{i:04d}")):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))
    return (
        spark.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(input_dir, "f*"))
    )


def replay(
    spark: SparkSession,
    source_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    n_files: int = 1,
    order_col: str | None = None,
    extra_files: list[DataFrame] | None = None,
    state_provider: str | None = None,
    sink: str | Callable[[DataFrame, int], None] = "memory",
    no_data_batches: bool = True,
) -> DataFrame | None:
    """Replay ``source_df`` (then each ``extra_files`` frame, one file
    each) through Structured Streaming and drain ``transform``'s output
    into ``sink``; the query's checkpoint is ``<work>/checkpoint``.

    ``sink="memory"`` returns the memory sink's table and ``"files"`` a
    foreachBatch parquet append read back (pick it for INPUT-SIZED
    outputs, see drain_file_sink), both materialized batch DataFrames.  A
    callable is a ``foreachBatch`` writer ``(df, epoch_id) -> None`` (an
    external store, a per-batch capture); then nothing is returned.
    """
    parts = _time_split(source_df, n_files, order_col) + list(extra_files or [])
    with scratch_dir("replay") as work:
        out = transform(_stage(spark, parts, work))
        with _stream_partitions(
            spark, state_provider=state_provider, no_data_batches=no_data_batches
        ):
            if sink == "memory":
                return drain_memory_sink(
                    spark, out, os.path.join(work, "checkpoint"), output_mode
                )
            if sink == "files":
                return drain_file_sink(spark, out, work, output_mode)
            _drain_foreach_batch(out, sink, work, output_mode)
            return None


def _drain_foreach_batch(
    out: DataFrame,
    writer: Callable[[DataFrame, int], None],
    work: str,
    output_mode: str,
) -> None:
    """Run ``out`` to completion through ``writer``, checkpointed at
    ``<work>/checkpoint``."""
    (
        out.writeStream.foreachBatch(writer)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .start()
        .awaitTermination()
    )


def drain_memory_sink(
    spark: SparkSession,
    out: DataFrame,
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> DataFrame:
    """Run a streaming frame to completion through a uuid-named memory
    sink, checkpointed at ``checkpoint``, and return the materialized
    result (THE shared drain: one place for sink naming, trigger choice,
    and guaranteed temp-view cleanup).

    ``available_now=True`` is right for file-backed replays (the trigger
    drains everything then stops).  Custom Python stream sources need
    ``available_now=False``: availableNow snapshots one offset step of a
    SimpleDataSourceStreamReader, so the drain instead runs a continuous
    trigger and blocks on ``processAllAvailable``.
    """
    name = f"sink_{uuid.uuid4().hex[:12]}"
    writer = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime="0 seconds")
    )
    try:
        q = writer.start()
        try:
            if available_now:
                q.awaitTermination()
            else:
                q.processAllAvailable()
        finally:
            if not available_now:
                q.stop()
        # Materialize before dropping the sink table.
        rows = spark.table(name).collect()
    finally:
        # drop even when the stream fails: the session is long-lived and
        # every leaked sink_* view stays registered until it dies
        spark.catalog.dropTempView(name)
    from flinkexp_spark.datasets import local_df

    return local_df(spark, rows, out.schema)


def drain_file_sink(
    spark: SparkSession, out: DataFrame, work: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming frame through a foreachBatch parquet APPEND into
    ``<work>/out`` and return the read-back result, materialized
    executor-side.

    The memory sink ships every output row through the driver twice
    (streaming ingest + local_df rebuild) — fine for per-batch aggregate
    rows, quadratic pain for INPUT-SIZED emission contracts
    (stream_wordcount_per_record: 2.76 M rows at sf1, ~9 s of pure driver
    ingest).  Here each micro-batch writes its rows in parallel on the
    executors; in update mode the parquet append IS the memory sink's
    semantics (the memory sink also appends each batch's update rows).
    The result is localCheckpoint-ed (executor block storage) so the
    scratch files can be deleted before returning."""
    outdir = os.path.join(work, "out")
    os.makedirs(outdir)
    # Complete mode re-emits the WHOLE result table every batch, so the
    # parquet write must REPLACE, not append — overwrite-per-batch is
    # exactly the memory sink's complete semantics (last table wins).
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def append_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode(write_mode).parquet(outdir)

    _drain_foreach_batch(out, append_batch, work, output_mode)
    return spark.read.schema(out.schema).parquet(outdir).localCheckpoint(eager=True)


def _time_split(
    source_df: DataFrame, n_files: int, order_col: str | None
) -> list[DataFrame]:
    """ntile-style split by order_col quantiles (cast to double so
    timestamps work), computed driver-side on the bounds only (fixture
    scale); keeps files time-ordered."""
    if n_files <= 1:
        return [source_df]
    if order_col is None:
        raise ValueError("n_files > 1 requires order_col for the time split")
    fracs = ",".join(str((i + 1) / n_files) for i in range(n_files - 1))
    bounds = source_df.selectExpr(
        f"percentile(cast({order_col} as double), array({fracs})) as b"
    ).collect()[0]["b"]
    prev = None
    from pyspark.sql import functions as F

    ocol = F.col(order_col).cast("double")
    parts = []
    for i in range(n_files):
        cond = None
        if prev is not None:
            cond = ocol > F.lit(prev)
        if i < n_files - 1:
            upper = ocol <= F.lit(bounds[i])
            cond = upper if cond is None else (cond & upper)
            prev = bounds[i]
        parts.append(source_df if cond is None else source_df.filter(cond))
    return parts


class ReplayMetricsListener(StreamingQueryListener):
    """StreamingQueryListener that accumulates per-micro-batch progress —
    the observability rig the r09 verdict asks for (#5): rows per batch,
    state-store size, watermark progression, processing rate.

    Listener events arrive ASYNCHRONOUSLY after each batch commits; read
    the accumulators once ``terminated`` is set (:func:`capture_stream_metrics`
    waits for it), since the listener bus delivers a query's termination
    after all of its progress.  The deterministic aggregates exposed
    here (input-row total, non-empty batch count, final state rows, final
    watermark, emitted-row total) are exactly the ones a SQL oracle can
    re-derive from the fixture; wall-clock-dependent rates
    (processedRowsPerSecond, durationMs) are collected too but asserted
    only for presence/positivity in tests — hashing them would pin noise.
    """

    def __init__(self) -> None:
        self.progresses: list[dict] = []
        # Listener callbacks fire for EVERY streaming query on the session;
        # without scoping, a concurrent stream would pollute the hashed
        # deterministic accumulators (round-11 ADVICE).  The collector binds
        # to ONE query id, the first query that starts after attach.
        # Progress from any other id is dropped.
        self._target_id: str | None = None
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        # delivered before start() returns, so the first start binds
        if self._target_id is None:
            self._target_id = str(event.id)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        if self._target_id is not None and str(p.get("id")) != self._target_id:
            return
        self.progresses.append(p)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if str(event.id) == self._target_id:
            self.terminated.set()

    @property
    def input_rows_total(self) -> int:
        return sum(int(p.get("numInputRows") or 0) for p in self.progresses)

    @property
    def nonempty_batches(self) -> int:
        return sum(1 for p in self.progresses if (p.get("numInputRows") or 0) > 0)

    @property
    def sink_rows_total(self) -> int:
        return sum(
            int((p.get("sink") or {}).get("numOutputRows") or 0)
            for p in self.progresses
        )

    def _final(self) -> dict:
        return max(self.progresses, key=lambda p: p["batchId"])

    @property
    def final_state_rows(self) -> int:
        ops = self._final().get("stateOperators") or []
        return sum(int(o.get("numRowsTotal") or 0) for o in ops)

    @staticmethod
    def _watermark_ms(progress: dict) -> int:
        import datetime as _dt

        wm = (progress.get("eventTime") or {}).get("watermark")
        if not wm:
            return 0
        ts = _dt.datetime.fromisoformat(wm.replace("Z", "+00:00"))
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return (ts - epoch) // _dt.timedelta(milliseconds=1)

    @property
    def final_watermark_ms(self) -> int:
        """Final event-time watermark as epoch milliseconds (UTC)."""
        return self._watermark_ms(self._final())

    @property
    def watermarks_ms(self) -> list[int]:
        """Each batch's event-time watermark (epoch ms, UTC), in batch order."""
        return [
            self._watermark_ms(p)
            for p in sorted(self.progresses, key=lambda p: p["batchId"])
        ]

    @property
    def rates(self) -> list[float]:
        """processedRowsPerSecond per batch — wall-clock-bound, test-only."""
        return [
            float(p.get("processedRowsPerSecond") or 0.0)
            for p in self.progresses
        ]


@contextlib.contextmanager
def capture_stream_metrics(spark: SparkSession):
    """Attach a :class:`ReplayMetricsListener` for the duration of a replay;
    on a clean exit, wait until the bound query's termination (so all of
    its progress) has been delivered.

    Usage::

        with capture_stream_metrics(spark) as metrics:
            replay(spark, df, transform)
        metrics.input_rows_total, metrics.final_watermark_ms, ...
    """
    collector = ReplayMetricsListener()
    spark.streams.addListener(collector)
    try:
        yield collector
        if collector._target_id is not None and not collector.terminated.wait(60):
            raise TimeoutError(
                f"listener saw no termination of query {collector._target_id}"
            )
    finally:
        spark.streams.removeListener(collector)
