"""S5: the Kafka SOURCE/SINK CONTRACT over a file-backed partitioned log.

The reference declares Kafka at study/pom.xml:82-88 and delegates all
broker I/O to the vendor connector jar.  This sandbox has neither the
spark-sql-kafka jar nor a broker, so the wire protocol cannot run — but
everything the ENGINE owns about Kafka semantics can, and does here:

* the exact source schema Spark's Kafka connector produces
  (``key binary, value binary, topic string, partition int, offset
  bigint, timestamp timestamp, timestampType int``);
* topic → partition fan-out with the key-hash partitioner (md5-based so
  the DuckDB oracle recomputes placement arithmetically);
* per-partition monotonically increasing offsets, ``startingOffsets``
  (``earliest`` or the per-partition JSON form ``{"topic": {"0": 5}}``);
* one Spark InputPartition per topic-partition (Kafka's parallelism
  contract) for batch reads;
* the FULL streaming-source offset protocol via ``DataSourceStreamReader``
  — ``initialOffset``/``latestOffset``/``partitions(start, end)``/
  ``read``/``commit`` with per-partition offset dicts, plus a
  ``maxRecordsPerBatch`` throttle mirroring ``maxOffsetsPerTrigger`` so
  one run exercises several micro-batches;
* an exactly-once foreachBatch SINK that routes rows by key hash,
  assigns the next offsets, and dedupes replayed batch ids through a
  committed-batch ledger (the transactional-sink pattern).

The log lives at ``{path}/{topic}/p{N}.jsonl``; line number == offset.
``connectors.kafka_source`` remains the real-broker path (same calling
convention) for jar-present deployments; tests gate on jar presence.

WRITER CONTRACT (offset stability): a topic-partition's offsets are its
records' positions in (base file, then segment dirs in name order) — so
they are stable only while that enumeration is append-only.  Two rules
enforce it: (1) both base-file writers, ``produce()`` and
``kafka_log_sink``, refuse to append once any committed segment exists
(``_refuse_base_append``: a base-file grow would shift every segment
record's offset); (2) ALL segments — batch and streaming — carry a
monotonically increasing zero-padded sequence label (``_next_seq``), so
a new segment always sorts AFTER every existing one.  Streaming commits
additionally embed a ``s{checkpoint-hash}-{batchId}`` tag in the segment
name: replay of an epoch is detected by THAT tag (per-query,
published atomically with the data), never by bare batchId — a second
query with a fresh checkpoint (batchId restarting at 0) therefore
appends normally instead of silently discarding its batch.  CONCURRENT
writers to one topic are out of contract (single-writer-per-topic —
Kafka's one-leader-per-partition analog); each STREAMING query stages
under its own run-scoped dir, so overlapping queries cannot interleave
staged files even when misconfigured.
"""

from __future__ import annotations

import hashlib
import json
import os

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


def partition_for_key(key: str, n_partitions: int) -> int:
    """Deterministic key-hash partitioner (md5 — the repo's standard
    cross-engine-reproducible hash; DuckDB mirror:
    ``CAST(concat('0x', substr(md5(key), 1, 8)) AS BIGINT) % n``)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_partitions


def _refuse_base_append(path: str, topic: str, writer: str) -> None:
    """Raise if the topic has committed segments: base files enumerate
    BEFORE segments, so growing one would shift every segment record's
    offset under any checkpointed reader (silent dup/drop)."""
    topic_dir = os.path.join(path, topic)
    if os.path.isdir(topic_dir) and any(
        n.startswith("seg-") for n in os.listdir(topic_dir)
    ):
        raise ValueError(
            f"{writer} to '{topic}' rejected: topic already has committed "
            "segments; base-file appends would shift segment offsets. "
            "Write through the kafkalog writer instead."
        )


def produce(
    path: str,
    topic: str,
    records: list[tuple[str, str, int]],
    n_partitions: int = 3,
) -> None:
    """Append (key, value, ts_ms) records to the topic log in order.

    Each record lands in partition ``partition_for_key(key)``; its offset
    is the line number, so per-partition offset order == produce order —
    exactly the broker's append contract.  Refuses a topic that already
    has committed segments (``_refuse_base_append``).
    """
    _refuse_base_append(path, topic, "produce()")
    buckets: dict[int, list[str]] = {}
    for key, value, ts_ms in records:
        p = partition_for_key(key, n_partitions)
        buckets.setdefault(p, []).append(
            json.dumps({"k": key, "v": value, "ts": ts_ms})
        )
    topic_dir = os.path.join(path, topic)
    os.makedirs(topic_dir, exist_ok=True)
    for p in range(n_partitions):
        lines = buckets.get(p, [])
        with open(os.path.join(topic_dir, f"p{p}.jsonl"), "a") as f:
            for ln in lines:
                f.write(ln + "\n")


def make_kafka_log_source():
    """Build the ``kafkalog`` DataSource class."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        DataSourceStreamWriter,
        DataSourceWriter,
        InputPartition,
        WriterCommitMessage,
    )

    # LOG LAYOUT: a topic-partition's records are the concatenation of its
    # base file ``{topic}/p{N}.jsonl`` (the produce() append log) and its
    # committed SEGMENTS ``{topic}/seg-*/p{N}-*.jsonl`` in (segment dir,
    # file name) order — Kafka's own segmented-log model.  Offsets are the
    # concatenated line numbers; a segment set is immutable once its dir
    # rename commits, so the enumeration (hence every offset) is stable.
    def _topic_partitions(path: str, topic: str) -> dict[int, list[str]]:
        import os as _os

        topic_dir = _os.path.join(path, topic)
        out: dict[int, list[str]] = {}
        if not _os.path.isdir(topic_dir):
            return out
        for name in sorted(_os.listdir(topic_dir)):
            if name.startswith("p") and name.endswith(".jsonl"):
                out.setdefault(int(name[1:-6]), []).append(
                    _os.path.join(topic_dir, name)
                )
        for seg in sorted(
            n for n in _os.listdir(topic_dir) if n.startswith("seg-")
        ):
            seg_dir = _os.path.join(topic_dir, seg)
            if not _os.path.isdir(seg_dir):
                continue
            for name in sorted(_os.listdir(seg_dir)):
                if name.startswith("p") and name.endswith(".jsonl"):
                    p = int(name[1:].split("-", 1)[0])
                    out.setdefault(p, []).append(_os.path.join(seg_dir, name))
        return out

    def _line_count(files: list[str]) -> int:
        n = 0
        for fp in files:
            with open(fp, "rb") as f:
                for _ in f:
                    n += 1
        return n

    def _starting(
        options: dict, parts: dict[int, list[str]], topic: str
    ) -> dict[int, int]:
        """startingOffsets -> {partition: first offset to read}."""
        raw = options.get("startingoffsets", "earliest")
        if raw == "earliest":
            return {p: 0 for p in parts}
        if raw == "latest":
            return {p: _line_count(f) for p, f in parts.items()}
        per_topic = json.loads(raw).get(topic, {})
        return {p: int(per_topic.get(str(p), 0)) for p in parts}

    def _read_range(files: list[str], topic: str, p: int, start: int, end: int):
        # runs ON AN EXECUTOR; imports must be local
        import datetime
        import json as _json

        offset = 0
        for fp in files:
            if offset >= end:
                break
            with open(fp) as f:
                for line in f:
                    if offset >= end:
                        break
                    if offset >= start:
                        rec = _json.loads(line)
                        ts = datetime.datetime.fromtimestamp(
                            rec["ts"] / 1000.0, datetime.timezone.utc
                        ).replace(tzinfo=None)
                        yield (
                            rec["k"].encode() if rec["k"] is not None else None,
                            rec["v"].encode(),
                            topic,
                            p,
                            offset,
                            ts,
                            0,  # timestampType: CreateTime
                        )
                    offset += 1

    class _LogReader:
        """What the batch and the stream reader share: the subscribed
        topic, its options, and the per-partition line-range scan."""

        def __init__(self, options: dict):
            self.path = options["path"]
            self.topic = options["subscribe"]
            self.options = options
            self.max_per_batch = int(options.get("maxrecordsperbatch", 0))

        def read(self, partition):
            p, file_path, start, end = partition.value
            yield from _read_range(file_path, self.topic, p, start, end)

    class _BatchReader(_LogReader, DataSourceReader):
        def partitions(self):
            # one InputPartition per topic-partition — Kafka's parallelism
            # contract; offset bounds resolved driver-side (metadata only,
            # the analog of the connector's offset fetch)
            parts = _topic_partitions(self.path, self.topic)
            start = _starting(self.options, parts, self.topic)
            return [
                InputPartition((p, f, start[p], _line_count(f)))
                for p, f in sorted(parts.items())
            ]

    class _StreamReader(_LogReader, DataSourceStreamReader):
        """Full streaming offset protocol with per-partition offset dicts
        ({"0": 17, "1": 4} — the same shape Kafka checkpoints) and a
        maxRecordsPerBatch throttle (maxOffsetsPerTrigger analog)."""

        def initialOffset(self) -> dict:
            parts = _topic_partitions(self.path, self.topic)
            return {str(p): o for p, o in _starting(self.options, parts, self.topic).items()}

        def latestOffset(self) -> dict:
            # Spark 4.1 calls latestOffset() without the previous offset;
            # emulate maxOffsetsPerTrigger by keeping the last answer.
            #
            # RESTART SAFETY: the throttle state (_last) dies with the
            # reader, but the checkpoint's committed offsets do not.  A
            # rebuilt reader that trimmed its FIRST answer back toward
            # startingOffsets could return end offsets BEHIND the
            # checkpointed batch start, making Spark re-plan already-read
            # rows (duplicates in append mode).  So the first call after a
            # (re)build returns the full tail untrimmed — offsets can then
            # never regress below any prior checkpoint — and the
            # maxRecordsPerBatch throttle resumes from the second call.
            #
            # CAPACITY RISK (accepted, documented): this means a fresh or
            # restarted query over a large backlog plans its FIRST
            # micro-batch unthrottled (real maxOffsetsPerTrigger caps the
            # first batch too).  The Python DataSourceStreamReader API gives
            # latestOffset() neither the start offset nor a ReadLimit, and
            # the checkpointed commit log is not visible from here, so the
            # reader cannot distinguish "fresh query" (safe to trim against
            # initialOffset) from "restart" (trimming can regress behind the
            # checkpoint and duplicate rows).  Correctness wins; size the
            # first batch by starting near the tail or accept one large
            # batch after restart-with-backlog.
            parts = _topic_partitions(self.path, self.topic)
            tail = {p: _line_count(f) for p, f in parts.items()}
            prev = getattr(self, "_last", None)
            if prev is None:
                out = tail
            else:
                out = {}
                budget = self.max_per_batch or sum(tail.values()) + 1
                for p in sorted(tail):
                    lo = prev.get(p, 0)
                    step = min(tail[p] - lo, budget)
                    out[p] = lo + max(step, 0)
                    budget -= max(step, 0)
            self._last = out
            return {str(p): o for p, o in out.items()}

        def partitions(self, start: dict, end: dict):
            parts = _topic_partitions(self.path, self.topic)
            return [
                InputPartition((p, parts[p], int(start.get(str(p), 0)), int(e)))
                for p, e in ((int(k), v) for k, v in end.items())
                if int(e) > int(start.get(str(p), 0))
            ]

        def commit(self, end: dict) -> None:
            pass  # the log is immutable; nothing to truncate

    # ---- writers: Spark's native commit protocol ---------------------------
    # The data path never leaves the executors: each task routes its rows
    # with the same md5 key-hash partitioner, stages one file per
    # topic-partition it holds (unique task uuid — retries and speculative
    # attempts can never collide), fsyncs, and returns the staged names as
    # its WriterCommitMessage.  The driver's commit() then promotes ONLY
    # the files named by SUCCESSFUL tasks (hard-links them into a commit
    # dir, discarding strays from failed attempts) and publishes the whole
    # segment with ONE atomic directory rename — the snapshot-commit
    # pattern table formats use.  abort() removes the staging and commit
    # dirs.  The streaming writer names the segment after the micro-batch
    # id, so a replayed batch finds its segment already published and
    # skips — exactly-once across restarts with no extra ledger.

    class _StagedFiles(WriterCommitMessage):
        def __init__(self, files: list[str]):
            self.files = files

    def _route_and_stage(iterator, staging: str, n_parts: int):
        import hashlib as _hashlib
        import json as _json
        import os as _os
        import uuid as _uuid

        task = _uuid.uuid4().hex
        handles: dict[int, object] = {}
        names: list[str] = []
        _os.makedirs(staging, exist_ok=True)
        for row in iterator:
            key = row["key"]
            if key is None:
                raise ValueError("kafkalog writer requires non-null keys")
            key = key.decode() if isinstance(key, (bytes, bytearray)) else str(key)
            value = row["value"]
            value = (
                value.decode() if isinstance(value, (bytes, bytearray)) else value
            )
            p = int(_hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_parts
            f = handles.get(p)
            if f is None:
                name = f"p{p}-{task}.jsonl"
                names.append(name)
                f = handles[p] = open(_os.path.join(staging, name), "w")
            f.write(
                _json.dumps({"k": key, "v": value, "ts": int(row["ts_ms"])}) + "\n"
            )
        for f in handles.values():
            f.flush()
            _os.fsync(f.fileno())
            f.close()
        return _StagedFiles(names)

    def _publish(staging: str, topic_dir: str, label: str, messages) -> None:
        import os as _os
        import shutil as _shutil

        commit_dir = staging + ".commit"
        _os.makedirs(commit_dir, exist_ok=True)
        for m in messages:
            if m is None:
                continue
            for name in m.files:
                _os.link(
                    _os.path.join(staging, name), _os.path.join(commit_dir, name)
                )
        _os.makedirs(topic_dir, exist_ok=True)
        _os.replace(commit_dir, _os.path.join(topic_dir, f"seg-{label}"))
        _shutil.rmtree(staging, ignore_errors=True)

    def _next_seq(topic_dir: str) -> int:
        """Next monotonic sequence over EXISTING segments.

        Zero-padded in the label, so lexicographic order == numeric order:
        a fresh segment can never sort before an already-committed one —
        the offset-stability invariant the reader's enumeration relies on.
        Shared by the batch writer and the stream writer (a streaming
        query's batchId restarts at 0 under a fresh checkpoint, so the raw
        batchId cannot be the sort key).
        """
        import os as _os

        seq = 0
        if _os.path.isdir(topic_dir):
            for n in _os.listdir(topic_dir):
                if n.startswith("seg-"):
                    digits = ""
                    for ch in n[4:]:
                        if ch.isdigit():
                            digits += ch
                        else:
                            break
                    if digits:
                        seq = max(seq, int(digits))
        return seq + 1

    class _LogWriter:
        """What the batch and the stream writer share: the target topic,
        the staging dir named by ``run``, the executor-side ``write`` and
        an ``abort`` that removes the staging dir and its ``.commit``."""

        def __init__(self, options: dict, run: str):
            import os as _os

            self.path = options["path"]
            self.topic = options["topic"]
            self.n_parts = int(options.get("partitions", "3"))
            self.run = run
            self.staging = _os.path.join(self.path, f"{self.topic}.staging-{run}")

        def write(self, iterator):
            return _route_and_stage(iterator, self.staging, self.n_parts)

        def abort(self, messages, batchId: int | None = None) -> None:
            import shutil as _shutil

            _shutil.rmtree(self.staging, ignore_errors=True)
            _shutil.rmtree(self.staging + ".commit", ignore_errors=True)

    class _BatchWriter(_LogWriter, DataSourceWriter):
        def __init__(self, options: dict):
            import uuid as _uuid

            super().__init__(options, _uuid.uuid4().hex)

        def commit(self, messages):
            import os as _os

            # Segment label: next monotonic sequence (see _next_seq) plus a
            # job-uuid suffix for uniqueness.
            topic_dir = _os.path.join(self.path, self.topic)
            _publish(
                self.staging,
                topic_dir,
                f"{_next_seq(topic_dir):010d}b{self.run[:8]}",
                messages,
            )

    class _StreamWriter(_LogWriter, DataSourceStreamWriter):
        def __init__(self, options: dict):
            import hashlib as _hashlib

            # Staging is keyed by the query's CHECKPOINT identity: batchId is
            # not passed to write(), and Spark builds separate writer
            # instances for the executor write path and the driver commit,
            # so an instance-scoped uuid would not survive.  The checkpoint
            # location is in the options on both sides, stable across
            # (re)instantiations of ONE query, and distinct between two
            # concurrent queries — so neither can interleave staged files
            # into, or rmtree, the other's in-flight epoch.
            ckpt = options.get("checkpointlocation", "")
            super().__init__(options, _hashlib.md5(ckpt.encode()).hexdigest()[:12])

        def commit(self, messages, batchId: int) -> None:
            import os as _os

            topic_dir = _os.path.join(self.path, self.topic)
            # Replay detection is keyed on (query checkpoint, batchId): the
            # tag rides in the segment NAME, published atomically with the
            # data by _publish's os.replace.  A bare seg-{batchId} existence
            # check (the pre-r08 form) confused a DIFFERENT query's segment
            # for this query's replay — a second query (fresh checkpoint,
            # batchId restarting at 0) against a topic with an existing
            # seg-0000000000 would silently discard its staged batch.
            tag = f"s{self.run}-{batchId}"
            if _os.path.isdir(topic_dir) and any(
                n.startswith("seg-") and n.endswith(tag)
                for n in _os.listdir(topic_dir)
            ):  # replayed epoch — already published
                import shutil as _shutil

                _shutil.rmtree(self.staging, ignore_errors=True)
                return
            # Label: monotonic sequence first (offset stability — same rule
            # as the batch writer), then the replay tag.
            _publish(
                self.staging,
                topic_dir,
                f"{_next_seq(topic_dir):010d}{tag}",
                messages,
            )

    class KafkaLogSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "kafkalog"

        def schema(self) -> str:
            return KAFKA_SCHEMA

        def reader(self, schema):
            return _BatchReader({k.lower(): v for k, v in self.options.items()})

        def streamReader(self, schema):
            return _StreamReader({k.lower(): v for k, v in self.options.items()})

        def writer(self, schema, overwrite: bool):
            if overwrite:
                raise ValueError("kafkalog is append-only (a log); use mode('append')")
            return _BatchWriter({k.lower(): v for k, v in self.options.items()})

        def streamWriter(self, schema, overwrite: bool):
            return _StreamWriter({k.lower(): v for k, v in self.options.items()})

    return KafkaLogSource


def register_kafka_log_source(spark) -> None:
    spark.dataSource.register(make_kafka_log_source())


def kafka_log_sink(
    path: str, topic: str, n_partitions: int = 3, ts_col: str = "ts_ms"
):
    """Exactly-once Kafka-pattern sink as a foreachBatch writer.

    EXECUTOR-SIDE data path (no driver row materialization): rows are
    routed by the md5 key-hash partitioner as a Spark expression,
    shuffled once on the route (``repartition(n, "partition")`` puts each
    topic-partition's rows in exactly one task), and each task STAGES its
    partitions' records as files under the batch's staging dir —
    write-to-temp + atomic rename, so task retries and speculative
    attempts are harmless.  Expects (key string non-null, value string,
    ts_ms long) columns.  Like ``produce()`` it appends to the base files,
    so it refuses a topic that already has committed segments.

    The COMMIT is the two-phase transactional-sink recipe (idempotent
    producer + committed-epoch fencing), crash-safe at every boundary:

    1. a ``{topic}.pending`` marker records the batch id and each
       partition log's pre-commit byte length (written temp+rename, so
       the marker itself is atomic);
    2. a second executor job appends each staged file to its partition
       log AFTER truncating the log back to the recorded pre-length —
       truncate-then-append makes the promotion idempotent, so a crash or
       retry mid-append can never double-write (this heals the torn
       window the old append-then-ledger sequence left open);
    3. the batch id is appended to the ``{topic}.batches`` ledger and the
       marker/staging are cleared.  A replayed batch id returns early; a
       pending marker for an unledgered batch is rolled back (truncate to
       its pre-lengths) before anything else runs.

    On a real deployment ``path`` is shared storage (the same contract the
    vendor Kafka sink has for its brokers); in local mode the local FS
    plays that role.
    """

    def write_batch(df, batch_id: int) -> None:
        import shutil

        _refuse_base_append(path, topic, "kafka_log_sink")
        topic_dir = os.path.join(path, topic)
        ledger = os.path.join(path, topic + ".batches")
        pending = os.path.join(path, topic + ".pending")
        staging_root = os.path.join(path, topic + ".staging")
        os.makedirs(topic_dir, exist_ok=True)

        done: set[int] = set()
        if os.path.exists(ledger):
            with open(ledger) as f:
                done = {int(x) for x in f.read().split() if x}

        def _log_file(p: int) -> str:
            return os.path.join(topic_dir, f"p{p}.jsonl")

        # Recovery: a leftover marker means the previous run died inside
        # the commit window.  If its batch made the ledger the data is
        # good (only cleanup was lost); otherwise roll the logs back to
        # the recorded pre-lengths — the batch never committed.
        if os.path.exists(pending):
            with open(pending) as f:
                marker = json.load(f)
            if marker["batch_id"] not in done:
                for p_str, pre in marker["lengths"].items():
                    lf = _log_file(int(p_str))
                    if os.path.exists(lf) and os.path.getsize(lf) > pre:
                        with open(lf, "r+b") as f:
                            f.truncate(pre)
            os.remove(pending)
        shutil.rmtree(staging_root, ignore_errors=True)

        if batch_id in done:
            return  # replayed after restart — already committed

        # ---- Phase 1: route + stage on the executors --------------------
        from pyspark.sql import functions as F

        staging = os.path.join(staging_root, str(batch_id))
        os.makedirs(staging, exist_ok=True)
        routed = df.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            F.col(ts_col).cast("long").alias("ts_ms"),
            (
                F.conv(F.substring(F.md5(F.col("key")), 1, 8), 16, 10)
                .cast("long")
                % n_partitions
            )
            .cast("int")
            .alias("partition"),
        )

        stage_dir = staging  # closure copy

        def _stage(rows) -> None:
            import json as _json
            import os as _os
            import uuid as _uuid

            buckets: dict[int, list[str]] = {}
            for r in rows:
                buckets.setdefault(r["partition"], []).append(
                    _json.dumps({"k": r["key"], "v": r["value"], "ts": r["ts_ms"]})
                )
            for p, lines in buckets.items():
                final = _os.path.join(stage_dir, f"p{p}.jsonl")
                tmp = final + "." + _uuid.uuid4().hex
                with open(tmp, "w") as f:
                    f.write("\n".join(lines) + "\n")
                    f.flush()
                    _os.fsync(f.fileno())
                _os.replace(tmp, final)  # atomic — retries just re-land it

        routed.repartition(n_partitions, "partition").foreachPartition(_stage)

        # ---- Phase 2: fenced promotion -----------------------------------
        lengths = {
            str(p): (os.path.getsize(_log_file(p)) if os.path.exists(_log_file(p)) else 0)
            for p in range(n_partitions)
        }
        tmp_marker = pending + ".tmp"
        with open(tmp_marker, "w") as f:
            json.dump({"batch_id": batch_id, "lengths": lengths}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp_marker, pending)

        td = topic_dir  # closure copy

        def _promote(item) -> None:
            import os as _os

            p, pre = item
            staged = _os.path.join(stage_dir, f"p{p}.jsonl")
            if not _os.path.exists(staged):
                return
            dst = _os.path.join(td, f"p{p}.jsonl")
            fd = _os.open(dst, _os.O_RDWR | _os.O_CREAT)
            try:
                _os.ftruncate(fd, pre)  # heals a torn retry — idempotent
                _os.lseek(fd, 0, _os.SEEK_END)
                with open(staged, "rb") as src:
                    while True:
                        chunk = src.read(1 << 20)
                        if not chunk:
                            break
                        _os.write(fd, chunk)
                _os.fsync(fd)
            finally:
                _os.close(fd)

        sc = df.sparkSession.sparkContext
        work = [(p, int(lengths[str(p)])) for p in range(n_partitions)]
        sc.parallelize(work, n_partitions).foreach(_promote)

        with open(ledger, "a") as f:
            f.write(f"{batch_id}\n")
            f.flush()
            os.fsync(f.fileno())
        os.remove(pending)
        shutil.rmtree(staging_root, ignore_errors=True)

    return write_batch
