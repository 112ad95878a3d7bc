"""S1-S11: sources, sinks, formats (SURVEY §2.2).

Reference declarations: HDFS/posix files (study/pom.xml:40-57), Kafka
(study/pom.xml:82-88), Redis sink (study/pom.xml:65), JDBC/MySQL
(study/pom.xml:105, live via embedded Derby), HBase (study/pom.xml:126-140,
wide-column cell sink), JSON
format (study/pom.xml:172), socket source (StreamSocket.scala:13), print
sink (StreamSocket.scala:15).

Everything maps to Spark's native readers/writers; formats carry explicit
schemas (no ``inferSchema`` in the engine paths — schema inference reads the
data twice and guesses types, both wrong at 100 TB).  Connectors whose
backing service isn't available in the test container (Kafka broker, MySQL,
Redis) still build the real reader/writer plumbing; their round-trip tests
are gated on service availability.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------- batch file formats (S1-S4) ------------------------------------


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2: columnar scan; Catalyst pushes filters + prunes columns/partitions."""
    return spark.read.parquet(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        # Hive-style layout: enables partition pruning for downstream scans.
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S2-adjacent columnar alternative: ORC scan (filter pushdown + column
    pruning work identically to parquet — Spark's native vectorized reader)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_text(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """S1: line-oriented text (the reference's socket payload shape, one
    ``value: string`` column)."""
    return (spark.readStream if streaming else spark.read).text(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | str, header: bool = True
) -> DataFrame:
    """S3: CSV with declared schema."""
    return spark.read.csv(path, schema=schema, header=header)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """S4: JSON lines with declared schema (scalar JSON ops are F8)."""
    return spark.read.schema(schema).json(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


# ---------- streaming endpoints (S5, S9, S11) ------------------------------


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S9: the reference's source — unbounded text lines from TCP
    (socketTextStream, StreamSocket.scala:13)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """S11: synthetic unbounded source for harness/smoke use."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """S5 option wiring, jar-free: exactly the keys Spark's kafka connector
    reads (KafkaSourceProvider).  Split out so the wiring is testable in
    environments without the connector jars/broker."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S5: Kafka source (flink-connector-kafka analog, study/pom.xml:82).

    Returns (key, value, topic, partition, offset, timestamp); callers parse
    ``value`` with from_json/F8.  Same option surface as the file-backed
    ``kafkalog`` DataSource (subscribe / startingOffsets / rate cap —
    ``maxOffsetsPerTrigger`` here, ``maxRecordsPerBatch`` there), so a
    deployment swaps formats without touching the query.  Exactly-once:
    pair with a checkpoint location and an idempotent/transactional sink.
    Requires the Kafka jars on the classpath and a broker — gated in tests.
    """
    return (
        spark.readStream.format("kafka")
        .options(
            **kafka_source_options(
                bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
            )
        )
        .load()
    )


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint: str
) -> dict[str, str]:
    """S5 sink option wiring, jar-free (see kafka_source_options)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_sink_writer(
    df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str
):
    """S5 sink side: value must be string/binary; returns the unstarted writer."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return out.writeStream.format("kafka").options(
        **kafka_sink_options(bootstrap_servers, topic, checkpoint)
    )


# ---------- external stores (S6, S7, S8) -----------------------------------


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """S6: JDBC source (flink-jdbc/MySQL analog, study/pom.xml:105).

    Parallel reads REQUIRE the partition column + bounds — a single-threaded
    JDBC scan is the classic ingest bottleneck.  Driver jar must be on the
    classpath; gated in tests (no DB in the container).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def kv_sink(
    key_cols: list[str],
    value_cols: list[str],
    client_factory: Callable[[int], tuple[Callable, Callable]],
    batch_size: int = 1000,
) -> Callable[[DataFrame, int], None]:
    """S7: key-value (Redis-analog, study/pom.xml:65) upsert sink as a
    foreachBatch writer.

    The upserts run ON THE EXECUTORS via ``foreachPartition`` — one client
    per partition, writes batched ``batch_size`` at a time — so sink
    throughput scales with the cluster instead of serializing every
    micro-batch through the driver (a driver-side ``collect()`` here is the
    classic streaming-sink scale killer).

    ``client_factory(epoch)`` is invoked once per partition on the executor
    and returns ``(write, close)`` where ``write(items)`` upserts a list of
    ``(key_tuple, value_tuple)`` pairs (a Redis client would MSET/pipeline
    them) and ``close()`` releases the connection.  Upserts are idempotent
    per key, so checkpoint replay is exactly-once at the store level.
    """
    kc, vc = list(key_cols), list(value_cols)

    def write_batch(df: DataFrame, epoch: int) -> None:
        factory, n = client_factory, batch_size

        def write_partition(rows) -> None:
            write, close = factory(epoch)
            buf = []
            try:
                for row in rows:
                    buf.append(
                        (tuple(row[c] for c in kc), tuple(row[c] for c in vc))
                    )
                    if len(buf) >= n:
                        write(buf)
                        buf = []
                if buf:
                    write(buf)
            finally:
                close()

        df.select(*kc, *vc).foreachPartition(write_partition)

    return write_batch


def spool_kv_client_factory(spool_dir: str) -> Callable[[int], tuple[Callable, Callable]]:
    """Filesystem-backed KV client for tests/demos: each partition spools its
    upserts as JSON lines (one file per partition per epoch); ``read_kv_spool``
    folds the spool into final store state (later epochs win).  Stands in for
    a real Redis/keyvalue client where no store service exists — the write
    path shape (per-partition client, batched upserts) is identical.
    """

    def factory(epoch: int):
        # runs on the executor
        import json as _json
        import os as _os
        import uuid as _uuid

        path = _os.path.join(
            spool_dir, f"epoch{epoch:06d}-{_uuid.uuid4().hex}.jsonl"
        )
        f = open(path, "w")

        def write(items) -> None:
            for k, v in items:
                f.write(
                    _json.dumps({"k": list(k), "v": list(v)}, default=str) + "\n"
                )

        def close() -> None:
            f.close()

        return write, close

    return factory


def read_kv_spool(spool_dir: str) -> dict:
    """Driver-side merge of a :func:`spool_kv_client_factory` spool into the
    final store state: {key_tuple: value_tuple}, later epochs winning (within
    an epoch each key lands in exactly one partition, so file order within an
    epoch is irrelevant)."""
    import json

    store: dict = {}
    for fname in sorted(os.listdir(spool_dir)):
        if not fname.endswith(".jsonl"):
            continue
        with open(os.path.join(spool_dir, fname)) as f:
            for line in f:
                rec = json.loads(line)
                store[tuple(rec["k"])] = tuple(rec["v"])
    return store


# S8 (HBase wide-column) is declared out of t2 scope (SURVEY §2.2 S8): the
# pattern is identical to kv_sink via foreachBatch + the connector's client.


# --- S8: wide-column (HBase-analog) sink -------------------------------------


def wide_column_cells(
    df: DataFrame, row_key: str, family: str, qualifiers: list[str]
) -> DataFrame:
    """Melt a relational row into wide-column CELLS — the HBase data model
    (flink-hbase envelope, study/pom.xml:126-140): one output row per
    (row_key, family, qualifier, value).  A put against HBase writes exactly
    these cells; the melt is the schema bridge between a DataFrame and a
    wide-column store.
    """
    from pyspark.sql import functions as F

    pairs = F.array(
        *[
            F.struct(
                F.lit(q).alias("qualifier"),
                F.col(q).cast("string").alias("value"),
            )
            for q in qualifiers
        ]
    )
    return df.select(
        F.col(row_key).cast("string").alias("row_key"),
        F.lit(family).alias("family"),
        F.explode(pairs).alias("cell"),
    ).select("row_key", "family", "cell.qualifier", "cell.value")


def wide_column_sink(
    row_key: str,
    family: str,
    qualifiers: list[str],
    client_factory: Callable[[int], tuple[Callable, Callable]],
    batch_size: int = 1000,
) -> Callable[[DataFrame, int], None]:
    """S8: wide-column upsert sink as a foreachBatch writer — cell-level
    puts via the same executor-side foreachPartition path as the KV sink
    (one client per partition, batched), with later epochs winning per cell
    exactly like HBase timestamps.  Swap the spool client for an
    happybase/asynchbase client and this IS the HBase writer.
    """
    cell_writer = kv_sink(
        ["row_key", "family", "qualifier"], ["value"], client_factory, batch_size
    )

    def write_batch(df: DataFrame, epoch: int) -> None:
        cell_writer(wide_column_cells(df, row_key, family, qualifiers), epoch)

    return write_batch


def read_wide_column_spool(spool_dir: str) -> dict:
    """Driver-side merge of a wide-column spool into final store state:
    {row_key: {(family, qualifier): value}} with later epochs winning —
    the scan-side view of the store for tests."""
    rows: dict = {}
    for (rk, fam, qual), (val,) in read_kv_spool(spool_dir).items():
        rows.setdefault(rk, {})[(fam, qual)] = val
    return rows
