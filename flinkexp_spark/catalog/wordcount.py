"""Word count — the reference's exercised program, rebuilt Spark-first.

The reference's only executable query is an unbounded keyed streaming word
count (reference: study/src/main/scala/group/xc/flink/stream/demo1/
StreamSocket.scala:13-16):

    socketTextStream -> flatMap(split " ") -> map(x => (x,1)) -> keyBy(0) -> sum(1)

Covered here in *batch replay* over ``documents.text`` (SURVEY §5.2): the
exercised operators E2 (flatMap/tokenize), E3 (map/project), E4 (keyBy), E5
(rolling sum — final totals contract, SURVEY §2.1 semantic note).  The live
streaming form (E1/E6/E7, update mode) lives in
``flinkexp_spark.streaming`` and is registered by ``streaming_replay``.

Scale notes: ``explode(split(...))`` runs inside whole-stage codegen (no
Python boundary); the single shuffle is the groupBy hash exchange — exactly
the reference's one ``keyBy`` network boundary (StreamSocket.scala:15) — and
Spark applies a map-side partial count before it, so shuffle volume is
O(distinct words per partition), not O(tokens).  This holds at 100 TB: the
reduce side only ever sees per-partition partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.registry import register


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """tokenize -> count per word.  E2-E5 as one declarative plan."""
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count("*").alias("cnt"))


@register(
    "wordcount_batch",
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("E2", "E3", "E4", "E5"),
)
def q_wordcount_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch word count over documents.text (reference parity query)."""
    return word_counts(datasets.load(spark, sf_dir, "documents"))


@register(
    "wordcount_union",
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
            UNION ALL
            SELECT unnest(string_split(props, ' ')) AS word FROM events
        )
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("E2", "E3", "E4", "E5", "O3"),
)
def q_wordcount_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE.md throughput query: word count over documents.text UNION ALL
    events.props (the full fixture line volume).

    Both scans feed one shuffle; partial counts combine per source partition
    before the exchange, so the union costs no extra stage.
    """
    docs = datasets.load(spark, sf_dir, "documents").select(
        F.col("text").alias("line")
    )
    props = datasets.load(spark, sf_dir, "events").select(
        F.col("props").alias("line")
    )
    return word_counts(docs.unionByName(props), text_col="line")


@register(
    "wordcount_topk",
    oracle="""
        SELECT word, cnt FROM (
            SELECT word, COUNT(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> ''
            GROUP BY word
        )
        ORDER BY cnt DESC, word
        LIMIT 20
    """,
    tags=("E2", "E5", "O1", "O2"),
)
def q_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words — adds deterministic global top-k (TakeOrderedAndProject)."""
    wc = word_counts(datasets.load(spark, sf_dir, "documents"))
    return wc.orderBy(F.col("cnt").desc(), F.col("word")).limit(20)


@register(
    "wordcount_datastream_api",
    oracle="""
        SELECT word, CAST(COUNT(*) AS BIGINT) AS one
        FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("E2", "E3", "E4", "E5", "E7"),
)
def q_wordcount_datastream_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference program EXPRESSED THROUGH THE ADAPTER — the fluent
    DataStream chain (StreamSocket.scala:12-16 ported 1:1, E7 job-graph
    composition) over the batch bridge, so the adapter surface itself is
    oracle-checked:

        env.from_data_frame(docs)
           .flat_map(split).filter.map((word, 1)).key_by(0).sum(1)

    The str-expression path keeps the whole chain in whole-stage codegen
    (asserted by tests/test_datastream.py::test_str_exprs_stay_in_codegen);
    plans are identical to wordcount_batch — the adapter adds zero physical
    overhead.  sum(1) over the literal-1 column == COUNT(*), the
    reference's (word, 1) -> sum tuple shape.
    """
    from flinkexp_spark.datastream import StreamExecutionEnvironment

    docs = datasets.load(spark, sf_dir, "documents").select("text")
    env = StreamExecutionEnvironment.get_execution_environment(spark)
    return (
        env.from_data_frame(docs)
        .flat_map("split(text, ' ')", output_type="word string")
        .filter("word <> ''")
        .map(["word", "CAST(1 AS BIGINT) AS one"])
        .key_by(0)
        .sum(1)
        .df
    )


@register(
    "stream_wordcount_adapter",
    oracle="""
        SELECT word, CAST(COUNT(*) AS BIGINT) AS one
        FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("E1", "E2", "E3", "E4", "E5", "E6", "E7", "T9"),
)
def q_stream_wordcount_adapter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference program through the adapter's STREAMING path (the
    batch-bridge twin is wordcount_datastream_api): documents replayed as a
    bounded file stream, the fluent chain builds the streaming plan, a
    memory sink drains under availableNow, and the final per-key totals
    must equal batch SQL (SURVEY §2.1 contract).  This row officially
    certifies env.execute()'s streaming job-submission path end-to-end.
    """
    import os
    import uuid

    from flinkexp_spark.datastream import StreamExecutionEnvironment
    from flinkexp_spark.streaming.replay import _stream_partitions, scratch_dir

    docs = datasets.load(spark, sf_dir, "documents")
    name = f"sink_{uuid.uuid4().hex[:12]}"
    with scratch_dir("dsa") as work:
        docs.select(F.col("text")).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, "in")
        )
        stream = spark.readStream.schema("text string").parquet(
            os.path.join(work, "in")
        )
        env = StreamExecutionEnvironment.get_execution_environment(
            spark
        ).enable_checkpointing(os.path.join(work, "checkpoint"))
        (
            env.from_data_frame(stream)
            .flat_map("split(text, ' ')", output_type="word string")
            .filter("word <> ''")
            .map(["word", "CAST(1 AS BIGINT) AS one"])
            .key_by(0)
            .sum(1)
            .sink_memory(name, output_mode="complete")
        )
        try:
            with _stream_partitions(spark):
                [q] = env.execute("Test", available_now=True)
                q.awaitTermination()
            rows = spark.table(name).collect()
        finally:
            # drop even when the stream fails (see drain_memory_sink)
            spark.catalog.dropTempView(name)
        return datasets.local_df(spark, rows, "word string, one long")
