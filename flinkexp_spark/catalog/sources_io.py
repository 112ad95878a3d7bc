"""S1-S4 oracle-checked round-trips: file formats through the engine's
source/sink layer (SURVEY §2.2 sources/sinks).

Each query WRITES a fixture-derived dataset through the engine sink and
READS it back through the engine source, then aggregates — proving both
directions of the connector against the oracle, which reads only the
original parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets, sources
from flinkexp_spark.catalog._util import o_dsum
from flinkexp_spark.registry import register
from flinkexp_spark.streaming.replay import replay, scratch_dir


@register(
    "source_text_lines",
    oracle="""
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    tags=("S1", "S10", "E2"),
)
def q_source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: text sink -> text source round-trip; word count over the lines.

    documents.text is written as raw lines (the reference's socket payload
    shape) and read back via the file text source.
    """
    with scratch_dir("text") as work:
        docs = datasets.load(spark, sf_dir, "documents").select(
            F.col("text").alias("value")
        )
        docs.write.mode("overwrite").text(os.path.join(work, "lines"))
        lines = sources.read_text(spark, os.path.join(work, "lines"))
        out = (
            lines.select(F.explode(F.split("value", " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
        )
        out = out.localCheckpoint()  # materialize before scratch cleanup
        return out


@register(
    "source_csv_roundtrip",
    oracle=f"""
        SELECT o_orderstatus, COUNT(*) AS n, {o_dsum('o_totalprice', 'total')}
        FROM orders WHERE o_orderkey < 5000
        GROUP BY o_orderstatus
    """,
    tags=("S3",),
)
def q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: CSV sink -> CSV source (declared schema, header) round-trip.

    Timestamps ride as formatted strings: CSV is a textual format, and the
    engine contract is explicit schemas on read, never inference.
    """
    with scratch_dir("csv") as work:
        o = (
            datasets.load(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 5000)
            .select(
                "o_orderkey",
                "o_orderstatus",
                "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            )
        )
        path = os.path.join(work, "orders_csv")
        sources.write_csv(o, path)
        back = sources.read_csv(
            spark,
            path,
            schema="o_orderkey long, o_orderstatus string, o_totalprice double,"
            " o_orderdate string",
        )
        from flinkexp_spark.catalog._util import dsum

        out = back.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"), dsum("o_totalprice", "total")
        )
        return out.localCheckpoint()


@register(
    "source_json_roundtrip",
    oracle="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(props ->> 'k' AS INT)) AS BIGINT) AS k_sum
        FROM events WHERE event_id < 5000
        GROUP BY event_type
    """,
    tags=("S4", "F8"),
)
def q_source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: JSON-lines sink -> source round-trip incl. nested JSON parsing."""
    with scratch_dir("json") as work:
        e = (
            datasets.load(spark, sf_dir, "events")
            .filter(F.col("event_id") < 5000)
            .select("event_id", "event_type", "props")
        )
        path = os.path.join(work, "events_json")
        sources.write_json(e, path)
        back = sources.read_json(
            spark, path, "event_id long, event_type string, props string"
        )
        out = back.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("int")).alias("k_sum"),
        )
        return out.localCheckpoint()


@register(
    "source_json_corrupt",
    oracle="""
        SELECT CASE WHEN event_id % 10 = 0 THEN '_corrupt'
                    ELSE event_type END AS bucket,
               COUNT(*) AS n
        FROM events WHERE event_id < 3000
        GROUP BY 1
    """,
    tags=("S4", "F8"),
)
def q_source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 (malformed input): PERMISSIVE JSON read with a dead-letter column.

    Every 10th record is deterministically corrupted before the write; the
    reader keeps going (no job abort at 100 TB because one crawl shard is
    bad), parses good rows, and captures raw malformed lines in the
    `columnNameOfCorruptRecord` column — the rows a production pipeline
    routes to a dead-letter sink for replay.  The oracle recomputes the
    good/corrupt split from the corruption rule itself.
    """
    with scratch_dir("json_corrupt") as work:
        e = (
            datasets.load(spark, sf_dir, "events")
            .filter(F.col("event_id") < 3000)
            .select("event_id", "event_type")
        )
        js = F.to_json(F.struct("event_id", "event_type"))
        lines = e.select(
            F.when(
                F.col("event_id") % 10 == 0, F.concat(F.lit("NOT_JSON "), js)
            )
            .otherwise(js)
            .alias("value")
        )
        path = os.path.join(work, "events_jsonl")
        lines.write.mode("overwrite").text(path)
        back = (
            spark.read.schema("event_id long, event_type string, _bad string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .json(path)
        )
        out = (
            back.select(
                F.coalesce(F.col("event_type"), F.lit("_corrupt")).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
        )
        return out.localCheckpoint()


@register(
    "source_in_memory",
    oracle="""
        SELECT grp, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS total
        FROM (VALUES ('a', 1), ('a', 2), ('b', 3), ('b', 4), ('c', 5))
             AS t(grp, v)
        GROUP BY grp
    """,
    tags=("S11",),
)
def q_source_in_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: in-memory collection source (Table API ``fromCollection``
    envelope) — ``spark.createDataFrame`` over driver-local rows."""
    df = datasets.local_df(
        spark, [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5)], "grp string, v int"
    )
    return df.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("v").cast("long").alias("total")
    )


@register(
    "sink_kv_upsert",
    oracle="""
        SELECT event_type AS k, COUNT(*) AS n
        FROM events WHERE event_id < 3000
        GROUP BY event_type
    """,
    tags=("S7",),
)
def q_sink_kv_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: key-value upsert sink (Redis analog, study/pom.xml:65) —
    streaming counts upserted per micro-batch via foreachBatch ->
    foreachPartition, one KV client per PARTITION on the executors (no
    driver-side collect in the write path); the store's final state is the
    result.

    Upserts are idempotent per key, so checkpoint replay yields
    exactly-once state in the store — the Kafka/Redis exactly-once
    envelope (S5) uses the identical writer shape.
    """
    from flinkexp_spark import sources

    events = datasets.load(spark, sf_dir, "events").filter(
        F.col("event_id") < 3000
    )
    with scratch_dir("kvspool") as spool:
        writer = sources.kv_sink(
            ["event_type"], ["n"], sources.spool_kv_client_factory(spool)
        )

        def transform(stream: DataFrame) -> DataFrame:
            return stream.groupBy("event_type").agg(F.count("*").alias("n"))

        replay(spark, events, transform, "complete", sink=writer)
        store = sources.read_kv_spool(spool)
    rows = [(k[0], int(v[0])) for k, v in store.items()]
    return datasets.local_df(spark, rows, "k string, n long")


@register(
    "source_partitioned_parquet",
    oracle="""
        SELECT year(l_shipdate) AS ship_year, COUNT(*) AS n
        FROM lineitem
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY 1
    """,
    tags=("S2",),
)
def q_source_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: hive-partitioned parquet write -> read with PARTITION PRUNING.

    The read filters on the partition column, so only 2 of the year
    directories are scanned — the layout that makes a 100 TB fact table
    prunable (verified in tests/test_plans.py).
    """
    with scratch_dir("pq") as work:
        li = datasets.load(spark, sf_dir, "lineitem").withColumn(
            "ship_year", F.year("l_shipdate")
        )
        path = os.path.join(work, "lineitem_by_year")
        sources.write_parquet(li, path, partition_by=["ship_year"])
        back = sources.read_parquet(spark, path).filter(
            F.col("ship_year").isin(1996, 1997)
        )
        out = back.groupBy("ship_year").agg(F.count("*").alias("n")).select(
            F.col("ship_year").cast("long").alias("ship_year"), "n"
        )
        return out.localCheckpoint()


@register(
    "join_bucketed_colocated",
    oracle=f"""
        SELECT o_orderstatus, COUNT(*) AS n_items,
               {o_dsum('l_extendedprice', 'revenue')}
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
    """,
    tags=("J1", "S2"),
)
def q_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over co-bucketed tables — the pay-the-shuffle-once layout.

    Both sides are written bucketed (and sorted) on the join key with the
    same bucket count, so the sort-merge join reads co-located buckets and
    plans with NO Exchange on either side (pinned by tests/test_plans.py).
    At 100 TB this converts the recurring dominant network cost of every
    lineitem⋈orders run into a one-time write-side shuffle.
    """
    from flinkexp_spark.catalog._util import dsum
    from flinkexp_spark.operators.bucketing import bucketed_tables

    with scratch_dir("bucketed") as work:
        li = datasets.load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = datasets.load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        with bucketed_tables(
            spark, {"li": (li, "l_orderkey"), "ord": (orders, "o_orderkey")}, work
        ) as t:
            out = (
                t["li"].hint("merge")
                .join(t["ord"].hint("merge"),
                      F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").alias("n_items"),
                    dsum("l_extendedprice", "revenue"),
                )
            )
            return out.localCheckpoint()


@register(
    "source_orc_roundtrip",
    oracle=f"""
        SELECT l_returnflag, COUNT(*) AS n, {o_dsum('l_extendedprice', 'total')}
        FROM lineitem WHERE l_orderkey < 5000
        GROUP BY l_returnflag
    """,
    tags=("S2",),
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 columnar alternative: ORC sink -> ORC source round-trip.

    Same vectorized-reader guarantees as parquet (pushdown, pruning); the
    oracle reads only the original parquet, so both connector directions
    are proven.
    """
    with scratch_dir("orc") as work:
        li = (
            datasets.load(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") < 5000)
            .select("l_orderkey", "l_returnflag", "l_extendedprice")
        )
        path = os.path.join(work, "lineitem_orc")
        sources.write_orc(li, path)
        back = sources.read_orc(spark, path)
        from flinkexp_spark.catalog._util import dsum

        out = back.groupBy("l_returnflag").agg(
            F.count("*").alias("n"), dsum("l_extendedprice", "total")
        )
        return out.localCheckpoint()


@register(
    "source_jdbc_roundtrip",
    oracle="""
        SELECT n_regionkey, COUNT(*) AS n,
               CAST(MIN(n_nationkey) AS BIGINT) AS min_key
        FROM nation
        GROUP BY n_regionkey
    """,
    tags=("S6",),
)
def q_source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 LIVE: real JDBC round-trip through Spark's jdbc source against the
    EMBEDDED Derby engine on the classpath (no external DB needed) —
    write `nation` to a Derby table via the JDBC writer, read it back
    through :func:`flinkexp_spark.sources.connectors.read_jdbc` WITH the
    partition-bounds API (partitionColumn/lower/upper/numPartitions), so
    the read plans as parallel range scans — the exact ingest shape for
    MySQL at scale (flink-jdbc analog, study/pom.xml:105).
    """
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nation = datasets.load(spark, sf_dir, "nation")
    with scratch_dir("derby") as work:
        # Derby refuses to create a database in an existing directory
        url = f"jdbc:derby:{os.path.join(work, 'db')};create=true"
        (
            nation.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "nation")
            .option("driver", driver)
            .mode("overwrite")
            .save()
        )
        hi = nation.agg(F.max("n_nationkey")).first()[0]
        back = sources.read_jdbc(
            spark,
            url,
            "nation",
            partition_column="n_nationkey",
            num_partitions=4,
            lower_bound=0,
            upper_bound=int(hi) + 1,
            driver=driver,
        )
        return (
            back.groupBy("n_regionkey")
            .agg(
                F.count("*").alias("n"),
                F.min("n_nationkey").cast("long").alias("min_key"),
            )
            .localCheckpoint()  # materialize before the Derby dir vanishes
        )


@register(
    "sink_wide_column",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        WHERE event_id < 3000
        GROUP BY user_id
    """,
    tags=("S8", "S7"),
)
def q_sink_wide_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: wide-column (HBase-analog, study/pom.xml:126-140) sink — the one
    declared reference connector previously without code.  Streaming per-user
    aggregates are MELTED into cells (row_key=user_id, family='stats',
    qualifiers n/cents) and upserted cell-by-cell via foreachBatch ->
    foreachPartition on the executors, later epochs winning per cell like
    HBase timestamps.  The store's final scan is the result.
    """

    events = datasets.load(spark, sf_dir, "events").filter(
        F.col("event_id") < 3000
    )
    with scratch_dir("wc_spool") as spool:
        writer = sources.wide_column_sink(
            "user_id",
            "stats",
            ["n", "cents"],
            sources.spool_kv_client_factory(spool),
        )

        def transform(stream: DataFrame) -> DataFrame:
            return stream.groupBy("user_id").agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )

        replay(spark, events, transform, "complete", sink=writer)
        store = sources.read_wide_column_spool(spool)
    rows = [
        (int(rk), int(cells[("stats", "n")]), int(cells[("stats", "cents")]))
        for rk, cells in store.items()
    ]
    return datasets.local_df(spark, rows, "user_id long, n long, cents long")


@register(
    "maintenance_compact",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id < 2000
        GROUP BY lang
    """,
    tags=("S2",),
)
def q_maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 maintenance path: SMALL-FILE COMPACTION — the table-maintenance
    operator every long-lived 100 TB parquet lake needs (streaming sinks and
    fine-grained ingest leave thousands of KB-sized files; scan throughput
    collapses under per-file open/footer costs and the driver chokes on
    split enumeration).

    Shape: write a deliberately over-partitioned copy (32 files for a
    fixture-sized table), then compact by reading it back and
    ``coalesce``-ing to a byte-budget-derived file count — coalesce is a
    NARROW dependency, so compaction moves no rows across the network
    (contrast repartition: a full shuffle).  At scale this runs per
    partition-directory with the same arithmetic: ceil(dir_bytes /
    128 MB target) output files.  The result is aggregated from a read of
    the COMPACTED output, proving the round trip.
    """
    from flinkexp_spark.operators.maintenance import compact_parquet

    with scratch_dir("compact") as work:
        docs = datasets.load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 2000
        )
        fine = os.path.join(work, "fine")
        docs.repartition(32).write.mode("overwrite").parquet(fine)

        compacted = os.path.join(work, "compacted")
        # fixture-scale stand-in for the 128 MB production target
        compact_parquet(spark, fine, compacted, target_bytes=4 * 1024 * 1024)

        out = (
            spark.read.parquet(compacted)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
        )
        return out.localCheckpoint()  # materialize before scratch cleanup


@register(
    "layout_zorder_scan",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(user_id AS BIGINT)) AS BIGINT) AS uid_sum
        FROM events
        WHERE user_id < 5
        GROUP BY event_type
    """,
    tags=("S2",),
)
def q_layout_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 layout path: Z-ORDER clustering (operators/layout.py) — events
    rewritten clustered on morton(user_id, event-time), then scanned back
    with a selective user-band filter.

    The layout is the 100 TB point: after z-ordering, each parquet file
    covers a hyper-rectangle of (user, time) space, so footer min/max stats
    prune a user-band scan to the few overlapping files instead of all of
    them (asserted in tests/test_plans.py::test_zorder_layout_clusters_files)
    — multi-dimensional data skipping with plain Spark primitives, no table
    format required.  Correctness: the round trip must not change results.
    """
    from flinkexp_spark.operators.layout import write_zordered

    with scratch_dir("zorder") as work:
        events = datasets.load(spark, sf_dir, "events").withColumn(
            "ts_epoch", F.col("ts").cast("long")
        )
        zdir = os.path.join(work, "z")
        write_zordered(events, zdir, "user_id", "ts_epoch", n_files=16)
        out = (
            spark.read.parquet(zdir)
            .filter(F.col("user_id") < 5)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("user_id").cast("long")).alias("uid_sum"),
            )
        )
        return out.localCheckpoint()  # materialize before scratch cleanup


DPP_KEEP = {1996: "keep", 1997: "keep", 1995: "drop", 1998: "drop"}


@register(
    "join_dpp_partitioned",
    oracle=f"""
        WITH dim(dim_year, action) AS (VALUES {", ".join(
            f"({y}, '{a}')" for y, a in sorted(DPP_KEEP.items()))}),
        fact AS (SELECT year(l_shipdate) AS ship_year, l_extendedprice
                 FROM lineitem)
        SELECT CAST(f.ship_year AS BIGINT) AS ship_year,
               COUNT(*) AS n,
               {o_dsum('f.l_extendedprice', 'revenue')}
        FROM fact f JOIN dim d ON f.ship_year = d.dim_year
        WHERE d.action = 'keep'
        GROUP BY 1
    """,
    tags=("S2", "J6"),
)
def q_join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/J6: DYNAMIC partition pruning on a partitioned fact table.

    The fact side is hive-partitioned by ship_year; the filter that decides
    which years survive lives on the DIM side, so no static pruning is
    possible.  Catalyst's dynamic-partition-pruning rule turns the joined
    dim keys into a runtime IN-subquery on the fact's partition column —
    at 100 TB the fact scan reads only the matching year directories
    instead of the full table.  The pruning subquery's presence in the
    plan is pinned by tests/test_plans.py.
    """
    from flinkexp_spark.catalog._util import dec

    with scratch_dir("dpp") as work:
        li = datasets.load(spark, sf_dir, "lineitem").withColumn(
            "ship_year", F.year("l_shipdate")
        )
        path = os.path.join(work, "fact_by_year")
        sources.write_parquet(
            li.select("ship_year", "l_extendedprice"),
            path,
            partition_by=["ship_year"],
        )
        fact = sources.read_parquet(spark, path)
        dim = datasets.local_df(
            spark,
            sorted(DPP_KEEP.items()),
            "dim_year int, action string",
        )
        out = (
            fact.join(
                dim.filter(F.col("action") == "keep"),
                fact.ship_year == dim.dim_year,
            )
            .groupBy(F.col("ship_year").cast("long").alias("ship_year"))
            .agg(
                F.count("*").alias("n"),
                F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
            )
        )
        return out.localCheckpoint()  # materialize before scratch cleanup


@register(
    "maintenance_merge_upsert",
    oracle=f"""
        WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                      FROM orders),
        upd AS (SELECT CASE WHEN o_orderkey % 10 = 2
                            THEN o_orderkey + 10000000
                            ELSE o_orderkey END AS o_orderkey,
                       CASE WHEN o_orderkey % 10 = 1 THEN 'D'
                            WHEN o_orderkey % 10 = 2 THEN 'I'
                            ELSE 'U' END AS op,
                       o_orderstatus,
                       o_totalprice + 100.0 AS o_totalprice
                FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)),
        merged AS (
            SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS k,
                   CASE WHEN u.op IS NOT NULL THEN u.o_orderstatus
                        ELSE b.o_orderstatus END AS st,
                   CASE WHEN u.op IS NOT NULL THEN u.o_totalprice
                        ELSE b.o_totalprice END AS price
            FROM base b FULL OUTER JOIN upd u
              ON b.o_orderkey = u.o_orderkey
            WHERE u.op IS NULL OR u.op <> 'D')
        SELECT st AS o_orderstatus, COUNT(*) AS n,
               {o_dsum('price', 'total')}
        FROM merged GROUP BY 1
    """,
    tags=("S2", "J2"),
)
def q_maintenance_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert+delete) over a snapshot — the lakehouse write op.

    The change set (10% updates, 10% deletes, 10% inserts, derived
    deterministically from the key) merges into the orders snapshot via
    ``operators.maintenance.merge_upsert``: ONE full-outer join on the
    key.  Verified end-to-end against the SQL MERGE expansion.
    """
    from flinkexp_spark.catalog._util import dec
    from flinkexp_spark.operators.maintenance import merge_upsert

    base = datasets.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    m = F.col("o_orderkey") % 10
    updates = (
        base.filter(m.isin(0, 1, 2))
        .select(
            F.when(m == 2, F.col("o_orderkey") + 10000000)
            .otherwise(F.col("o_orderkey"))
            .alias("o_orderkey"),
            F.when(m == 1, "D").when(m == 2, "I").otherwise("U").alias("op"),
            "o_orderstatus",
            (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        )
    )
    # keys are unique by construction (disjoint residue classes mod 10, and
    # the 'I' branch offsets into a key range the base never uses) — skip
    # the runtime uniqueness job the default contract check would run
    merged = merge_upsert(base, updates, "o_orderkey", check_unique=False)
    return merged.groupBy(F.col("o_orderstatus")).agg(
        F.count("*").alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("total"),
    )


# Spark .option() strings and the oracle text MUST agree; single-source
# them here (same pattern as projection.K_ANON_THRESHOLD).
PYSRC_ROWS = 5000
PYSRC_PARTS = 8


@register(
    "source_python_datasource",
    # The source derives every field from md5(str(doc_id)), so the oracle
    # regenerates the dataset arithmetically and checks the aggregate.
    oracle=f"""
        WITH synth AS (
            SELECT g AS doc_id,
                   CAST(g % {PYSRC_PARTS} AS INTEGER) AS shard,
                   CAST(CAST(concat('0x', substr(md5(CAST(g AS VARCHAR)), 1, 8))
                             AS BIGINT) % 1000 AS BIGINT) AS score
            FROM (SELECT unnest(range({PYSRC_ROWS})) AS g))
        SELECT shard, COUNT(*) AS n,
               CAST(SUM(score) AS BIGINT) AS score_sum,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc
        FROM synth GROUP BY shard ORDER BY shard
    """,
    tags=("S11", "S1", "U2"),
)
def q_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python DataSource API (Spark 4,
    sources/pysource.py): a pure-Python batch source whose reader declares
    its own InputPartitions (one per crawl shard) and generates rows
    executor-side — the no-JVM connector path for paginated APIs and
    bespoke formats.  Aggregating per shard proves partition-parallel
    execution end to end; the md5-derived fields make the whole dataset
    recomputable by the oracle.
    """
    from flinkexp_spark.sources.pysource import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synthcrawl")
        .option("rows", str(PYSRC_ROWS))
        .option("partitions", str(PYSRC_PARTS))
        .load()
    )
    return (
        df.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.sum("score").cast("long").alias("score_sum"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("shard")
    )
