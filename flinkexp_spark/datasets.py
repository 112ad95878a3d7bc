"""Fixture table loader (driver-generated parquet, TESTDATA.md).

All queries load through here so that scan behavior is uniform: parquet
columnar scans with Catalyst predicate pushdown and column pruning.  At
100 TB scale the same code path works against a partitioned table root —
``spark.read.parquet`` prunes partitions from the directory layout and
pushes filters into the parquet row-group stats.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    # Runtime-settable confs, applied here (not only in the session factory)
    # because the driver's correctness gate calls queries() with ITS OWN
    # session.  Fixture timestamps are tz-naive parquet TIMESTAMP(MICROS) (or
    # TIMESTAMP(NANOS) in older generations); the engine contract is that
    # they denote UTC instants, matching the DuckDB oracle's naive-UTC
    # reading.  inferTimestampNTZ=false makes Spark read naive micros as
    # TimestampType (LTZ) instead of TIMESTAMP_NTZ — NTZ forbids epoch
    # casts (CAST(ts AS DOUBLE)) and silently changes window/date_format
    # semantics vs session tz.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # TIMESTAMP(NANOS) generation read as raw ns longs under
            # nanosAsLong; no sub-microsecond digits, so `div 1000` →
            # timestamp_micros is lossless (integer division — a double
            # would overflow 2^53 for epoch-ns values).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Belt-and-braces if inferTimestampNTZ couldn't be applied:
            # NTZ→LTZ cast interprets the naive value in the session tz,
            # which the line above pinned to UTC — an exact reinterpretation.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Small driver-local DataFrame in ONE partition.

    ``spark.createDataFrame(list)`` parallelizes to defaultParallelism
    pickled-RDD slices (one per core); any downstream single-task action —
    ``coalesce(1).write``, a replay sentinel file, a tiny groupBy — then
    pays one Python-worker task PER SLICE.  Most of a stock worker's
    ~150 ms per task is re-parsing Spark's zip archives, not Arrow or
    pickling; the engine's worker entry point (``compat/pyworker``, see
    ``session.py``) skips that, but each task is still a worker round
    trip, so one slice stays the rule.
    Empty row lists skip the RDD path entirely (Spark requires a
    non-empty RDD to infer nothing from, and an empty LocalRelation is
    what callers want anyway).
    """
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


# SparkSession -> the sf_dir whose tables the views CURRENTLY point at.
# Keyed by the SESSION (weakly), not applicationId: temp views are
# session-scoped, so two sessions in one application (spark.newSession())
# must each register their own views — an app-level memo would skip the
# second session and its SQL queries would fail on missing views.  A plain
# "seen" set would also be wrong: the view names are unqualified, so
# alternating sf_dirs in one session must re-register (last writer wins).
_VIEWS_CURRENT: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` queries.

    Memoized per session: ~24 SQL-entry queries call this on every
    invocation, and re-reading 10 parquet footers per query is pure
    repeated I/O.  Re-registers whenever sf_dir differs from what this
    session's views currently point at; stopped sessions fall out of the
    weak dict on their own.
    """
    if _VIEWS_CURRENT.get(spark) == sf_dir:
        return
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_CURRENT[spark] = sf_dir
