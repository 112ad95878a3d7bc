"""U1-U4 UDF surface: scalar pandas UDF, table function (1->N), grouped
aggregate UDF, grouped-map transform (SURVEY §2.2 "UDF surface").

Reference analog: the lambdas in StreamSocket.scala:15 are user code run
per record (U1/U2 shape); the Table API envelope declares ScalarFunction /
TableFunction / AggregateFunction (study/pom.xml:149-165).

All UDFs here are Arrow-vectorized (pandas batches, never row-at-a-time).
Numeric contracts are chosen so numpy and DuckDB
compute bit-identical doubles (same op order, or exact integer math).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

from flinkexp_spark import datasets
from flinkexp_spark.registry import register


@register(
    "udf_scalar_net_cents",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS net_cents,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("U1",),
)
def q_udf_scalar_net_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: scalar pandas UDF — net price in integer cents per row, summed.

    floor(x + 0.5) (not banker's rounding) so numpy and SQL agree exactly;
    the sum is integer, hence order-independent.
    """

    @F.pandas_udf(LongType())
    def net_cents(price: pd.Series, discount: pd.Series) -> pd.Series:
        return np.floor(price * (1 - discount) * 100 + 0.5).astype("int64")

    li = datasets.load(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            net_cents("l_extendedprice", "l_discount").alias("cents"),
        )
        .groupBy("l_returnflag")
        .agg(F.sum("cents").alias("net_cents"), F.count("*").alias("n"))
    )


@register(
    "udf_table_function_tokens",
    oracle="""
        SELECT CAST(length(tok) AS BIGINT) AS tok_len, COUNT(*) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
        GROUP BY 1
    """,
    tags=("U2",),
)
def q_udf_table_function_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: table function (1 row -> N rows) via mapInPandas — tokenizer
    emitting one row per token; token-length histogram.

    The Flink TableFunction / flatMap shape (StreamSocket.scala:15) as an
    Arrow-batched Python generator.
    """

    def tokenize(batches):
        import pandas as pd

        for pdf in batches:
            toks = (
                pdf["text"]
                .str.lower()
                .str.split(" ")
                .explode()
            )
            toks = toks[toks != ""]
            yield pd.DataFrame({"tok_len": toks.str.len().astype("int64")})

    docs = datasets.load(spark, sf_dir, "documents")
    out = docs.select("text").mapInPandas(tokenize, schema="tok_len long")
    return out.groupBy("tok_len").agg(F.count("*").alias("n"))


@register(
    "udf_grouped_agg_median",
    oracle="""
        SELECT lang, round(CAST(median(n_chars) AS DOUBLE), 2) AS median_chars
        FROM documents
        GROUP BY lang
    """,
    tags=("U3",),
)
def q_udf_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: grouped-aggregate pandas UDF (Flink AggregateFunction analog) —
    per-language median of n_chars.

    numpy's interpolated median == DuckDB's median for numeric input.
    """

    @F.pandas_udf(DoubleType())
    def median_udf(v: pd.Series) -> float:
        return float(np.median(v))

    docs = datasets.load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(median_udf("n_chars"), 2).alias("median_chars")
    )


@register(
    "udf_grouped_map_zscore",
    oracle="""
        WITH s AS (SELECT source,
                          AVG(n_chars) AS mu,
                          stddev_pop(n_chars) AS sigma
                   FROM documents GROUP BY source)
        SELECT doc_id, d.source,
               round((n_chars - mu) / sigma, 3) AS z
        FROM documents d JOIN s ON d.source = s.source
    """,
    tags=("U4",),
)
def q_udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: grouped-map applyInPandas (KeyedProcessFunction batch analog) —
    z-score n_chars within each source group.

    Mirrors SQL exactly: mean as sum/n in pandas' order == DuckDB AVG at
    3-dp rounding; sigma is population stddev on both sides.
    """

    def zscore(pdf):
        mu = pdf["n_chars"].mean()
        sigma = pdf["n_chars"].std(ddof=0)
        out = pdf[["doc_id", "source"]].copy()
        out["z"] = ((pdf["n_chars"] - mu) / sigma).round(3)
        return out

    docs = datasets.load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "source", "n_chars")
        .groupBy("source")
        .applyInPandas(zscore, schema="doc_id long, source string, z double")
    )
