"""Fixture loader: a table's schema is inferred once per file version, so a
warm ``datasets.load`` (and a warm query build) runs no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from flinkexp_spark import datasets
from flinkexp_spark.registry import queries


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_load_runs_no_job(spark, sf_dir):
    datasets.load(spark, sf_dir, "lineitem")
    jobs = _jobs_in_group(
        spark, "test_datasets:warm_load", lambda: datasets.load(spark, sf_dir, "lineitem")
    )
    assert jobs == 0


def test_rewritten_table_file_returns_new_schema(spark, tmp_path):
    path = datasets.table_path(str(tmp_path), "nation")
    pq.write_table(pa.table({"n_nationkey": [1, 2]}), path)
    first = datasets.load(spark, str(tmp_path), "nation")
    assert first.columns == ["n_nationkey"]

    pq.write_table(pa.table({"n_nationkey": [1, 2], "n_name": ["a", "b"]}), path)
    second = datasets.load(spark, str(tmp_path), "nation")
    assert second.columns == ["n_nationkey", "n_name"]
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b")]


def test_missing_table_path_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        datasets.load(spark, str(tmp_path / "absent"), "nation")


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    n1 = datasets.load(spark, sf_dir, "nation").alias("n1")
    n2 = datasets.load(spark, sf_dir, "nation").alias("n2")
    got = (
        n1.join(n2, n1.n_regionkey == n2.n_regionkey)
        .selectExpr("n1.n_nationkey AS a", "n2.n_nationkey AS b")
        .collect()
    )
    rows = datasets.load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").collect()
    expect = sorted(
        (x.n_nationkey, y.n_nationkey)
        for x in rows
        for y in rows
        if x.n_regionkey == y.n_regionkey
    )
    assert sorted((r.a, r.b) for r in got) == expect


# Build jobs a warm query runs in its own job group.  The replay's micro-
# batches run on the stream thread, outside the group, and
# stream_wordcount_update's input is the untouched documents table, which
# staging copies without a job.  The sim_search,
# PQ, MinHash and tokenizer queries build on state trained once per
# SparkContext (session.memo): a warm build that retrains runs jobs here.
WARM_BUILD_JOBS = {
    "wordcount_batch": 0,
    "join_broadcast_star": 0,
    "multimodal_decode_bzip2": 0,
    "stream_wordcount_update": 0,
    "sql_tpch_q5": 0,
    "sim_search_ivf": 0,
    "sim_search_recall_ivf": 0,
    "embed_quantize_pq": 0,
    "sim_search_ivfpq_adc": 0,
    "dedup_minhash_lsh": 0,
    "tokenizer_bpe_encode": 0,
    "tokenizer_unigram_encode": 0,
}


@pytest.mark.parametrize("name", sorted(WARM_BUILD_JOBS))
def test_warm_query_build_jobs(spark, sf_dir, name):
    q = queries()[name]
    q(spark, sf_dir)
    jobs = _jobs_in_group(spark, f"test_datasets:{name}#build", lambda: q(spark, sf_dir))
    assert jobs == WARM_BUILD_JOBS[name]
