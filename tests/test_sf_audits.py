"""Round-11 additions: sampled sf-scale audit queries (r10 verdict #3) and
the scaled-K two-level assignment switch (r10 verdict #6).

The audits exist to put losslessness signal at sf1 behind the queries whose
full exhaustive oracles are excluded there as deliberate quadratic proofs
(tools/make_sf1_artifact.py EXCLUSION_REASONS).  These tests pin the two
properties a hash match alone cannot prove:

* NON-VACUITY — each audit's sampled pair space actually contains pairs at
  fixture scale (the r07 geo lesson: a 0-rows-vs-0-rows hash proves
  nothing).
* COLLAPSE — below the sampling/switch thresholds the audits and the
  scaled assignment degrade to the full exhaustive forms, so the shipped
  fixtures keep their original, unchanged contracts.
"""

from __future__ import annotations

import duckdb
import pytest

from flinkexp_spark.catalog import llm_similarity as LS
from flinkexp_spark.registry import REGISTRY


def test_jaccard_audit_nonvacuous_at_fixture_scale(spark, sf_dir):
    """Stride 1 at <=700 docs: the audit IS the full proof, and the fixture
    plants pairs — 0 rows here means the sampler broke."""
    rows = REGISTRY["dedup_jaccard_prefix_sf_audit"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    full = REGISTRY["dedup_jaccard_prefix"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, full))


def test_geo_audit_nonvacuous_under_md5_sampling(spark):
    """sf0.01 is the first fixture where the customer modulus exceeds 1
    (1500 // 600 = 2): the md5 bucketing must keep a healthy share of the
    274 population pairs — an id stride keeps ZERO (measured: the synthetic
    coordinate lattice gives every pair opposite-parity keys)."""
    df = REGISTRY["geo_neighbor_pairs_sf_audit"].fn(
        spark, "/root/testdata/sf0.01"
    )
    n = df.count()
    assert n >= 20, f"md5-bucket sample kept only {n} pairs — vacuity risk"


def test_graph_beam_audit_collapses_to_full_query_at_fixture_scale(
    spark, sf_dir
):
    """<= AUDIT_VEC_TARGET vectors: stride 1 and the renumber is the
    identity, so the audit must return the EXACT full-query result."""
    audit = (
        REGISTRY["sim_search_graph_beam_sf_audit"].fn(spark, sf_dir).collect()
    )
    full = REGISTRY["sim_search_graph_beam"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, audit)) == sorted(map(tuple, full))


def test_recall_graph_audit_meets_floor_at_fixture_scale(spark, sf_dir):
    """At fixture scale the audit recall equals the pinned full-corpus
    contract (>= 0.90) because the sample is the whole corpus."""
    row = (
        REGISTRY["sim_search_recall_graph_sf_audit"].fn(spark, sf_dir)
        .collect()[0]
    )
    assert row["recall_x1000"] >= 900
    assert row["truth_pairs"] > 0


def test_scaled_assignment_collapses_to_flat_below_switch(spark, sf_dir):
    """K <= IVF2_SWITCH_K must route to the EXACT flat ranking — the
    shipped unrolled oracles embed that assumption."""
    from flinkexp_spark import datasets

    emb = datasets.load(spark, sf_dir, "embeddings")
    cent = LS._ivf_centroids_df(spark, emb, sf_dir)
    flat = LS._ivf_assign_df(emb, cent).select("vec_id", "cent_id", "crnk")
    scaled = LS._ivf_assign_scaled_df(emb, cent, LS.IVF_K).select(
        "vec_id", "cent_id", "crnk"
    )
    assert sorted(map(tuple, flat.collect())) == sorted(
        map(tuple, scaled.collect())
    )


def test_scaled_assignment_descends_above_switch(spark, sf_dir):
    """K > IVF2_SWITCH_K must produce the two-level descent: per-vector
    candidate cells restricted to IVF2_IREPL groups (crnk depth bounded by
    the picked groups' cells, not all K)."""
    from flinkexp_spark import datasets
    from pyspark.sql import functions as F

    emb = datasets.load(spark, sf_dir, "embeddings")
    k = LS.IVF2_SWITCH_K + 8
    cent = LS._ivf_centroids_df(spark, emb, f"{sf_dir}#sw", k)
    ranked = LS._ivf_assign_scaled_df(emb, cent, k)
    max_depth = ranked.agg(F.max("crnk")).collect()[0][0]
    # flat ranking would rank all K cells per vector; the descent ranks
    # only the picked groups' cells — strictly fewer than K at this G
    assert max_depth < k
    # every vector still gets a rank-1 cell
    n_vec = emb.count()
    n_first = ranked.filter(F.col("crnk") == 1).count()
    assert n_first == n_vec


@pytest.mark.parametrize("k", [2, 3, 4, 33, 63, 64, 65, 80, 81, 100, 9999])
def test_ceil_sqrt_matches_sql(k):
    """The Python ceil-sqrt and the oracle's CEIL(SQRT(k)) must agree —
    the descent's G is computed independently on each side."""
    con = duckdb.connect()
    sql_g = con.execute(f"SELECT CAST(ceil(sqrt({k})) AS BIGINT)").fetchone()[0]
    assert LS.ceil_sqrt(k) == sql_g


def test_ivf_bucketed_index_path_distinct_per_full_sf_dir(spark, sf_dir):
    """Round-11 ADVICE regression: two fixture dirs sharing a BASENAME must
    not share a session cache entry or an on-disk index path."""
    import os

    from flinkexp_spark import datasets

    emb = datasets.load(spark, sf_dir, "embeddings")
    # same basename, different parent — the pre-fix cache keyed on basename
    # only and would silently reuse sf_dir's index for the alias.  (A plain
    # path suffices: the path function resolves without requiring the dir
    # to exist, and the index write targets the warehouse, not the alias.)
    alias = os.path.join("/tmp/ivfb_alias_parent", os.path.basename(sf_dir))
    p1 = LS._ivf_bucketed_index_path(spark, emb, sf_dir)
    p2 = LS._ivf_bucketed_index_path(spark, emb, alias)
    assert p1 != p2
    # and the app id scopes the directory against cross-process overwrite
    assert spark.sparkContext.applicationId in p1


def test_ivf_bucketed_index_is_scratch_removed_at_exit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The on-disk IVF index is a throwaway write: it lives under the
    scratch root (never in the repo), is keyed by the resolved sf_dir, and
    is removed when the driver process exits."""
    import atexit
    import os
    import shutil

    from flinkexp_spark import datasets
    from flinkexp_spark.streaming import replay

    at_exit = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a: at_exit.append((fn, a)))
    emb = datasets.load(spark, sf_dir, "embeddings")
    alias = str(tmp_path / os.path.basename(sf_dir))
    path = LS._ivf_bucketed_index_path(spark, emb, alias)
    assert os.path.commonpath([path, replay.SCRATCH_ROOT]) == replay.SCRATCH_ROOT
    assert os.listdir(path)
    # another spelling of the same directory is the same entry: no rewrite
    assert LS._ivf_bucketed_index_path(spark, emb, alias + "/.") == path
    (args,) = [a for fn, a in at_exit if fn is shutil.rmtree]
    shutil.rmtree(*args)
    assert not os.path.exists(path)
