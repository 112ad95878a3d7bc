"""X3 similarity search over ``embeddings`` (64-dim ``array<float>``):
brute-force cosine top-k, LSH-bucketed ANN, and embedding-cosine near-dup
pairs (SURVEY §2.3).

No reference analog; north-star operators.  Determinism contract is in
functions/vectors.py: explicitly-ordered double folds on both engines,
(rounded score, vec_id) ordering, md5-derived literal hyperplanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions import text as T
from flinkexp_spark.functions import vectors as V
from flinkexp_spark.registry import register
from flinkexp_spark.session import memo

N_QUERIES = 20  # vec_id < 20 are the probe set
TOP_K = 10
NEARDUP_COS = 0.35

_COS = V.cosine_sql("q.embedding", "c.embedding")


def _topk(scored):
    """Deterministic per-query top-k: (rounded score desc, match_id) rank.

    The ONE definition of the tie-break contract shared by every search
    variant (brute, ANN, IVF, ADC) — rounded scores make the ordering
    engine-independent, match_id breaks the residual ties.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("match_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )



def _brute_oracle_sql(
    src: str = "embeddings", prefix_ctes: tuple[str, ...] = ()
) -> str:
    """Brute-force top-k oracle over ``src`` (a table or prior CTE name) —
    shared by sim_search_topk and the sampled sf1 audits."""
    pre = "".join(c + "," for c in prefix_ctes)
    return f"""
        WITH {pre}p AS (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   round({_COS}, {V.COS_DECIMALS}) AS score
            FROM {src} q JOIN {src} c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM p)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """


@register(
    "sim_search_topk",
    oracle=_brute_oracle_sql(),
    tags=("X3",),
)
def q_sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: brute-force cosine top-k (k=10) for 20 probe vectors.

    The probe set is broadcast (it is small by construction); the corpus is
    scanned once with the dot product evaluated JVM-side via array lambdas —
    no Python, no shuffle of the corpus.  Top-k per query via ranking window
    over the (tiny) probe x corpus score set.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    return _brute_topk_df(emb)


def _brute_topk_df(emb: DataFrame) -> DataFrame:
    """q_sim_search_topk's pipeline parametrized by the corpus DF (the
    sampled sf1 audits reuse it on a subcorpus)."""
    # norms precomputed per ROW (one corpus pass), so each probe x corpus
    # pair pays one dot — dot/(nq*nc) is float-identical to V.cosine
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            V.norm(F.col("embedding")).alias("nq"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("cv"),
        V.norm(F.col("embedding")).alias("nc"),
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(
                V.dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
                V.COS_DECIMALS,
            ).alias("score"),
        )
    )
    return _topk(scored)


@register(
    "sim_search_ann",
    oracle=f"""
        WITH b AS (SELECT vec_id, embedding,
                          {V.lsh_bucket_sql('embedding')} AS bucket
                   FROM embeddings),
        p AS (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   round({_COS}, {V.COS_DECIMALS}) AS score
            FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM p)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """,
    tags=("X3",),
)
def q_sim_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: ANN via random-hyperplane LSH — candidates share the
    probe's 8-bit sign bucket, cutting comparisons ~256x.

    At 100 TB the corpus is written partitioned by bucket so a probe scans
    one partition; here the bucket equi-join expresses the same pruning.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        V.lsh_bucket(F.col("embedding")).alias("bucket"),
        V.norm(F.col("embedding")).alias("nv"),
    )
    q = F.broadcast(
        b.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("bucket").alias("qb"),
            F.col("nv").alias("nq"),
        )
    )
    c = b.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("cv"),
        F.col("bucket").alias("cb"),
        F.col("nv").alias("nc"),
    )
    scored = (
        q.join(c, (F.col("qb") == F.col("cb")) & (F.col("query_id") != F.col("match_id")))
        .select(
            "query_id",
            "match_id",
            F.round(
                V.dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
                V.COS_DECIMALS,
            ).alias("score"),
        )
    )
    return _topk(scored)


@register(
    "embed_neardup_cosine",
    # r14: oracle dot switched to DuckDB's vectorized list_dot_product —
    # BITWISE-identical to the explicit fold (both accumulate doubles in
    # element order; proven on every sf0.1 pair and pinned in
    # tests/test_vectors_native.py) — sf1 oracle 44s -> ~5s, same hash.
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
                   sqrt({V._dot_sql_native('embedding', 'embedding')}) AS nv
            FROM embeddings),
        p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.emb, b.emb)
                         / (a.nv * b.nv), {V.COS_DECIMALS}) AS score
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, score FROM p WHERE score >= {NEARDUP_COS}
    """,
    tags=("X2", "X3"),
)
def q_embed_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3: embedding-cosine near-dup pairs, blocked by cluster label.

    The label acts as the IVF coarse quantizer: pairs are only scored
    within a block, so the pair space is sum-of-block² not corpus² — the
    standard structure for embedding dedup at scale (cluster first, then
    pairwise inside cells).

    r14 engine plan (444s -> ~20s at sf1): the per-pair work is DENSE
    LINEAR ALGEBRA, so the pair loop moved from a 20M-row self-join
    evaluating an interpreted 64-element ``aggregate`` fold per pair
    into ONE Arrow ``applyInPandas`` per label block that accumulates
    the full block Gram matrix dimension-by-dimension
    (``G += col_d ⊗ col_d``, 64 vectorized rank-1 updates).  That
    accumulation order — doubles added dimension 0..63, starting from
    0.0 — is IEEE-identical to the fold's left-to-right sum, so every
    raw score is the SAME double the old plan produced (asserted
    bit-for-bit in tests/test_vectors_native.py).  Rounding and the
    threshold stay in SPARK expressions on the returned raw double
    (F.round half-up == the oracle's round), with a lossless pre-filter
    margin (raw >= τ - 1e-4) inside Python so only ~candidate pairs
    cross Arrow, not the 20M-pair matrix.

    At 100 TB: blocks are the coarse cells of the clustering; each cell
    streams through one executor as a single Arrow group and computes
    its Gram block with BLAS-shaped kernels — the standard blocked
    design for all-pairs similarity (cell width is bounded by the
    clusterer, cf. dedup_semantic's corpus-scaled K), and no cross-cell
    pair is ever materialized.  Python boundary adjudicated in
    tools/plan_scan.py PY_ALLOWED_NAMES.
    """
    emb = datasets.load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    margin = NEARDUP_COS - 1e-4  # keeps every round(x,5) >= τ candidate

    def block_pairs(pdf):
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        A = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        n, dim = A.shape
        gram = np.zeros((n, n), dtype=np.float64)
        for d in range(dim):  # dimension-ordered: bit-identical to the
            col = A[:, d]     # fold's left-to-right element sum
            gram += col[:, None] * col[None, :]
        nv = np.sqrt(np.diag(gram))
        iu, ju = np.triu_indices(n, k=1)
        raw = gram[iu, ju] / (nv[iu] * nv[ju])
        keep = raw >= margin
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "raw": raw[keep],
            }
        )

    cand = emb.groupBy("label").applyInPandas(
        block_pairs, schema="id_a long, id_b long, raw double"
    )
    score = F.round(F.col("raw"), V.COS_DECIMALS)
    return cand.select("id_a", "id_b", score.alias("score")).filter(
        F.col("score") >= NEARDUP_COS
    )


IVF_K = 8       # coarse-quantizer cells; seed centroids = embeddings vec_id < K
# Recall/cost knobs.  Scan cost ~ (IVF_REPL * IVF_NPROBE)/K of brute force:
# each corpus vector is indexed into its IVF_REPL nearest cells (boundary
# replication, the SPANN/cluster-overlap trick), and each query probes its
# IVF_NPROBE nearest cells.  Measured recall@10 on the sf0.01 fixture
# (500 vecs, 2 Lloyd rounds):
#     R=1: nprobe 2 -> 0.63, 3 -> 0.76, 4 -> 0.82   (more Lloyd iters do
#          NOT move these — recall at fixed nprobe is bound by the DATA's
#          neighbor structure, not centroid quality)
#     R=2: nprobe 2 -> 0.82, 3 -> 0.905
# R=2/nprobe=2 scans the same candidate volume as R=1/nprobe=4 but halves
# the query-side probe fan-out by paying 2x index storage — the right trade
# when queries outnumber index builds (always, at serving scale).  Boundary
# vectors are exactly the ones replication catches: their true neighbors
# straddle the cell wall.  Default floor-tested recall >=0.8 at nprobe=2.
IVF_NPROBE = 2
IVF_REPL = 2    # corpus-side multi-assignment (cells per indexed vector)
IVF_ITERS = 2   # Lloyd refinement rounds (k-means with deterministic seed)
IVF_FP = 1_000_000  # fixed-point scale for centroid means (see below)
IVF_TARGET_CELL = 250  # target cell width for scaled_ivf_k (8 cells at <=2000 vecs)


# --- int8 max-abs quantization: THE single definition -----------------------
# Shared by embed_quantize_int8 and sim_search_adc_rerank (and mirrored by
# _SCALE_SQL/_QV_SQL on the oracle side): per-vector max-abs scale, half-up
# integer codes.  One place to fix edge cases (e.g. all-zero vectors), both
# queries stay bit-aligned.

def _int8_scale(vec: str = "embedding"):
    # Clamped to 1e-30: an all-zero vector has max-abs 0 (x*127/0 -> NaN/Inf
    # codes, which Spark casts to NULL but DuckDB's CAST(floor(nan)) errors),
    # and an empty vector leaves the fold at its -inf init.  The clamp maps
    # both to codes of all-zero / empty in BOTH engines (mirrored in
    # _SCALE_SQL below).
    return F.greatest(
        F.aggregate(
            F.transform(F.col(vec), lambda x: F.abs(x.cast("double"))),
            F.lit(float("-inf")).cast("double"),
            lambda a, b: F.greatest(a, b),
        ),
        F.lit(1e-30),
    )


def _int8_codes(vec: str = "embedding", scale: str = "scale"):
    return F.transform(
        F.col(vec),
        lambda x: F.floor(
            x.cast("double") * 127.0 / F.col(scale) + 0.5
        ).cast("long"),
    )


# --- deterministic Lloyd iteration ------------------------------------------
# Cross-engine exactness: centroid means are computed in FIXED POINT —
# component -> floor(x * 1e6) as BIGINT, summed per cell (integer addition is
# order-independent, unlike float sums), mean = floor(sum / n) back at 1e-6
# resolution.  Both engines therefore build BIT-IDENTICAL centroid arrays,
# and assignments (rounded cosine + cent_id tiebreak) match exactly.


def _ivf_assign_df(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Rank cells per vector by (rounded cosine DESC, cent_id ASC).

    ``_widen`` first: the N*K interpreted cosine folds inherit the SCAN's
    split count, and a small-but-expensive embedding file otherwise runs
    the whole affinity on 1-2 cores (r15, guide §2.5 stragglers: the sf1
    serve stage measured (1+1)/2 tasks, 3.1-3.6 s of a 4.4 s serve; no-op
    once the corpus yields >= core-count splits).  Gated on the plan-
    estimated input size: below ~2 MB the added exchange + stage cost more
    than the serialized fold (interleaved sf0.1 A/B: ungated widen cost
    the family ~1.7 s/run; the gated form is a no-op there and keeps the
    sf1 win).  Repartition is value-neutral: every downstream rank is
    per-vector with full deterministic tie-breaks."""
    emb = T._widen(emb, min_bytes=2 << 20)
    aff = emb.join(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "cent_id",
        F.round(V.cosine(F.col("embedding"), F.col("centv")), V.COS_DECIMALS).alias(
            "cscore"
        ),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cscore"), F.asc("cent_id")
    )
    return aff.withColumn("crnk", F.row_number().over(w_assign))


def _ivf_assign_top1_df(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """``_ivf_assign_df(...).filter(crnk == 1)``: per-vector argmax cell
    (highest ROUNDED cosine, ties to the smallest cent_id), as one Arrow
    ``mapInPandas`` against the collected K x DIM centroid matrix (guide
    §4.2 — the r14 Gram-kernel recipe applied to the N*K affinity).  Used
    only by the Lloyd training loop, where each of IVF_ITERS rounds paid
    N*K interpreted 64-element folds (r14's min_by shape; 31.5 s/round at
    sf1's 20k x 80) — the kernel reproduces the folds bit-for-bit in
    3.3 s/round:

    * dots and self-dots accumulate DIMENSION-ORDERED from 0.0 (``S +=
      col_d ⊗ C_d``), IEEE-identical to the fold's left-to-right sum (the
      dedup_semantic proof, tests/test_vectors_native.py);
    * the argmax compares ROUNDED scores exactly: the fast path takes the
      raw argmax (rounding is monotone, so it attains the rounded max and
      a unique near-max is the unique rounded max); rows whose runner-ups
      sit within 2*10^-COS_DECIMALS of the max — the only ones whose
      rounded values can tie — re-rank those few cells under the exact
      Spark/Java semantics (Decimal(shortest-repr), HALF_UP, == java
      BigDecimal.valueOf(x).setScale(d, HALF_UP)), lowest cent_id first.

    Member sets verified identical to the min_by plan at sf0.1 (K=8) and
    sf1 (K=80): exceptAll both ways = 0.  The kernel runs inside the
    training collect() jobs only, so no Python node enters any declared
    query's plan; centroids are driver-sized (K x DIM) by construction.
    """
    import numpy as np

    src = emb.select("vec_id", "embedding")
    crows = sorted(cent.collect(), key=lambda r: r["cent_id"])
    ids = np.array([r["cent_id"] for r in crows], dtype=np.int64)
    C = np.array([list(r["centv"]) for r in crows], dtype=np.float64)
    cn2 = np.zeros(len(C), dtype=np.float64)
    for d in range(C.shape[1]):
        cn2 += C[:, d] * C[:, d]
    cn = np.sqrt(cn2)
    emb_t = src.schema["embedding"].dataType.simpleString()
    out_schema = f"vec_id long, cent_id long, embedding {emb_t}"
    n_dec = V.COS_DECIMALS
    band = 2.0 * (10.0 ** -n_dec)

    def assign(batches):
        # ids/C/cn ride along in the closure (K x DIM, small)
        import numpy as _np
        import pandas as _pd
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-n_dec)
        for pdf in batches:
            if not len(pdf):
                continue
            A = _np.stack(
                [_np.asarray(v, dtype=_np.float64) for v in pdf["embedding"]]
            )
            n, dim = A.shape
            S = _np.zeros((n, len(ids)))
            an2 = _np.zeros(n)
            for d in range(dim):
                col = A[:, d]
                S += col[:, None] * C[:, d][None, :]
                an2 += col * col
            cos = S / (_np.sqrt(an2)[:, None] * cn[None, :])
            mx = cos.max(axis=1)
            close = cos >= (mx[:, None] - band)
            win = cos.argmax(axis=1)
            for i in _np.flatnonzero(close.sum(axis=1) > 1):
                cand = _np.flatnonzero(close[i])
                r = [
                    Decimal(repr(float(cos[i, j]))).quantize(q, ROUND_HALF_UP)
                    for j in cand
                ]
                best = max(r)
                win[i] = cand[next(k2 for k2, rv in enumerate(r) if rv == best)]
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cent_id": ids[win],
                    "embedding": pdf["embedding"].values,
                }
            )

    return src.mapInPandas(assign, out_schema)


def _scaled_k_sql(src: str = "embeddings") -> str:
    """SQL mirror of ``scaled_ivf_k(COUNT(*))`` for K-dynamic oracles.

    Collapses to the literal IVF_K at every shipped oracle/bench fixture
    (<= 2000 vectors) and tracks the Spark side's corpus-scaled K beyond
    (sf1: K=80 at 20k vectors) — used by the oracles whose Spark twin
    passes ``k=scaled_ivf_k(...)`` (dedup_semantic, the graph-ANN family).
    ``src``: the vector table/CTE name (the *_sf_audit oracles pass their
    sampled-subcorpus CTE)."""
    return (
        f"greatest({IVF_K}, "
        f"(SELECT COUNT(*) FROM {src}) // {IVF_TARGET_CELL})"
    )


def scaled_ivf_k(n_vectors: int) -> int:
    """Data-scaled cell count: K = max(IVF_K, n // IVF_TARGET_CELL).

    SemDeDup's pair space is sum-of-cell² — with FIXED K a 10x corpus
    densifies every cell 10x and pair work grows ~100x (the sf1 stress
    run measured dedup_semantic at scaling exponent 1.35, BENCH_SF1.json).
    Holding cell width near IVF_TARGET_CELL keeps pair work linear; the
    assignment pass pays the standard IVF N*K dot products.  The constant
    is picked so every shipped correctness/bench fixture (<= 2000 vectors)
    still yields exactly IVF_K=8 — the unrolled DuckDB oracles embed that
    literal, and this formula provably agrees with them at oracle scale.
    """
    return max(IVF_K, n_vectors // IVF_TARGET_CELL)


# Above this cell count, scaled-K consumers assign via the TWO-LEVEL
# descent instead of the flat N*K ranking (r10 verdict #6): with
# K = n/IVF_TARGET_CELL the flat assignment pass is itself O(n²/250) —
# fine at sf1 (K=80), the next real superlinearity at 100 TB.  The sqrt-K
# descent costs N*(G + IREPL*K/G) with G = ceil(sqrt(K)).  The switch sits
# ABOVE every shipped fixture's K (= IVF_K = 8, trip-wired in
# tests/test_llm_ops.py) so the small-sf oracles/hashes are untouched, and
# BELOW sf1's K=80 so the descent is the path the sf1 sweep hash-verifies.
IVF2_SWITCH_K = 32

# Two-level IVF knobs (the hierarchy section further down documents the
# design; defined here because the scaled-K oracles built at import time
# reference them before that section executes).
IVF2_G = 3       # super-groups over the fine centroids (sim_search_ivf2)
IVF2_SPROBE = 2  # super-groups a QUERY descends into
IVF2_IREPL = 2   # super-groups an INDEXED vector descends into (cross-wall
#                  replication, the SPANN trick one level up: 1 group
#                  measures recall 0.625/0.71 at sf0.001/sf0.01, 2 groups
#                  0.72/0.735 for 2x index-assignment work)


def ceil_sqrt(k: int) -> int:
    """Integer ceil(sqrt(k)) — agrees with SQL CEIL(SQRT(k)) for every
    BIGINT k whose sqrt fits a double's 53-bit mantissa comfortably
    (IEEE sqrt is correctly rounded; a non-square's sqrt is irrational and
    sits at least 1/(2m+1) from any integer m, far beyond one ulp)."""
    import math

    return math.isqrt(k - 1) + 1 if k > 1 else 1


def _ivf_assign_scaled_df(emb: DataFrame, cent: DataFrame, k: int) -> DataFrame:
    """Cell assignment that stays sub-quadratic under corpus-scaled K.

    K <= IVF2_SWITCH_K: the exact flat ranking (_ivf_assign_df, N*K dots).
    K  > IVF2_SWITCH_K: two-level descent (the sim_search_ivf2 machinery
    with G = ceil(sqrt(K)) supers and IVF2_IREPL cross-wall groups),
    N*(G + IREPL*K/G) dots.  The descent is approximate (a group wall can
    hide the true nearest cell) but fully deterministic, and the scaled-K
    oracles mirror BOTH branches via _aff_scaled_ctes — so hash
    verification holds on either side of the switch."""
    if k <= IVF2_SWITCH_K:
        return _ivf_assign_df(emb, cent)
    return _ivf2_assign_df(emb, cent, sprobe=IVF2_IREPL, g=ceil_sqrt(k))


def _ivf_centroids_df(
    spark: SparkSession, emb: DataFrame, key: str, k: int = IVF_K
) -> DataFrame:
    """K seed centroids refined by IVF_ITERS Lloyd rounds (fixed-point means).

    Centroids are materialized driver-side between rounds (K x DIM doubles —
    the "model state" every distributed k-means broadcasts anyway): each
    round then starts from a literal centroid table instead of replaying the
    previous round's whole plan, keeping per-round cost one corpus pass.

    ``key`` names the corpus (the sf_dir, or an audit's sample key): the
    refined table is memoized per (key, k) per SparkContext, so
    sim_search_ivf, the graph build and dedup_semantic share one quantizer
    at fixture scale, like the shared MinHash signature table
    (llm_dedup.signature_table).  Callers that must stay linear under
    corpus growth pass :func:`scaled_ivf_k` of their count as ``k``.
    """

    def train() -> DataFrame:
        cent = emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").cast("array<double>").alias("centv"),
        )
        for _ in range(IVF_ITERS):
            members = _ivf_assign_top1_df(emb, cent).select(
                "cent_id", "embedding"
            )
            cent = _lloyd_means(
                spark, members, ["cent_id"], "embedding", "centv", IVF_FP
            )
        return cent

    return memo(spark, ("ivf_centroids", key, k), train)


def _lloyd_means(
    spark: SparkSession,
    members: DataFrame,
    keys: list[str],
    vec: str,
    out: str,
    fp: int,
) -> DataFrame:
    """One fixed-point Lloyd mean step, collected to a driver-local table.

    ``members`` holds one row per (cell ``keys``, member vector ``vec``);
    each component becomes floor(x * fp) as BIGINT, the per-(cell, pos)
    mean is the floored integer mean, and the new centroid ``out`` is the
    pos-sorted list of means / fp.  :func:`_lloyd_mean_ctes` is the SQL
    mirror; both engines build bit-identical centroids."""
    comp = members.select(*keys, F.posexplode(vec).alias("pos", "x")).select(
        *keys,
        "pos",
        F.floor(F.col("x").cast("double") * fp).cast("long").alias("fp"),
    )
    mean_fp = comp.groupBy(*keys, "pos").agg(
        F.floor(F.sum("fp") / F.count("*")).cast("long").alias("mfp")
    )
    rows = (
        mean_fp.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mfp"))),
                lambda t: t["mfp"] / F.lit(float(fp)),
            ).alias(out)
        )
        .collect()
    )
    schema = "".join(f"{c} long, " for c in keys) + f"{out} array<double>"
    return datasets.local_df(spark, rows, schema)


def _lloyd_mean_ctes(
    members: str, mean: str, cent: str, key: str, vec: str, out: str,
    dim: int, fp: int,
) -> list[str]:
    """SQL mirror of :func:`_lloyd_means`: ``mean`` holds the per-(key,
    pos) fixed-point means of ``members``' ``vec`` components, ``cent``
    the refined (key, ``out``) centroids."""
    return [
        f"""{mean} AS (
            SELECT {key}, i.pos,
                   CAST(floor(SUM(CAST(floor(CAST({vec}[i.pos + 1] AS DOUBLE)
                                              * {fp}) AS BIGINT))
                              / COUNT(*)) AS BIGINT) AS mfp
            FROM {members}, (SELECT unnest(range({dim})) AS pos) i
            GROUP BY {key}, i.pos)""",
        f"""{cent} AS (
            SELECT {key}, array_agg(mfp / {float(fp)} ORDER BY pos) AS {out}
            FROM {mean} GROUP BY {key})""",
    ]


def _lloyd_ctes(
    k_sql: str | None = None, src: str = "embeddings"
) -> tuple[list[str], str]:
    """Unrolled Lloyd CTE chain mirroring :func:`_ivf_centroids_df` exactly.

    Returns (cte_list, final_centroid_cte_name); shared by every oracle that
    needs the deterministic cell assignment (sim_search_ivf, dedup_semantic).

    ``k_sql``: SQL expression for the seed-cell count (default: the literal
    IVF_K).  The chain is K-agnostic beyond this one seed filter — every
    later CTE just groups by cent_id — so an oracle whose Spark twin scales
    K with corpus size (dedup_semantic) passes the mirror expression of
    :func:`scaled_ivf_k` and stays valid at ANY fixture scale, not only the
    ones where the formula collapses to IVF_K.
    """
    k_expr = k_sql if k_sql is not None else str(IVF_K)
    ctes = [
        f"cent0 AS (SELECT vec_id AS cent_id, embedding AS centv\n"
        f"           FROM {src} WHERE vec_id < ({k_expr}))"
    ]
    for t in range(IVF_ITERS):
        cos = V.cosine_sql("e.embedding", "c.centv")
        ctes.append(
            f"""assign{t} AS (
            SELECT embedding, cent_id FROM (
                SELECT e.embedding, c.cent_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({cos}, {V.COS_DECIMALS}) DESC,
                                    c.cent_id
                       ) AS crnk
                FROM {src} e CROSS JOIN cent{t} c)
            WHERE crnk = 1)"""
        )
        ctes += _lloyd_mean_ctes(
            f"assign{t}", f"comp{t}", f"cent{t + 1}", "cent_id",
            "embedding", "centv", V.DIM, IVF_FP,
        )
    return ctes, f"cent{IVF_ITERS}"


def _aff_scaled_ctes(k_sql: str, src: str = "embeddings") -> list[str]:
    """CTE chain ending in ``aff`` (vec_id, embedding, cent_id, crnk) that
    mirrors :func:`_ivf_assign_scaled_df` EXACTLY — including the branch.

    Appended after :func:`_lloyd_ctes(k_sql)`'s chain (references its final
    centroid CTE).  Both branches are written out and gated on the scalar
    K (``kk``): at K <= IVF2_SWITCH_K only ``aff_flat`` (the classic
    N*K ranking) produces rows; above it only the two-level descent does —
    G = ceil(sqrt(K)) supers, each fine cell in its nearest super's group,
    each vector descending into its IVF2_IREPL nearest groups.  UNION ALL
    of two disjoint-by-construction sides keeps the plan set-free."""
    _, final = _lloyd_ctes()  # name only — the caller emits the chain
    cos_flat = V.cosine_sql("e.embedding", "c.centv")
    cos_grp = V.cosine_sql("c.centv", "s.superv")
    cos_pick = V.cosine_sql("e.embedding", "s.superv")
    cos_desc = V.cosine_sql("p.embedding", "g2.centv")
    return [
        f"kk AS (SELECT ({k_sql}) AS kv)",
        f"""aff_flat AS (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cos_flat}, {V.COS_DECIMALS}) DESC,
                                c.cent_id) AS crnk
            FROM {src} e CROSS JOIN {final} c
            WHERE (SELECT kv FROM kk) <= {IVF2_SWITCH_K})""",
        f"""sup2 AS (
            SELECT cent_id AS super_id, centv AS superv FROM {final}
            WHERE cent_id < (SELECT CAST(ceil(sqrt(kv)) AS BIGINT) FROM kk)
              AND (SELECT kv FROM kk) > {IVF2_SWITCH_K})""",
        f"""grp2 AS (
            SELECT cent_id, centv, super_id FROM (
                SELECT c.cent_id, c.centv, s.super_id,
                       row_number() OVER (PARTITION BY c.cent_id
                           ORDER BY round({cos_grp}, {V.COS_DECIMALS}) DESC,
                                    s.super_id) AS grnk
                FROM {final} c CROSS JOIN sup2 s) WHERE grnk = 1)""",
        f"""pick2 AS (
            SELECT vec_id, embedding, super_id FROM (
                SELECT e.vec_id, e.embedding, s.super_id,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY round({cos_pick}, {V.COS_DECIMALS}) DESC,
                                    s.super_id) AS srnk
                FROM {src} e CROSS JOIN sup2 s)
            WHERE srnk <= {IVF2_IREPL})""",
        f"""aff_desc AS (
            SELECT p.vec_id, p.embedding, g2.cent_id,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY round({cos_desc}, {V.COS_DECIMALS}) DESC,
                                g2.cent_id) AS crnk
            FROM pick2 p JOIN grp2 g2 ON p.super_id = g2.super_id)""",
        """aff AS (SELECT * FROM aff_flat UNION ALL SELECT * FROM aff_desc)""",
    ]


def _ivf_oracle_sql(nprobe: int = IVF_NPROBE) -> str:
    ctes, final = _lloyd_ctes()
    cos_final = V.cosine_sql("e.embedding", "c.centv")
    return f"""
        WITH {",".join(ctes)},
        aff AS (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cos_final}, {V.COS_DECIMALS}) DESC, c.cent_id
                   ) AS crnk
            FROM embeddings e CROSS JOIN {final} c),
        cells AS (SELECT vec_id AS match_id, embedding AS cv, cent_id AS cell
                  FROM aff WHERE crnk <= {IVF_REPL}),
        probes AS (SELECT vec_id AS query_id, embedding AS qv, cent_id AS cell
                   FROM aff WHERE vec_id < {N_QUERIES} AND crnk <= {nprobe}),
        -- DISTINCT: with replication a (query, match) pair can meet in up to
        -- REPL*NPROBE shared cells; score is pair-deterministic so dedup is
        -- exact
        p AS (
            SELECT DISTINCT q.query_id, c.match_id,
                   round({V.cosine_sql('q.qv', 'c.cv')},
                         {V.COS_DECIMALS}) AS score
            FROM probes q JOIN cells c
              ON q.cell = c.cell AND q.query_id <> c.match_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM p)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """


@register("sim_search_ivf", oracle=_ivf_oracle_sql(), tags=("X3",))
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #2: IVF — coarse-quantize the corpus into K cells, probe
    the nprobe nearest cells per query (Jégou et al. 2011).

    The quantizer is a deterministic k-means: seed centroids = first K
    vectors, then IVF_ITERS Lloyd rounds with FIXED-POINT centroid means
    (integer sums are order-independent, so Spark and the oracle build
    bit-identical centroids — no RNG, no float-sum drift).  Corpus side:
    each round is one pass scoring K broadcast centroids + one (cell, pos)
    agg — the standard distributed k-means cost.  The index lists each
    corpus vector under its IVF_REPL nearest cells (boundary replication),
    and the candidate join then touches only REPL*nprobe/K of the corpus
    per query.  At 100 TB the cells are the partition key of the index
    layout, so a probe reads nprobe partitions instead of the full corpus;
    recall is tuned by (REPL, nprobe), cost is REPL*nprobe/K of brute
    force — see the knob comment above for measured recall.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids_df(spark, emb, sf_dir)
    ranked = _ivf_assign_df(emb, cent)
    cells = ranked.filter(F.col("crnk") <= IVF_REPL).select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("cv"),
        F.col("cent_id").alias("cell"),
        V.norm(F.col("embedding")).alias("nc"),
    )
    probes = F.broadcast(
        ranked.filter(
            (F.col("vec_id") < N_QUERIES) & (F.col("crnk") <= IVF_NPROBE)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cent_id").alias("cell"),
            V.norm(F.col("embedding")).alias("nq"),
        )
    )
    return _topk(_cell_pairs(probes, cells))


def _cell_pairs(probes: DataFrame, cells: DataFrame) -> DataFrame:
    """(query_id, match_id, score) for every probe x indexed vector that
    share a cell, scored by rounded cosine from precomputed norms.  With
    replication a pair can meet in several shared cells; the score is
    pair-deterministic, so pair-dedup is exact (oracles mirror it with
    SELECT DISTINCT)."""
    return (
        probes.join(cells, "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(
                V.dot(F.col("qv"), F.col("cv")) / (F.col("nq") * F.col("nc")),
                V.COS_DECIMALS,
            ).alias("score"),
        )
        .dropDuplicates(["query_id", "match_id"])
    )


# --- int8 scalar quantization ------------------------------------------------
# Max-abs symmetric quantization: q_d = half_up(x_d * 127 / scale) with
# scale = max(|x_d|).  half_up = floor(v + 0.5) on both engines (Spark
# round() and DuckDB round() differ on negative halves, so neither is used).
QUANT_DECIMALS = 6


@register(
    "embed_quantize_int8",
    oracle=f"""
        WITH s AS (
            SELECT vec_id, embedding,
                   list_reduce(list_transform(embedding,
                                              x -> abs(CAST(x AS DOUBLE))),
                               (a, b) -> greatest(a, b)) AS scale
            FROM embeddings),
        q AS (
            SELECT vec_id, scale,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
                                 AS BIGINT)) AS qv,
                   embedding
            FROM s)
        SELECT vec_id,
               round(scale, {QUANT_DECIMALS}) AS scale_r,
               CAST(list_reduce(qv, (a, b) -> greatest(a, b)) AS BIGINT)
                   AS q_max,
               CAST(list_reduce(qv, (a, b) -> least(a, b)) AS BIGINT) AS q_min,
               round(list_reduce(list_prepend(0.0,
                         list_transform(range({V.DIM}),
                             i -> abs(CAST(embedding[i+1] AS DOUBLE)
                                      - qv[i+1] * scale / 127.0))),
                         (a, b) -> a + b) / {V.DIM}, {QUANT_DECIMALS})
                   AS mean_abs_err
        FROM q
        ORDER BY vec_id
        LIMIT 100
    """,
    tags=("X3",),
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: int8 scalar quantization of the embedding column — 4x memory cut
    for the ANN candidate stage (the standard serving trick: coarse search
    on int8, rescore survivors on float32).

    Pure array lambdas: per-vector max-abs scale, half-up quantize, and an
    explicitly-ordered reconstruction-error fold — narrow map over the
    corpus, no shuffle, bit-identical on both engines (integer quantized
    values; the error fold uses the same left-to-right order as the oracle).
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    s = emb.select("vec_id", "embedding", _int8_scale().alias("scale"))
    q = s.select("vec_id", "scale", _int8_codes().alias("qv"), "embedding")
    err_terms = F.zip_with(
        F.col("embedding"),
        F.col("qv"),
        lambda x, qx: F.abs(x.cast("double") - qx * F.col("scale") / 127.0),
    )
    mean_err = (
        F.aggregate(err_terms, F.lit(0.0), lambda a, b: a + b) / V.DIM
    )
    return (
        q.select(
            "vec_id",
            F.round(F.col("scale"), QUANT_DECIMALS).alias("scale_r"),
            F.aggregate(
                F.col("qv"), F.lit(-(1 << 62)), lambda a, b: F.greatest(a, b)
            )
            .cast("long")
            .alias("q_max"),
            F.aggregate(
                F.col("qv"), F.lit(1 << 62), lambda a, b: F.least(a, b)
            )
            .cast("long")
            .alias("q_min"),
            F.round(mean_err, QUANT_DECIMALS).alias("mean_abs_err"),
        )
        .orderBy("vec_id")
        .limit(100)
    )


# --- semantic dedup (SemDeDup) ----------------------------------------------
SEMDEDUP_COS = 0.35  # within-cell cosine above this => duplicate


def _semdedup_oracle_sql() -> str:
    # Mirror scaled_ivf_k(COUNT(*)) so the oracle tracks the Spark side's
    # data-scaled K at every fixture scale (sf1 sweep: K=80 at 20k vectors;
    # the literal-K chain diverged there by construction).
    ctes, final = _lloyd_ctes(_scaled_k_sql())
    ctes += _aff_scaled_ctes(_scaled_k_sql())
    cos_pair = V.cosine_sql("a.cv", "b.cv")
    return f"""
        WITH {",".join(ctes)},
        cells AS (SELECT vec_id, embedding AS cv, cent_id AS cell
                  FROM aff WHERE crnk = 1),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round({cos_pair}, {V.COS_DECIMALS}) >= {SEMDEDUP_COS})
        SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
               (d.vec_id IS NULL) AS keep
        FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """


@register("dedup_semantic", oracle=_semdedup_oracle_sql(), tags=("X2", "X3"))
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3: SemDeDup-style semantic deduplication (Abbas et al. 2023) —
    cluster the corpus with the deterministic k-means quantizer, score
    pairwise cosine ONLY within each cell, keep the lowest vec_id of every
    duplicate group.

    The scale structure is the point: the pair space is sum-of-cell², never
    corpus² — identical to the label-blocked near-dup but with LEARNED
    blocks, which is what you run when no label exists.  At 100 TB: cells
    are the partition key (each executor deduplicates its own cells; no
    cross-cell shuffle after assignment), and K grows with corpus size to
    hold cell width roughly constant.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    # K scales with the corpus (cell width ~IVF_TARGET_CELL): fixed K made
    # pair work quadratic under growth — sf1 stress exponent 1.35, now the
    # assignment pays N*K dots and the pair work stays linear.  The DuckDB
    # oracle mirrors the same formula via a COUNT(*) scalar subquery in its
    # seed CTE (r10), so it tracks this K at every fixture scale — verified
    # green at sf1 (K=80) in CORRECTNESS_SF1.json.  The fixed-K oracles
    # (sim_search_ivf family) still embed the literal; their fixture-scale
    # precondition stays trip-wired by tests/test_llm_ops.py::
    # test_scaled_ivf_k_agrees_with_unrolled_oracles_at_fixture_scale.
    k = scaled_ivf_k(emb.count())
    cent = _ivf_centroids_df(spark, emb, sf_dir, k)
    # Assignment branches on K (r10 verdict #6): flat N*K below
    # IVF2_SWITCH_K, two-level sqrt-K descent above — the oracle's
    # _aff_scaled_ctes mirrors the same branch, so the sf1 sweep
    # hash-verifies the descent path (K=80 > 32 there).
    # localCheckpoint: `cells` feeds the pair kernel AND the final keep
    # join; materializing ~N small rows once replaces two executions of
    # the scan+broadcast-join+window assignment subtree (r14: the explain
    # showed THREE copies of that subtree in the old self-join plan).
    cells = (
        _ivf_assign_scaled_df(emb, cent, k)
        .filter(F.col("crnk") == 1)
        .select(
            "vec_id",
            F.col("embedding").alias("cv"),
            F.col("cent_id").alias("cell"),
        )
        .localCheckpoint()
    )
    # r14 (guide §4.2, the embed_neardup_cosine recipe): the within-cell
    # pair scoring is dense linear algebra, so the sum-of-cell² self-join —
    # which evaluated an interpreted 64-element `aggregate` fold per pair —
    # became ONE Arrow applyInPandas per cell accumulating the cell's Gram
    # matrix dimension-by-dimension (G += col_d ⊗ col_d).  That accumulation
    # order (doubles added dimension 0..63 from 0.0) is IEEE-identical to
    # the fold's left-to-right sum, and nv = sqrt(diag(G)) is the same
    # double as V.norm's sqrt-of-fold (both pinned bit-for-bit in
    # tests/test_vectors_native.py), so raw = G[i,j]/(nv_i*nv_j) is the
    # exact double the old join produced.  Rounding and the threshold stay
    # in SPARK expressions on the returned raw double; the Python-side
    # margin (raw >= τ - 1e-4) is lossless for round(x,5) >= τ.
    # At 100 TB: cells are the partition key — each cell streams through
    # one executor as one Arrow group, no cross-cell pair materializes.
    margin = SEMDEDUP_COS - 1e-4

    def cell_dropped(pdf):
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        A = np.stack(pdf["cv"].to_numpy()[order]).astype(np.float64)
        n, dim = A.shape
        gram = np.zeros((n, n), dtype=np.float64)
        for d in range(dim):  # dimension-ordered: bit-identical to the
            col = A[:, d]     # fold's left-to-right element sum
            gram += col[:, None] * col[None, :]
        nv = np.sqrt(np.diag(gram))
        iu, ju = np.triu_indices(n, k=1)
        raw = gram[iu, ju] / (nv[iu] * nv[ju])
        keep = raw >= margin
        return pd.DataFrame({"id_b": ids[ju[keep]], "raw": raw[keep]})

    dropped = (
        cells.groupBy("cell")
        .applyInPandas(cell_dropped, schema="id_b long, raw double")
        .filter(F.round(F.col("raw"), V.COS_DECIMALS) >= SEMDEDUP_COS)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        cells.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


# --- ADC search: int8 coarse scan + float re-rank ---------------------------
ADC_COARSE_C = 40  # candidates per probe surviving the int8 stage

# coalesce: DuckDB's list_aggregate over an empty list yields NULL (Spark's
# fold yields its -inf init); greatest+1e-30 clamp matches _int8_scale.
_SCALE_SQL = (
    "greatest(coalesce(list_aggregate("
    "list_transform({v}, x -> abs(CAST(x AS DOUBLE))), 'max'), 0.0), 1e-30)"
)
_QV_SQL = (
    "list_transform({v}, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 127.0 / {s} + 0.5) AS BIGINT))"
)
_IDOT_SQL = (
    f"list_sum(list_transform(range({V.DIM}), "
    "i -> {a}[i+1] * {b}[i+1]))"
)


def _adc_oracle() -> str:
    return f"""
        WITH s AS (
            SELECT vec_id, embedding,
                   {_SCALE_SQL.format(v='embedding')} AS scale
            FROM embeddings),
        qt AS (
            SELECT vec_id, embedding, scale,
                   {_QV_SQL.format(v='embedding', s='scale')} AS qv
            FROM s),
        coarse AS (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   CAST({_IDOT_SQL.format(a='q.qv', b='c.qv')} AS BIGINT)
                       * q.scale * c.scale AS approx
            FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERIES}),
        cand AS (
            SELECT query_id, match_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx DESC, match_id) AS crnk
            FROM coarse),
        rer AS (
            SELECT cand.query_id, cand.match_id,
                   round({V.cosine_sql('q.embedding', 'c.embedding')},
                         {V.COS_DECIMALS}) AS score
            FROM cand
            JOIN embeddings q ON cand.query_id = q.vec_id
            JOIN embeddings c ON cand.match_id = c.vec_id
            WHERE crnk <= {ADC_COARSE_C}),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM rer)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """


@register("sim_search_adc_rerank", oracle=_adc_oracle(), tags=("X3",))
def q_sim_search_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: two-stage ADC search — int8 coarse scan, float32 re-rank.

    The serving-standard memory trick end-to-end: the coarse stage scores
    probes against 4x-smaller int8 codes with an INTEGER dot product
    (exact, order-independent — the ranking is bit-deterministic, unlike
    float accumulation), keeps top-C per probe, and only those C rows
    touch full-precision vectors for the exact cosine re-rank.  At 100 TB
    the float corpus stays on disk/cold tier; the hot scan reads only the
    int8 codes.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    qt = (
        emb.select("vec_id", "embedding", _int8_scale().alias("scale"))
        .select("vec_id", "embedding", "scale", _int8_codes().alias("qv"))
    )
    probes = F.broadcast(
        qt.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("scale").alias("q_scale"),
            F.col("qv").alias("q_qv"),
        )
    )
    idot = F.aggregate(
        F.zip_with(F.col("q_qv"), F.col("qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    coarse = (
        probes.join(qt, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            (idot.cast("double") * F.col("q_scale") * F.col("scale")).alias(
                "approx"
            ),
            F.col("q_emb"),
            F.col("embedding").alias("c_emb"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("match_id")
    )
    cand = coarse.withColumn("crnk", F.row_number().over(wc)).filter(
        F.col("crnk") <= ADC_COARSE_C
    )
    rer = cand.select(
        "query_id",
        "match_id",
        F.round(V.cosine(F.col("q_emb"), F.col("c_emb")), V.COS_DECIMALS).alias(
            "score"
        ),
    )
    return _topk(rer)


# ---------------------------------------------------------------------------
# X3+: Johnson-Lindenstrauss signed random projection (round 5)
# ---------------------------------------------------------------------------

RP_DIMS = 8
RP_IN_DIMS = 64  # fixture embedding width (TESTDATA.md)


def _rp_sign_matrix() -> dict[int, list[int]]:
    """Deterministic ±1 projection matrix, derived driver-side from md5 so
    the SAME literal constants feed the Spark plan and the DuckDB oracle —
    no dependence on either engine's hash function (they differ).  md5 of
    'rp:{d}:{i}' byte-0 parity passes the balance/pairwise-dot checks a JL
    sign matrix needs (worst pairwise |dot| 24/64 ~ 3 sigma of random)."""
    import hashlib

    return {
        d: [
            1 if hashlib.md5(f"rp:{d}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(1, RP_IN_DIMS + 1)
        ]
        for d in range(1, RP_DIMS + 1)
    }


_RP_SIGNS = _rp_sign_matrix()


def _rp_oracle_sql() -> str:
    values = ",".join(
        f"({d},{i},{s})"
        for d, signs in _RP_SIGNS.items()
        for i, s in enumerate(signs, start=1)
    )
    proj_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN d = {d} THEN term * sgn ELSE 0 END)"
        f" AS BIGINT) AS proj_{d}"
        for d in range(1, RP_DIMS + 1)
    )
    return f"""
        WITH s(d, ord, sgn) AS (VALUES {values}),
        t AS (
            SELECT vec_id,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000, 0)
                        AS BIGINT) AS term,
                   generate_subscripts(embedding, 1) AS ord
            FROM embeddings)
        SELECT vec_id,
               {proj_cols}
        FROM t JOIN s USING (ord)
        GROUP BY vec_id ORDER BY vec_id
    """


@register("embed_random_projection", oracle=_rp_oracle_sql(), tags=("X3", "F6"))
def q_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: project 64-dim embeddings to 8 dims with a fixed ±1 sign matrix
    (Achlioptas'01 database-friendly Johnson-Lindenstrauss variant) — the
    cheap dimensionality cut that feeds LSH bucketing or a coarse ANN scan
    when the full vector is too wide to shuffle.

    Per-row compute only: each output dim is one zip_with+aggregate fold of
    the embedding against a LITERAL sign array — no shuffle, no UDF, no
    join; a 100 TB corpus projects at scan speed, embarrassingly parallel.
    Terms are integer milli-units (CAST(round(x*1000) AS BIGINT)) so the
    8 sums are exact BIGINTs — order-independent and bit-identical to the
    oracle, which consumes the SAME md5-derived sign literals (neither
    engine's built-in hash is portable to the other).
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    term = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1000, 0).cast("long"),
    )
    out = emb.select("vec_id", term.alias("terms"))
    for d in range(1, RP_DIMS + 1):
        signs = F.array(*[F.lit(s) for s in _RP_SIGNS[d]])
        out = out.withColumn(
            f"proj_{d}",
            F.aggregate(
                F.zip_with("terms", signs, lambda t, s: t * s.cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    return out.drop("terms").orderBy("vec_id")


# --- recall contract ---------------------------------------------------------
# The measured IVF recall (knob comment above: R=2/nprobe=2 -> 0.82@10 on
# the sf0.01 fixture) used to live only in prose; this query PINS it.  Both
# top-k sets are computed inside one plan and the hit count is exact
# integer arithmetic, so the hash check makes any regression of the
# quantizer, the replication, or the probe fan-out a correctness failure,
# not a silent quality drift.


def _recall_oracle_sql(brute_sql: str, cand_sql: str) -> str:
    """Recall@k of the candidate top-k oracle ``cand_sql`` against the
    brute-force ground truth ``brute_sql`` — the SQL mirror of
    :func:`_recall_frame`.  Both constituent oracles nest verbatim as CTEs,
    so a recall contract derives from the same SQL the driver already
    hash-checks and can never drift from it.  ``ann`` is a CTE name no
    constituent defines."""
    return f"""
        WITH brute AS ({brute_sql}),
        ann AS ({cand_sql}),
        h AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
              FROM brute b JOIN ann i
                ON b.query_id = i.query_id AND b.match_id = i.match_id),
        t AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
                     CAST(COUNT(*) AS BIGINT) AS truth_pairs
              FROM brute)
        SELECT n_queries, CAST({TOP_K} AS BIGINT) AS k, truth_pairs, hits,
               CAST(FLOOR(hits * 1000.0 / truth_pairs) AS BIGINT)
                 AS recall_x1000
        FROM t CROSS JOIN h
    """


def _recall_frame(brute: DataFrame, cand: DataFrame) -> DataFrame:
    """The one Spark recall@k summary row: hits/truth over the
    (query_id, match_id) pairs of a brute-force and a candidate top-k
    frame, as an exact integer permille (floor(hits*1000 / truth_pairs))
    so the DuckDB mirror (:func:`_recall_oracle_sql`) hashes identically.
    The denominator is the brute-force result size — per-query top-k is
    exactly TOP_K rows whenever the corpus has > TOP_K vectors, and
    counting it (rather than assuming it) keeps the contract honest on
    tiny fixtures."""
    brute = brute.select("query_id", "match_id")
    hits = brute.join(
        cand.select("query_id", "match_id"), ["query_id", "match_id"], "left_semi"
    )
    return (
        brute.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("truth_pairs"),
        )
        .crossJoin(hits.agg(F.count("*").alias("hits")))
        .select(
            "n_queries",
            F.lit(TOP_K).cast("long").alias("k"),
            "truth_pairs",
            "hits",
            F.floor(F.col("hits") * 1000 / F.col("truth_pairs"))
            .cast("long")
            .alias("recall_x1000"),
        )
    )


@register(
    "sim_search_recall_ivf",
    oracle=_recall_oracle_sql(_brute_oracle_sql(), _ivf_oracle_sql()),
    tags=("X3", "A2"),
)
def q_sim_search_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against the brute-force ground truth,
    as ONE plan: both searches run their normal paths (sharing the
    memoized centroids and the embeddings scan) and :func:`_recall_frame`
    counts the hits."""
    return _recall_frame(
        q_sim_search_topk(spark, sf_dir), q_sim_search_ivf(spark, sf_dir)
    )


# --- graph ANN: IVF-seeded kNN-graph beam search (relational NSW) -----------
# Completes the X3 family's declared honest boundary ("no graph-based ANN",
# r09 verdict).  True HNSW is a pointer-chasing hierarchy that fights
# Spark's set-oriented execution (per-insert greedy descent with mutable
# adjacency), so this is the set-oriented analog of its search phase:
#
#   build:  a kNN graph whose candidate pairs are restricted to shared IVF
#           cells (the cluster-sharded build of DiskANN/SPANN — sum-of-
#           cell^2 pair work, never corpus^2), top-GRAPH_DEG per vertex by
#           (rounded cosine, id), then symmetrized (undirected NSW edges);
#   search: seed a beam from the query's SINGLE nearest cell (half the
#           probe fan-out of the flat IVF's nprobe=2), then GRAPH_HOPS
#           rounds of best-first expansion — join the beam to the
#           adjacency, score new vertices exactly, keep the best
#           GRAPH_BEAM of the visited set.
#
# The graph hops recover exactly the neighbors a 1-probe IVF loses across
# cell walls: a boundary vector's true neighbors are its GRAPH edges even
# when they quantize into a different cell.  Everything — build included —
# is deterministic (rounded cosine + id tie-breaks), so the whole search
# unrolls into oracle SQL; K scales with the corpus on BOTH sides
# (scaled_ivf_k / _scaled_k_sql), keeping build pair work linear and the
# oracle valid at any fixture scale.
# At 100 TB: the adjacency is a (src -> [dst]) table partitioned by src —
# each hop is one shuffle-free broadcast-probe join for a query batch
# (beams are query-side small), and the build reuses the IVF cell layout
# already materialized for sim_search_ivf_bucketed.
GRAPH_DEG = 12   # kNN-graph out-degree before symmetrization
GRAPH_BEAM = 64  # expansion width (HNSW's ef) — not the output k
GRAPH_HOPS = 3   # unrolled expansion rounds


def _graph_oracle_sql(
    src: str = "embeddings", prefix_ctes: tuple[str, ...] = ()
) -> str:
    """``src``/``prefix_ctes``: the sf1 audit passes its sampled-subcorpus
    CTE as a prefix and reads every corpus reference from it."""
    ctes = list(prefix_ctes)
    lloyd, final = _lloyd_ctes(_scaled_k_sql(src), src=src)
    ctes += lloyd
    ctes += _aff_scaled_ctes(_scaled_k_sql(src), src=src)
    hop_ctes = []
    for t in range(1, GRAPH_HOPS + 1):
        hop_ctes.append(f"""
        b{t - 1} AS (
            SELECT query_id, match_id FROM (
                SELECT query_id, match_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, match_id) AS rn
                FROM v{t - 1}) WHERE rn <= {GRAPH_BEAM}),
        s{t} AS (
            SELECT DISTINCT b.query_id, g.dst AS match_id,
                   round({V.cosine_sql('q.qv', 'c.cv')},
                         {V.COS_DECIMALS}) AS score
            FROM b{t - 1} b
            JOIN graph g ON b.match_id = g.src
            JOIN quer q ON b.query_id = q.query_id
            JOIN corpus c ON g.dst = c.match_id
            WHERE g.dst <> b.query_id),
        v{t} AS (
            SELECT query_id, match_id, score FROM v{t - 1}
            UNION
            SELECT query_id, match_id, score FROM s{t})""")
    return f"""
        WITH {",".join(ctes)},
        cells AS (SELECT vec_id AS match_id, embedding AS cv, cent_id AS cell
                  FROM aff WHERE crnk <= {IVF_REPL}),
        -- kNN-graph build: pair space restricted to shared cells; a pair
        -- meeting in several cells dedups exactly (score deterministic).
        -- Each unordered pair is scored ONCE and mirrored (the cosine is
        -- elementwise-commutative, bit-identical both ways) — same trick
        -- as the Spark side, halving the dominant list-lambda cost.
        halfp AS (
            SELECT DISTINCT a.match_id AS src, b.match_id AS dst,
                   round({V.cosine_sql('a.cv', 'b.cv')},
                         {V.COS_DECIMALS}) AS escore
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.match_id < b.match_id),
        pairs AS (SELECT src, dst, escore FROM halfp
                  UNION ALL
                  SELECT dst AS src, src AS dst, escore FROM halfp),
        knn AS (SELECT src, dst FROM (
                    SELECT src, dst,
                           row_number() OVER (PARTITION BY src
                               ORDER BY escore DESC, dst) AS ernk
                    FROM pairs) WHERE ernk <= {GRAPH_DEG}),
        graph AS (SELECT src, dst FROM knn
                  UNION
                  SELECT dst AS src, src AS dst FROM knn),
        corpus AS (SELECT vec_id AS match_id, embedding AS cv
                   FROM {src}),
        quer AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM {src} WHERE vec_id < {N_QUERIES}),
        probes AS (SELECT vec_id AS query_id, embedding AS qv, cent_id AS cell
                   FROM aff WHERE vec_id < {N_QUERIES} AND crnk = 1),
        v0 AS (
            SELECT DISTINCT q.query_id, c.match_id,
                   round({V.cosine_sql('q.qv', 'c.cv')},
                         {V.COS_DECIMALS}) AS score
            FROM probes q JOIN cells c ON q.cell = c.cell
            WHERE q.query_id <> c.match_id),
        {",".join(hop_ctes)},
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, match_id) AS rnk
              FROM v{GRAPH_HOPS})
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """


@register("sim_search_graph_beam", oracle=_graph_oracle_sql(), tags=("X3",))
def q_sim_search_graph_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 graph ANN: kNN-graph beam search seeded from one IVF cell.

    See the section comment above for the build/search design and the
    100 TB layout.  Search cost per query: one cell scan (~REPL/K of the
    corpus) + GRAPH_HOPS * GRAPH_BEAM * (2*GRAPH_DEG) adjacency probes —
    independent of corpus size once the graph exists, which is the whole
    point of graph ANN.  Measured recall@10 vs brute force
    (sim_search_recall_graph): 0.990 / 0.995 / 0.955 at sf0.001/0.01/0.1
    vs the flat IVF nprobe=2's 0.850/0.820/0.780 — the graph hops beat a
    2x probe fan-out from a 1-cell seed.  The load-bearing knob is
    GRAPH_BEAM (HNSW's ef): with beam 20 the sf0.1 recall stalled at 0.83
    even though reachability analysis showed 30/34 missed neighbors sat
    ONE hop from the seed set — the bridge vertices score low against the
    query and a narrow beam evicts them before they are expanded.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    return _graph_beam_df(spark, emb, sf_dir)


def _graph_beam_df(spark: SparkSession, emb: DataFrame, key: str) -> DataFrame:
    """Graph-ANN build + beam search over ``emb`` — the whole
    q_sim_search_graph_beam pipeline, parametrized by the corpus DF so the
    sampled-subcorpus sf1 audit (q_sim_search_graph_beam_sf_audit) can run
    the identical code path.

    The build half is memoized per corpus ``key`` per SparkContext: it is
    deterministic and by far the pipeline's dominant cost, and at 100 TB
    the adjacency IS a persisted table a real pipeline keeps (like the
    disk-resident bucketed IVF index), so repeated searches in one session
    pay beam cost, not rebuild cost.  The search half always runs."""
    cells, graph = memo(
        spark, ("ivf_graph", key), lambda: _graph_build(spark, emb, key)
    )
    return _graph_search(cells, graph)


def _graph_build(
    spark: SparkSession, emb: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """One-time (per corpus) half: scaled-K quantize, cell-blocked kNN
    scoring, top-GRAPH_DEG symmetrized adjacency.  Both returned frames
    are localCheckpoint'd loop invariants — at scale, the persisted
    index tables."""
    k = scaled_ivf_k(emb.count())
    cent = _ivf_centroids_df(spark, emb, key, k)
    # Assignment branches on K like dedup_semantic's (r10 verdict #6):
    # flat below IVF2_SWITCH_K, sqrt-K two-level descent above, mirrored
    # branch-for-branch by _aff_scaled_ctes in the oracle.
    ranked = _ivf_assign_scaled_df(emb, cent, k)
    # ONE materialized pass over the corpus (round-10 verdict #5): `cells`
    # keeps crnk so the graph build (crnk <= REPL), the full corpus view
    # (crnk == 1 is exactly one row per vector), the query set and the
    # beam seeds ALL derive from this checkpoint — the executed plan used
    # to scan the embeddings parquet ~50 times because each hop re-derived
    # corpus/quer/probes from the source.  Values are unchanged: crnk == 1
    # selects the same (match_id, cv, norm) rows emb.select() produced.
    cells = (
        ranked.filter(F.col("crnk") <= IVF_REPL)
        .select(
            F.col("vec_id").alias("match_id"),
            F.col("embedding").alias("cv"),
            F.col("cent_id").alias("cell"),
            V.norm(F.col("embedding")).alias("nc"),
            "crnk",
        )
        .localCheckpoint()
    )
    # kNN-graph build (shared-cell pair space, like dedup_semantic's):
    a = cells.select(
        F.col("match_id").alias("src"), F.col("cv").alias("sv"),
        F.col("cell").alias("scell"), F.col("nc").alias("ns"),
    )
    b = cells.select(
        F.col("match_id").alias("dst"), F.col("cv").alias("dv"),
        F.col("cell").alias("dcell"), F.col("nc").alias("nd"),
    )
    # Score each unordered pair ONCE (src < dst) and mirror afterwards:
    # the fold dot is elementwise-commutative so escore(a,b) ==
    # escore(b,a) bit-exactly, and the interpreted 64-dim fold is the
    # build's dominant cost (half the folds = ~2x faster build, same
    # graph, same hashes).
    half = (
        a.join(b, (F.col("scell") == F.col("dcell"))
               & (F.col("src") < F.col("dst")))
        .select(
            "src", "dst",
            F.round(
                V.dot(F.col("sv"), F.col("dv")) / (F.col("ns") * F.col("nd")),
                V.COS_DECIMALS,
            ).alias("escore"),
        )
        .dropDuplicates(["src", "dst"])
    )
    pairs = half.union(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "escore"
        )
    )
    w_src = Window.partitionBy("src").orderBy(F.desc("escore"), F.asc("dst"))
    knn = (
        pairs.withColumn("ernk", F.row_number().over(w_src))
        .filter(F.col("ernk") <= GRAPH_DEG)
        .select("src", "dst")
    )
    # Loop invariants are MATERIALIZED (the pagerank lesson): `graph` is
    # probed by every hop and `visited` feeds both the next beam and the
    # next union — without a checkpoint each hop re-evaluates the entire
    # build + all earlier hops (~2x DAG growth per hop: 18.8 s in the
    # first bench run; ~2 s after).  At 100 TB these are the persisted
    # adjacency/result tables a real pipeline would keep anyway.
    graph = knn.union(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    return cells, graph


def _graph_search(cells: DataFrame, graph: DataFrame) -> DataFrame:
    """Per-query half: seed from the nearest cell, GRAPH_HOPS beam
    expansions over the adjacency, exact top-k of the visited set."""
    corpus = cells.filter(F.col("crnk") == 1).select("match_id", "cv", "nc")
    quer = F.broadcast(
        corpus.filter(F.col("match_id") < N_QUERIES).select(
            F.col("match_id").alias("query_id"),
            F.col("cv").alias("qv"),
            F.col("nc").alias("nq"),
        )
    )
    # beam seed: the query's single nearest cell (crnk == 1, vs the flat
    # index's nprobe=2) — the graph hops, not extra probes, buy the recall
    probes = F.broadcast(
        cells.filter(
            (F.col("match_id") < N_QUERIES) & (F.col("crnk") == 1)
        ).select(
            F.col("match_id").alias("query_id"),
            F.col("cv").alias("qv"),
            "cell",
            F.col("nc").alias("nq"),
        )
    )
    visited = _cell_pairs(probes, cells).localCheckpoint()
    w_q = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("match_id")
    )
    for _ in range(GRAPH_HOPS):
        beam = (
            visited.withColumn("rn", F.row_number().over(w_q))
            .filter(F.col("rn") <= GRAPH_BEAM)
            .select("query_id", "match_id")
        )
        cand = (
            beam.join(graph, F.col("match_id") == F.col("src"))
            .filter(F.col("dst") != F.col("query_id"))
            .select("query_id", F.col("dst").alias("cand_id"))
            .distinct()
        )
        scored = (
            cand.join(quer, "query_id")
            .join(corpus, F.col("cand_id") == F.col("match_id"))
            .select(
                "query_id",
                "match_id",
                F.round(
                    V.dot(F.col("qv"), F.col("cv"))
                    / (F.col("nq") * F.col("nc")),
                    V.COS_DECIMALS,
                ).alias("score"),
            )
        )
        # scores are pair-deterministic, so the visited-set union dedups
        # exactly (oracle mirrors with UNION)
        visited = visited.union(scored).dropDuplicates(
            ["query_id", "match_id"]
        ).localCheckpoint()
    return _topk(visited)


@register(
    "sim_search_recall_graph",
    oracle=_recall_oracle_sql(_brute_oracle_sql(), _graph_oracle_sql()),
    tags=("X3", "A2"),
)
def q_sim_search_recall_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the graph beam search against brute-force ground truth —
    same one-plan permille contract as sim_search_recall_ivf; the floor is
    pinned by tests/test_llm_ops.py (outputs, not prose)."""
    return _recall_frame(
        q_sim_search_topk(spark, sf_dir), q_sim_search_graph_beam(spark, sf_dir)
    )


# --- sampled-subcorpus sf1 audits (r10 verdict #3) ---------------------------
# The graph-ANN oracle is a DELIBERATE exhaustive proof: it unrolls the
# quadratic kNN build into SQL, so it times out at sf1 and the sweep
# excluded the two graph queries with ZERO losslessness signal at that
# scale.  These audits close the gap: run the IDENTICAL engine pipeline on
# a deterministic ~AUDIT_VEC_TARGET-vector subcorpus sampled FROM THE SAME
# sf1 distribution, where the exhaustive oracle is feasible.  Sampling is
# a vec_id stride (mirrorable integer arithmetic, no RNG) followed by a
# dense renumber so the probe-set (vec_id < N_QUERIES) and Lloyd-seed
# (vec_id < K) conventions hold on the sample.  At every shipped fixture
# (n <= target) the stride is 1 and the audit degenerates to the full
# exhaustive proof — the small-sf collapse pattern again.
# r13 (r12 verdict #6): 2000 -> 1250 cuts the deliberately-quadratic audit
# oracle ~2.6x at sf1 (196s/154s -> inside the 120s budget).  The shipped
# fixtures are untouched: sf0.01 (500 vectors) and sf0.1 (2000, stride
# 2000//1250 = 1) still collapse to the full exhaustive proof; only sf1's
# 20000 vectors now stride to a 1250-vector sample instead of 2000.
AUDIT_VEC_TARGET = 1250


def _audit_emb_cte() -> str:
    return f"""emb_audit AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS vec_id, embedding
        FROM embeddings
        WHERE vec_id % (SELECT greatest(1, COUNT(*) // {AUDIT_VEC_TARGET})
                        FROM embeddings) = 0)"""


def _audit_emb_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of :func:`_audit_emb_cte`.  The un-partitioned
    renumbering window is bounded by construction (the stride holds the
    sample under ~2*AUDIT_VEC_TARGET rows), so the single-partition sort is
    a few thousand rows, not a scale hazard; localCheckpoint because the
    Lloyd loop and the graph build both re-reference the sample."""
    emb = datasets.load(spark, sf_dir, "embeddings")
    m = max(1, emb.count() // AUDIT_VEC_TARGET)
    w = Window.orderBy("vec_id")
    return (
        emb.filter(F.col("vec_id") % m == 0)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("vec_id"),
            "embedding",
        )
        .localCheckpoint()
    )


@register(
    "sim_search_graph_beam_sf_audit",
    oracle=_graph_oracle_sql(src="emb_audit", prefix_ctes=(_audit_emb_cte(),)),
    tags=("X3",),
)
def q_sim_search_graph_beam_sf_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sampled-subcorpus audit of sim_search_graph_beam (see the section
    comment): the full graph-ANN pipeline — scaled-K quantize, kNN build,
    3-hop beam — hash-checked against its exhaustive oracle on a stride
    sample of the corpus, feasible at ANY sf.  This is the green row the
    sf1 sweep records where the full-corpus oracle is excluded as a
    deliberate quadratic proof (tools/make_sf1_artifact.py)."""
    return _graph_beam_df(
        spark, _audit_emb_df(spark, sf_dir), f"{sf_dir}#graph_audit"
    )


@register(
    "sim_search_recall_graph_sf_audit",
    oracle=_recall_oracle_sql(
        _brute_oracle_sql("emb_audit", (_audit_emb_cte(),)),
        _graph_oracle_sql(src="emb_audit", prefix_ctes=(_audit_emb_cte(),)),
    ),
    tags=("X3", "A2"),
)
def q_sim_search_recall_graph_sf_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k of the beam search vs brute force ON THE STRIDE SAMPLE —
    the sf1-scale twin of sim_search_recall_graph, whose full-corpus
    oracle OOMs at sf1 by design.  The recall value itself is data-scale
    dependent (the sample is a sparser neighborhood structure), so the
    pytest floor applies to the shipped fixtures where the sample is the
    whole corpus; at sf1 the contract is the cross-engine hash."""
    emb = _audit_emb_df(spark, sf_dir)
    return _recall_frame(
        _brute_topk_df(emb), _graph_beam_df(spark, emb, f"{sf_dir}#graph_audit")
    )


# --- two-level IVF: hierarchical coarse assignment ---------------------------
# The sf1 stress analysis (SCALING.md) names the flat N*K assignment as the
# next bottleneck once K scales with the corpus.  The standard fix (IMI /
# two-level IVF) descends a hierarchy: G super-seeds over the fine
# centroids, each vector scores G supers then only its group's fine cells —
# per-vector work drops from K to G + K/G (sqrt-K shape at G ~ sqrt(K)).
# Assignment becomes APPROXIMATE (a group wall can hide the true nearest
# fine cell), so like every ANN knob here it ships with a measured,
# hash-pinned recall contract instead of an exact-assignment claim.
# (IVF2_G / IVF2_SPROBE / IVF2_IREPL are defined next to IVF2_SWITCH_K
# near the top of the file: the scaled-K oracles reference them at import
# time, before this section executes.)


def _ivf2_assign_df(
    emb: DataFrame, cent: DataFrame, sprobe: int, g: int | None = None
) -> DataFrame:
    """Two-level descent, ranked like :func:`_ivf_assign_df`: rank the
    ``g`` (default IVF2_G) super-seeds per vector, take ``sprobe`` groups,
    then rank the fine cells of those groups by (rounded cosine DESC,
    cent_id).  ``g`` is the scaled-assignment hook (_ivf_assign_scaled_df
    passes ceil(sqrt(K))); the sim_search_ivf2 family keeps the literal."""
    supers = cent.filter(F.col("cent_id") < (IVF2_G if g is None else g)).select(
        F.col("cent_id").alias("super_id"), F.col("centv").alias("superv")
    )
    gaff = cent.join(F.broadcast(supers)).select(
        "cent_id",
        "centv",
        "super_id",
        F.round(
            V.cosine(F.col("centv"), F.col("superv")), V.COS_DECIMALS
        ).alias("gs"),
    )
    wg = Window.partitionBy("cent_id").orderBy(F.desc("gs"), F.asc("super_id"))
    groups = (
        gaff.withColumn("grnk", F.row_number().over(wg))
        .filter(F.col("grnk") == 1)
        .select("cent_id", "centv", "super_id")
    )
    # same straggler fix as _ivf_assign_df: the N*(G + sprobe*K/G) descent
    # folds otherwise run on the scan's 1-2 splits at audit/sf1 scale
    # (size-gated like _ivf_assign_df — no-op at shipped fixture sizes)
    vs = T._widen(emb, min_bytes=2 << 20).join(F.broadcast(supers)).select(
        "vec_id",
        "embedding",
        "super_id",
        F.round(
            V.cosine(F.col("embedding"), F.col("superv")), V.COS_DECIMALS
        ).alias("ss"),
    )
    ws = Window.partitionBy("vec_id").orderBy(F.desc("ss"), F.asc("super_id"))
    picked = (
        vs.withColumn("srnk", F.row_number().over(ws))
        .filter(F.col("srnk") <= sprobe)
        .select("vec_id", "embedding", "super_id")
    )
    aff = picked.join(F.broadcast(groups), "super_id").select(
        "vec_id",
        "embedding",
        "cent_id",
        F.round(
            V.cosine(F.col("embedding"), F.col("centv")), V.COS_DECIMALS
        ).alias("cscore"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cscore"), F.asc("cent_id")
    )
    return aff.withColumn("crnk", F.row_number().over(w))


def _ivf2_sql_parts() -> tuple[str, str]:
    """(ctes, final select) for the two-level oracle — extends the shared
    Lloyd chain with super-grouping and the two descent chains (index
    sprobe=1, probe sprobe=IVF2_SPROBE)."""
    ctes, final = _lloyd_ctes()
    gcos = V.cosine_sql("c.centv", "s.superv")
    icos = V.cosine_sql("i.embedding", "g.centv")
    scos = V.cosine_sql("e.embedding", "s.superv")
    more = f"""sup AS (
            SELECT cent_id AS super_id, centv AS superv
            FROM {final} WHERE cent_id < {IVF2_G}),
        grp AS (
            SELECT cent_id, centv, super_id FROM (
                SELECT c.cent_id, c.centv, s.super_id,
                       row_number() OVER (
                           PARTITION BY c.cent_id
                           ORDER BY round({gcos}, {V.COS_DECIMALS}) DESC,
                                    s.super_id) AS grnk
                FROM {final} c CROSS JOIN sup s)
            WHERE grnk = 1),
        isup AS (
            SELECT vec_id, embedding, super_id FROM (
                SELECT e.vec_id, e.embedding, s.super_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({scos}, {V.COS_DECIMALS}) DESC,
                                    s.super_id) AS srnk
                FROM embeddings e CROSS JOIN sup s)
            WHERE srnk <= {IVF2_IREPL}),
        icell AS (
            SELECT vec_id AS match_id, embedding AS cv, cell FROM (
                SELECT i.vec_id, i.embedding, g.cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY i.vec_id
                           ORDER BY round({icos}, {V.COS_DECIMALS}) DESC,
                                    g.cent_id) AS crnk
                FROM isup i JOIN grp g ON i.super_id = g.super_id)
            WHERE crnk <= {IVF_REPL}),
        psup AS (
            SELECT vec_id, embedding, super_id FROM (
                SELECT e.vec_id, e.embedding, s.super_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({scos}, {V.COS_DECIMALS}) DESC,
                                    s.super_id) AS srnk
                FROM embeddings e CROSS JOIN sup s
                WHERE e.vec_id < {N_QUERIES})
            WHERE srnk <= {IVF2_SPROBE}),
        pcell AS (
            SELECT vec_id AS query_id, embedding AS qv, cell FROM (
                SELECT i.vec_id, i.embedding, g.cent_id AS cell,
                       row_number() OVER (
                           PARTITION BY i.vec_id
                           ORDER BY round({icos}, {V.COS_DECIMALS}) DESC,
                                    g.cent_id) AS crnk
                FROM psup i JOIN grp g ON i.super_id = g.super_id)
            WHERE crnk <= {IVF_NPROBE})"""
    sel = f"""p AS (
            SELECT DISTINCT q.query_id, c.match_id,
                   round({V.cosine_sql('q.qv', 'c.cv')},
                         {V.COS_DECIMALS}) AS score
            FROM pcell q JOIN icell c
              ON q.cell = c.cell AND q.query_id <> c.match_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM p)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}"""
    return ",\n".join(ctes) + ",\n" + more, sel


def _ivf2_oracle_sql() -> str:
    ctes, sel = _ivf2_sql_parts()
    return f"WITH {ctes},\n{sel}"


@register("sim_search_ivf2", oracle=_ivf2_oracle_sql(), tags=("X3",))
def q_sim_search_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #3: TWO-LEVEL IVF — the hierarchical coarse quantizer
    the sf1 scaling note calls for once K grows with the corpus (flat
    assignment is N*K; the descent is N*(G + K/G)).  Fine centroids come
    from the shared deterministic Lloyd chain; IVF2_G super-seeds (the
    first G fine centroids) partition the fine cells into groups; index
    vectors descend into IVF2_IREPL groups (then IVF_REPL fine cells over
    the union — cross-wall replication), queries into IVF2_SPROBE groups
    (then IVF_NPROBE fine cells over the union).  The
    extra group wall makes assignment approximate — recall is therefore a
    MEASURED, hash-pinned contract (`sim_search_recall_ivf2`), exactly
    like the one-level index's.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids_df(spark, emb, sf_dir)
    cells = (
        _ivf2_assign_df(emb, cent, sprobe=IVF2_IREPL)
        .filter(F.col("crnk") <= IVF_REPL)
        .select(
            F.col("vec_id").alias("match_id"),
            F.col("embedding").alias("cv"),
            F.col("cent_id").alias("cell"),
            V.norm(F.col("embedding")).alias("nc"),
        )
    )
    probes = F.broadcast(
        _ivf2_assign_df(
            emb.filter(F.col("vec_id") < N_QUERIES), cent, IVF2_SPROBE
        )
        .filter(F.col("crnk") <= IVF_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cent_id").alias("cell"),
            V.norm(F.col("embedding")).alias("nq"),
        )
    )
    return _topk(_cell_pairs(probes, cells))


@register(
    "sim_search_recall_ivf2",
    oracle=_recall_oracle_sql(_brute_oracle_sql(), _ivf2_oracle_sql()),
    tags=("X3", "A2"),
)
def q_sim_search_recall_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the TWO-LEVEL index vs brute-force ground truth — the
    quality price of the sqrt-K assignment, measured and hash-pinned the
    same way as `sim_search_recall_ivf` (tests pin the floor; the oracle
    derives from the same nested SQL so the contract cannot drift)."""
    return _recall_frame(
        q_sim_search_topk(spark, sf_dir), q_sim_search_ivf2(spark, sf_dir)
    )


# --- product quantization: 64-dim float -> PQ_M code bytes ------------------
# The real 100 TB vector-memory story: int8 scalar quantization (above)
# cuts 4x; PQ cuts DIM*4 bytes to PQ_M bytes (64x here) by snapping each
# 16-dim SUBVECTOR to one of 16 learned codewords (Jégou et al. 2011,
# §PQ).  Search never touches floats until the rerank: the ADC lookup
# table (per query: PQ_M x PQ_K subvector dots) is broadcast, candidates
# are scanned as code tuples, and the estimated inner product is an
# integer sum of fixed-point table entries — order-independent, so both
# engines rank identically.
PQ_M = 4                  # subspaces
PQ_SUBDIM = V.DIM // PQ_M  # 16 dims per subspace
PQ_K = 16                 # codewords per subspace (codes = vec_id < 16)
PQ_ITERS = 1              # Lloyd rounds per subspace codebook
PQ_FP = 1_000_000         # fixed point for codeword means AND ADC entries
PQ_COARSE_C = 120         # candidates surviving the ADC stage (measured
#                           recall@10: C=40 -> 0.55/0.59, C=80 ->
#                           0.80/0.77, C=120 -> 0.86/0.85 at sf0.001/0.01;
#                           raw 4-byte codes rank coarsely, the rerank
#                           budget buys the quality back — at corpus scale
#                           C is a constant, the ADC scan stays code-only)

# The COMBINED pipeline compounds cell-wall misses with code-ranking
# misses, so it gets its own, more generous knobs (VERDICT r07 #6 sweep,
# recall@10 at sf0.001/sf0.01):
#     nprobe=2 C=120 -> 0.795/0.770   (the r07 config, floor 0.75)
#     nprobe=2 C=200 -> 0.850/0.820
#     nprobe=3 C=120 -> 0.850/0.805
#     nprobe=3 C=200 -> 0.910/0.880   <- shipped; floor pinned 0.85
# Cost: one extra probe cell per query (candidates 3/2x) and an 80-row
# larger exact rerank — both constants, both dwarfed by the 64x memory
# cut the codes buy at corpus scale.
IVFPQ_NPROBE = 3
IVFPQ_COARSE_C = 200

def _pq_l2_rank(sv_col: str, cv_col: str):
    """Argmin-by-L2 ranking expression: |x-c|^2 = x·x + c·c - 2 x·c, and
    x·x is candidate-independent, so rank by round(c·c - 2 x·c, 6) with
    the code id as tie-break (deterministic on both engines)."""
    cc = V.dot(F.col(cv_col), F.col(cv_col))
    xc = V.dot(F.col(sv_col), F.col(cv_col))
    return F.round(cc - 2.0 * xc, 6)


def _pq_codebooks_df(spark: SparkSession, emb: DataFrame, key: str) -> DataFrame:
    """(sub, code, cv) codebook table: per subspace, PQ_K seed codewords
    (the first PQ_K vectors' subvectors) refined by PQ_ITERS Lloyd rounds
    with the same fixed-point means as the IVF quantizer — bit-identical
    codebooks on both engines, broadcast-sized (PQ_M x PQ_K rows).
    Memoized per corpus ``key`` (the sf_dir) per SparkContext."""
    return memo(spark, ("pq_codebooks", key), lambda: _pq_train(spark, emb))


def _pq_train(spark: SparkSession, emb: DataFrame) -> DataFrame:
    # r14 (guide §2.2/§2.3): all PQ_M subspace codebooks train TOGETHER —
    # one corpus pass per Lloyd round instead of PQ_M sequential
    # driver-looped jobs, and the rank-1 window became a map-side-combined
    # min_by argmin (same (d2 asc, code asc) selection: the ordering struct
    # is unique per group because the code id is its tie-break, so min_by
    # is deterministic and picks exactly the old row_number()==1 row).
    # Cold build measured 19.2s -> ~5s at sf0.1; codebook values are
    # bit-identical (identical member sets, identical fixed-point means).
    sub = _pq_subvectors(emb)
    cent = sub.filter(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("code"), F.col("sv").alias("cv")
    )
    for _ in range(PQ_ITERS):
        aff = sub.join(F.broadcast(cent), "sub").select(
            "vec_id", "sub", "sv", "code", _pq_l2_rank("sv", "cv").alias("d2")
        )
        members = (
            aff.groupBy("vec_id", "sub")
            .agg(
                F.min_by(
                    F.struct("code", "sv"), F.struct("d2", "code")
                ).alias("m")
            )
            .select("sub", F.col("m.code").alias("code"), F.col("m.sv").alias("sv"))
        )
        cent = _lloyd_means(spark, members, ["sub", "code"], "sv", "cv", PQ_FP)
    return cent


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, sv) — one corpus pass exploding each vector into its
    PQ_M fixed subvector slices (sub is the subspace id as LONG)."""
    slices = F.array(
        *[
            F.slice("embedding", s * PQ_SUBDIM + 1, PQ_SUBDIM).cast(
                "array<double>"
            )
            for s in range(PQ_M)
        ]
    )
    return emb.select(
        "vec_id", F.posexplode(slices).alias("sub", "sv")
    ).withColumn("sub", F.col("sub").cast("long"))


def _pq_codes_long(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, sub, code) — every vector's nearest codeword per subspace.

    r14 (guide §2.2): was PQ_M sequential scan+join+window branches unioned;
    now ONE explode pass joined to the whole broadcast codebook on the
    subspace id, with the rank-1 window replaced by a map-side-combined
    min_by argmin — the ordering struct (d2, code) is unique per
    (vec_id, sub) group, so the selection is exactly the old
    row_number()==1 row.  Measured 1.45s -> 0.90s warm at sf0.1 and the
    4 window exchanges drop out of every PQ consumer's plan."""
    aff = _pq_subvectors(emb).join(F.broadcast(cb), "sub").select(
        "vec_id", "sub", "code", _pq_l2_rank("sv", "cv").alias("d2")
    )
    return (
        aff.groupBy("vec_id", "sub")
        .agg(
            F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias(
                "code"
            )
        )
        .select("vec_id", "sub", "code")
    )


def _pq_adc_table(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """(query_id, sub, code, dot_fp): each probe's ADC lookup table — the
    PQ_M x PQ_K subvector dots in fixed point, so estimated inner products
    are order-independent integer sums."""
    qsub = None
    for s in range(PQ_M):
        lo = s * PQ_SUBDIM + 1
        part = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.lit(s).cast("long").alias("sub"),
            F.slice("embedding", lo, PQ_SUBDIM)
            .cast("array<double>")
            .alias("qv"),
        )
        qsub = part if qsub is None else qsub.unionByName(part)
    return qsub.join(cb, "sub").select(
        "query_id",
        "sub",
        "code",
        F.floor(V.dot(F.col("qv"), F.col("cv")) * PQ_FP)
        .cast("long")
        .alias("dot_fp"),
    )


def _exact_rerank(emb: DataFrame, coarse: DataFrame) -> DataFrame:
    """Top-k of the (query_id, match_id) survivors of a coarse code-only
    stage, by exact cosine over the full float vectors."""
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qfull"),
        V.norm(F.col("embedding")).alias("nq"),
    )
    mv = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("mfull"),
        V.norm(F.col("embedding")).alias("nm"),
    )
    rer = (
        coarse.join(F.broadcast(qv), "query_id")
        .join(mv, "match_id")
        .select(
            "query_id",
            "match_id",
            F.round(
                V.dot(F.col("qfull"), F.col("mfull"))
                / (F.col("nq") * F.col("nm")),
                V.COS_DECIMALS,
            ).alias("score"),
        )
    )
    return _topk(rer)


def _pq_cb_ctes() -> str:
    """Unrolled per-subspace codebook CTEs (pqc{s}: code, cv) mirroring
    :func:`_pq_codebooks_df` — seed, L2 argmin assign, fixed-point means."""
    parts = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        sv = f"embedding[{lo}:{hi}]"
        prev = f"pq{s}c0"
        parts.append(
            f"""{prev} AS (
            SELECT vec_id AS code, {sv} AS cv
            FROM embeddings WHERE vec_id < {PQ_K})"""
        )
        for t in range(PQ_ITERS):
            cc = V.dot_sql_n("c.cv", "c.cv", PQ_SUBDIM)
            xc = V.dot_sql_n("e.sv", "c.cv", PQ_SUBDIM)
            parts.append(
                f"""pq{s}a{t} AS (
                SELECT vec_id, sv, code FROM (
                    SELECT e.vec_id, e.sv, c.code,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round({cc} - 2.0 * {xc}, 6), c.code
                           ) AS crnk
                    FROM (SELECT vec_id, {sv} AS sv FROM embeddings) e
                    CROSS JOIN {prev} c)
                WHERE crnk = 1)"""
            )
            prev = f"pq{s}c{t + 1}"
            parts += _lloyd_mean_ctes(
                f"pq{s}a{t}", f"pq{s}m{t}", prev, "code", "sv", "cv",
                PQ_SUBDIM, PQ_FP,
            )
        parts.append(
            f"pqc{s} AS (SELECT {s} AS sub, code, cv FROM {prev})"
        )
    parts.append(
        "pqcb AS (" + " UNION ALL ".join(
            f"SELECT * FROM pqc{s}" for s in range(PQ_M)
        ) + ")"
    )
    return ",\n".join(parts)


def _pq_codes_sql() -> str:
    """(vec_id, sub, code) assignment CTE chain on top of the codebooks."""
    parts = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        cc = V.dot_sql_n("c.cv", "c.cv", PQ_SUBDIM)
        xc = V.dot_sql_n("e.sv", "c.cv", PQ_SUBDIM)
        parts.append(
            f"""code{s} AS (
            SELECT vec_id, {s} AS sub, code FROM (
                SELECT e.vec_id, c.code,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({cc} - 2.0 * {xc}, 6), c.code
                       ) AS crnk
                FROM (SELECT vec_id, embedding[{lo}:{hi}] AS sv
                      FROM embeddings) e
                CROSS JOIN pqc{s} c)
            WHERE crnk = 1)"""
        )
    parts.append(
        "codes AS (" + " UNION ALL ".join(
            f"SELECT * FROM code{s}" for s in range(PQ_M)
        ) + ")"
    )
    return ",\n".join(parts)


@register(
    "embed_quantize_pq",
    oracle=f"""
        WITH {_pq_cb_ctes()},
        {_pq_codes_sql()}
        SELECT vec_id,
               CAST(MAX(CASE WHEN sub = 0 THEN code END) AS BIGINT) AS code_0,
               CAST(MAX(CASE WHEN sub = 1 THEN code END) AS BIGINT) AS code_1,
               CAST(MAX(CASE WHEN sub = 2 THEN code END) AS BIGINT) AS code_2,
               CAST(MAX(CASE WHEN sub = 3 THEN code END) AS BIGINT) AS code_3
        FROM codes GROUP BY vec_id ORDER BY vec_id
    """,
    tags=("X3", "U1"),
)
def q_embed_quantize_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT quantization (Jégou et al. 2011): each 64-dim vector snaps
    to 4 codeword ids — one per 16-dim subspace, codebooks learned by the
    same deterministic fixed-point Lloyd as the IVF quantizer — for a 64x
    memory cut (256 B float -> 4 B).  The int8 path above is SCALAR
    quantization (4x); PQ is what a 100 TB corpus actually serves ANN
    from.  L2 assignment ranks round(c·c - 2 x·c, 6) with code-id
    tie-break: x·x drops out of the argmin and the two dots are
    ordered folds, so codes hash identically on both engines.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    cb = _pq_codebooks_df(spark, emb, sf_dir)
    codes = _pq_codes_long(emb, cb)
    aggs = [
        F.max(F.when(F.col("sub") == s, F.col("code")))
        .cast("long")
        .alias(f"code_{s}")
        for s in range(PQ_M)
    ]
    return codes.groupBy("vec_id").agg(*aggs).orderBy("vec_id")


def _pq_adc_sql() -> str:
    """``qsub`` + ``adc`` CTEs: the SQL mirror of :func:`_pq_adc_table`."""
    qsub = " UNION ALL ".join(
        f"""SELECT vec_id AS query_id, {s} AS sub,
                   embedding[{s * PQ_SUBDIM + 1}:{(s + 1) * PQ_SUBDIM}] AS qv
            FROM embeddings WHERE vec_id < {N_QUERIES}"""
        for s in range(PQ_M)
    )
    qdot = V.dot_sql_n("q.qv", "c.cv", PQ_SUBDIM)
    return f"""qsub AS ({qsub}),
        adc AS (
            SELECT q.query_id, c.sub, c.code,
                   CAST(floor({qdot} * {PQ_FP}) AS BIGINT) AS dot_fp
            FROM qsub q JOIN pqcb c ON q.sub = c.sub)"""


def _pq_adc_oracle() -> str:
    return f"""
        WITH {_pq_cb_ctes()},
        {_pq_codes_sql()},
        {_pq_adc_sql()},
        est AS (
            SELECT a.query_id, k.vec_id AS match_id,
                   CAST(SUM(a.dot_fp) AS BIGINT) AS est_fp
            FROM codes k JOIN adc a ON a.sub = k.sub AND a.code = k.code
            WHERE a.query_id <> k.vec_id
            GROUP BY 1, 2),
        coarse AS (
            SELECT query_id, match_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY est_fp DESC, match_id) AS crnk
            FROM est),
        rer AS (
            SELECT c.query_id, c.match_id,
                   round({V.cosine_sql('q.embedding', 'm.embedding')},
                         {V.COS_DECIMALS}) AS score
            FROM coarse c
            JOIN embeddings q ON q.vec_id = c.query_id
            JOIN embeddings m ON m.vec_id = c.match_id
            WHERE c.crnk <= {PQ_COARSE_C}),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM rer)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """


@register("sim_search_pq_adc", oracle=_pq_adc_oracle(), tags=("X3",))
def q_sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes — the serving shape of a PQ index: per
    query, ONE broadcast lookup table of PQ_M x PQ_K fixed-point
    subvector dots; the corpus is scanned as (sub, code) tuples only
    (floats never leave the rerank), the estimated inner product is an
    INTEGER sum of table entries (order-independent — float sums would
    tie-break differently across engines), the top PQ_COARSE_C
    candidates rerank with exact cosine, top-k out.  Scan cost per query
    = |corpus| code tuples + PQ_COARSE_C float vectors — the 64x memory
    cut of `embed_quantize_pq` made queryable.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    cb = _pq_codebooks_df(spark, emb, sf_dir)
    codes = _pq_codes_long(emb, cb)
    adc = _pq_adc_table(emb, cb)
    est = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("match_id"))
        .agg(F.sum("dot_fp").cast("long").alias("est_fp"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("est_fp"), F.asc("match_id")
    )
    coarse = (
        est.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= PQ_COARSE_C)
        .select("query_id", "match_id")
    )
    return _exact_rerank(emb, coarse)


@register(
    "sim_search_recall_pq",
    oracle=_recall_oracle_sql(_brute_oracle_sql(), _pq_adc_oracle()),
    tags=("X3", "A2"),
)
def q_sim_search_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ-ADC vs brute-force ground truth — the quality price
    of the 64x compression, measured and hash-pinned like the IVF and
    two-level-IVF contracts (tests pin the floor)."""
    return _recall_frame(
        q_sim_search_topk(spark, sf_dir), q_sim_search_pq_adc(spark, sf_dir)
    )


def _ivfpq_oracle() -> str:
    lloyd_ctes, final = _lloyd_ctes()
    cos_final = V.cosine_sql("e.embedding", "c.centv")
    return f"""
        WITH {",".join(lloyd_ctes)},
        {_pq_cb_ctes()},
        {_pq_codes_sql()},
        aff AS (
            SELECT e.vec_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cos_final}, {V.COS_DECIMALS}) DESC,
                                c.cent_id) AS crnk
            FROM embeddings e CROSS JOIN {final} c),
        cells AS (SELECT vec_id AS match_id, cent_id AS cell
                  FROM aff WHERE crnk <= {IVF_REPL}),
        prb AS (SELECT vec_id AS query_id, cent_id AS cell
                FROM aff WHERE vec_id < {N_QUERIES} AND crnk <= {IVFPQ_NPROBE}),
        cand AS (
            SELECT DISTINCT p.query_id, c.match_id
            FROM prb p JOIN cells c ON p.cell = c.cell
            WHERE p.query_id <> c.match_id),
        {_pq_adc_sql()},
        est AS (
            SELECT cand.query_id, cand.match_id,
                   CAST(SUM(a.dot_fp) AS BIGINT) AS est_fp
            FROM cand
            JOIN codes k ON k.vec_id = cand.match_id
            JOIN adc a ON a.query_id = cand.query_id
                      AND a.sub = k.sub AND a.code = k.code
            GROUP BY 1, 2),
        coarse AS (
            SELECT query_id, match_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY est_fp DESC, match_id) AS crnk
            FROM est),
        rer AS (
            SELECT c.query_id, c.match_id,
                   round({V.cosine_sql('q.embedding', 'm.embedding')},
                         {V.COS_DECIMALS}) AS score
            FROM coarse c
            JOIN embeddings q ON q.vec_id = c.query_id
            JOIN embeddings m ON m.vec_id = c.match_id
            WHERE c.crnk <= {IVFPQ_COARSE_C}),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, match_id) AS rnk FROM rer)
        SELECT query_id, match_id, score, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {TOP_K}
    """


@register("sim_search_ivfpq_adc", oracle=_ivfpq_oracle(), tags=("X3",))
def q_sim_search_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ-ADC — the production serving configuration (Jégou et al.
    2011's full IVFADC): the IVF coarse quantizer restricts candidates to
    the probe cells' members (REPL*nprobe/K of the corpus), the PQ codes
    rank them with the integer ADC table (floats never leave the rerank),
    and IVFPQ_COARSE_C survivors rerank exact.  At 100 TB: cells are the
    partition key, each cell's payload is 4-byte codes + ids — a probe
    reads nprobe partitions of codes, a few KB per million vectors.
    Recall compounds both approximations; `sim_search_recall_ivfpq`
    measures and pins it like every other ANN contract here.
    """
    emb = datasets.load(spark, sf_dir, "embeddings")
    cent = _ivf_centroids_df(spark, emb, sf_dir)
    cb = _pq_codebooks_df(spark, emb, sf_dir)
    ranked = _ivf_assign_df(emb, cent)
    cells = ranked.filter(F.col("crnk") <= IVF_REPL).select(
        F.col("vec_id").alias("match_id"), F.col("cent_id").alias("cell")
    )
    prb = ranked.filter(
        (F.col("vec_id") < N_QUERIES) & (F.col("crnk") <= IVFPQ_NPROBE)
    ).select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
    cand = (
        F.broadcast(prb)
        .join(cells, "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()
    )
    codes = _pq_codes_long(emb, cb)
    adc = _pq_adc_table(emb, cb)
    est = (
        cand.join(codes, cand.match_id == codes.vec_id)
        .join(F.broadcast(adc), ["query_id", "sub", "code"])
        .groupBy("query_id", "match_id")
        .agg(F.sum("dot_fp").cast("long").alias("est_fp"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("est_fp"), F.asc("match_id")
    )
    coarse = (
        est.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= IVFPQ_COARSE_C)
        .select("query_id", "match_id")
    )
    return _exact_rerank(emb, coarse)


@register(
    "sim_search_recall_ivfpq",
    oracle=_recall_oracle_sql(_brute_oracle_sql(), _ivfpq_oracle()),
    tags=("X3", "A2"),
)
def q_sim_search_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the combined IVF + PQ-ADC pipeline vs brute force —
    the compounded approximation cost, hash-pinned like its parents."""
    return _recall_frame(
        q_sim_search_topk(spark, sf_dir), q_sim_search_ivfpq_adc(spark, sf_dir)
    )


# --- disk-resident IVF: per-cell parquet buckets, DPP-pruned probe ----------
# The in-memory IVF variants above rebuild (or re-scan) the whole candidate
# table per search; at 100 TB the index must live ON DISK with the probe
# reading ONLY the probed cells' files.  The Spark-native layout is a
# parquet dataset partitioned by cell id: the probe side joins on the
# partition column under a broadcast, so Catalyst injects a dynamicpruning
# subquery into the scan's PartitionFilters — the runtime analog of static
# partition pruning, proportional to nprobe/K of the corpus regardless of
# corpus size (tests/test_plans.py pins the pruned plan shape).  Recall is
# hash-pinned like every other ANN knob here; nprobe=3 (vs the flat IVF's 2)
# buys the ≥0.85 floor the r09 verdict asks for (#4).
IVFB_NPROBE = 3

def _ivf_bucketed_index_path(
    spark: SparkSession, emb: DataFrame, sf_dir: str
) -> str:
    """Write (once per SparkContext per resolved sf_dir) the IVF index as a
    parquet dataset partitioned by ``cell`` and return its path.

    Deterministic and idempotent: the cell assignment is the same
    fixed-point Lloyd quantizer every IVF query shares (one memoized
    centroid table), and the writer overwrites, so a stale on-disk index
    from an older session can never leak into this one's results.

    Keyed by the FULL resolved sf_dir, not its basename: two fixture dirs
    sharing a basename (/a/sf0.1 vs /b/sf0.1) must not reuse each other's
    index.  The directory lives under the scratch root, is named
    "ivf_bucketed-<app-id>-<basename>-<dirhash8>" (readable, collision-free,
    and app-scoped so concurrent sessions never race on one overwrite
    target), and is removed when the driver process exits."""
    import atexit
    import hashlib
    import os
    import pathlib
    import shutil

    from flinkexp_spark.streaming.replay import SCRATCH_ROOT

    full = str(pathlib.Path(sf_dir).resolve())

    def write() -> str:
        path = os.path.join(
            SCRATCH_ROOT,
            "ivf_bucketed-{}-{}-{}".format(
                spark.sparkContext.applicationId,
                pathlib.Path(full).name or "default",
                hashlib.sha256(full.encode()).hexdigest()[:8],
            ),
        )
        cent = _ivf_centroids_df(spark, emb, sf_dir)
        index = (
            _ivf_assign_df(emb, cent)
            .filter(F.col("crnk") <= IVF_REPL)
            .select(
                F.col("vec_id").alias("match_id"),
                F.col("embedding").alias("cv"),
                F.col("cent_id").cast("int").alias("cell"),
            )
        )
        index.write.mode("overwrite").partitionBy("cell").parquet(path)
        atexit.register(shutil.rmtree, path, True)
        return path

    return memo(spark, ("ivf_bucketed_index", full), write)


@register(
    "sim_search_ivf_bucketed",
    # Same quantizer/replication as sim_search_ivf, nprobe=3: the oracle is
    # the flat-IVF oracle at the wider probe depth.  The DISK layout is a
    # physical property (partition pruning) the plan tests pin; the VALUES
    # must be byte-identical to the logical IVF search at nprobe=3.
    oracle=_ivf_oracle_sql(nprobe=IVFB_NPROBE),
    tags=("X3",),
)
def q_sim_search_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: DISK-RESIDENT IVF — the index is a parquet dataset
    partitioned by cell id; each search reads only its probed cells' files.

    Write path (once per session): assign every vector to its IVF_REPL
    nearest Lloyd cells and write partitioned by cell.  Probe path: assign
    the query set to its IVFB_NPROBE nearest cells, broadcast it, and join
    on the PARTITION COLUMN — dynamic partition pruning turns that into a
    runtime PartitionFilters subquery on the scan, so the index I/O is
    nprobe/K of the corpus whatever the corpus size (the 100 TB contract;
    plan shape pinned in tests/test_plans.py).  Candidate scoring, dedup
    and top-k ranking are identical to sim_search_ivf."""
    emb = datasets.load(spark, sf_dir, "embeddings")
    path = _ivf_bucketed_index_path(spark, emb, sf_dir)
    index = spark.read.parquet(path)
    cent = _ivf_centroids_df(spark, emb, sf_dir)
    probes = (
        _ivf_assign_df(emb.filter(F.col("vec_id") < N_QUERIES), cent)
        .filter(F.col("crnk") <= IVFB_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("cent_id").cast("int").alias("cell"),
        )
    )
    pairs = (
        index.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(
                V.cosine(F.col("qv"), F.col("cv")), V.COS_DECIMALS
            ).alias("score"),
        )
        # with REPL x NPROBE multi-assignment a pair can meet in several
        # shared cells; score is pair-deterministic so dedup is exact
        .distinct()
    )
    return _topk(pairs)


@register(
    "sim_search_recall_ivf_bucketed",
    oracle=_recall_oracle_sql(
        _brute_oracle_sql(), _ivf_oracle_sql(nprobe=IVFB_NPROBE)
    ),
    tags=("X3", "A2"),
)
def q_sim_search_recall_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the disk-resident bucketed IVF vs brute force, as one
    plan — hash-pinned like its parents; the ≥0.85 floor is asserted in
    tests/test_llm_ops.py (measured 0.85+ at both fixture scales with
    nprobe=3)."""
    return _recall_frame(
        q_sim_search_topk(spark, sf_dir), q_sim_search_ivf_bucketed(spark, sf_dir)
    )
