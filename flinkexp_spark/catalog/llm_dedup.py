"""X1/X2 deduplication suite over the ``documents`` table: exact, MinHash-LSH,
SimHash, n-gram Jaccard (SURVEY §2.3).

The reference has no dedup operators (its only text op is the word-count
split, StreamSocket.scala:15); these are the north-star training-data
pipeline operators.  Every query here is FULLY oracle-checked — the md5
hash contract (functions/text.py) makes even the MinHash-LSH banding
bit-identical between Spark and DuckDB.

Scale design per operator:

* exact: one hash-shuffle on sha256(text) — the canonical 100 TB dedup.
* MinHash: signatures computed shuffle-free in whole-stage codegen (array
  lambdas); the only shuffle is the band-key self-join (collision-bounded).
* SimHash: same — signature is an array fold; candidate pairs via byte-band
  equality join, then exact hamming filter.
* n-gram Jaccard: sparse inverted-index join on shingles with a document-
  frequency cap (drops hot shingles that would otherwise create O(df²)
  pair blowup — the standard guard at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions import text as T
from flinkexp_spark.registry import register
from flinkexp_spark.session import memo

NGRAM_DF_CAP = 100  # drop shingles appearing in more docs than this
JACCARD_MIN = 0.5
HAMMING_MAX = 2
EST_JACCARD_MIN = 0.5

_MH = [f"mh_{i}" for i in range(T.N_MINHASH)]

# Shared oracle CTE: tokens and shingles per document.
_O_SHINGLED = f"""
    t AS (SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents),
    s AS (SELECT doc_id, {T.shingles_sql('toks')} AS sh FROM t)
"""

_O_SIG_BODY = f"""
    {_O_SHINGLED},
    hs AS (SELECT doc_id, {T.hashed_shingles_sql('sh')} AS hsl FROM s),
    m AS (SELECT doc_id,
          {', '.join(T.minhash_cols_sql('sh', hashes_expr='hsl'))} FROM hs)
"""

_O_SIG = "WITH " + _O_SIG_BODY

_O_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {T.band_key_sql(b)} AS key FROM m"
    for b in range(T.BANDS)
)

_O_AGREE = (
    "("
    + " + ".join(f"CASE WHEN x.{c} = y.{c} THEN 1 ELSE 0 END" for c in _MH)
    + f") / {float(T.N_MINHASH)}"
)

# candidate pairs + est-jaccard filter, as a reusable CTE body
_O_SCORED_BODY = f"""
    b AS ({_O_BANDS}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             FROM b a JOIN b c ON a.band = c.band AND a.key = c.key
                              AND a.doc_id < c.doc_id),
    scored AS (
        SELECT id_a, id_b, {_O_AGREE} AS est_jaccard
        FROM cand JOIN m x ON cand.id_a = x.doc_id
                  JOIN m y ON cand.id_b = y.doc_id)
"""


# --- shared signature table -------------------------------------------------
# Three queries (LSH pairs, keep, components) all start from the SAME
# 17-ints/doc MinHash signature table, and each uses it on 3+ plan branches.
# Materialize it ONCE per (session, sf_dir) with localCheckpoint, memoized
# per SparkContext (session.memo), and reuse it.
def signature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(
        spark,
        ("minhash_signatures", sf_dir),
        lambda: T.minhash_signatures(
            datasets.load(spark, sf_dir, "documents")
        ).localCheckpoint(),
    )


@register(
    "dedup_exact",
    oracle="""
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT sha256(text)) AS n_unique,
               CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS BIGINT)
                   AS n_dropped
        FROM documents
    """,
    tags=("X1",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact content-hash dedup — survivor/drop counts.

    ``sha2(text, 256)`` group keys; at 100 TB this is one shuffle on a
    64-hex key, and the canonical `dropDuplicates` rewrite.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count("*") - F.countDistinct(h)).alias("n_dropped"),
    )


@register(
    "dedup_minhash_signature",
    oracle=_O_SIG + f"SELECT doc_id, {', '.join(_MH)} FROM m",
    tags=("X2",),
)
def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (stage 1): 16-component MinHash signature per document.

    Computed entirely with array lambdas inside whole-stage codegen — the
    signature stage of MinHash dedup is shuffle-free and embarrassingly
    parallel at any scale.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    return T.minhash_signatures(docs)


@register(
    "dedup_minhash_lsh",
    oracle=_O_SIG
    + ","
    + _O_SCORED_BODY
    + f"""
    SELECT id_a, id_b, est_jaccard FROM scored
    WHERE est_jaccard >= {EST_JACCARD_MIN}
    """,
    tags=("X2",),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash-LSH near-duplicate pairs.

    Band-collision candidates (8 bands × 2 rows), then signature-agreement
    estimate of Jaccard; pairs with est >= 0.5.  The candidate join shuffles
    on (band, key) only — never O(n²).

    The signature table comes from :func:`signature_table` — materialized
    once per (session, sf_dir) and shared with `dedup_minhash_keep` /
    `dedup_components`; it feeds three plan branches (bands, x-side,
    y-side), so one materialization replaces nine hash-pipeline runs.
    """
    sig = signature_table(spark, sf_dir)
    cand = T.lsh_candidate_pairs(sig)
    x, y = sig.alias("x"), sig.alias("y")
    agree = sum(
        F.when(F.col(f"x.{c}") == F.col(f"y.{c}"), 1).otherwise(0) for c in _MH
    )
    return (
        cand.join(x, F.col("id_a") == F.col("x.doc_id"))
        .join(y, F.col("id_b") == F.col("y.doc_id"))
        .select(
            "id_a",
            "id_b",
            (agree / float(T.N_MINHASH)).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {_O_SHINGLED},
        d AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
        capped AS (SELECT * FROM d WHERE g IN
                   (SELECT g FROM d GROUP BY g HAVING COUNT(*) <= {NGRAM_DF_CAP})),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                  FROM capped a JOIN capped b
                    ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
        FROM inter
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_MIN}
    """,
    tags=("X2",),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: exact n-gram (3-word shingle) Jaccard via sparse inverted-index
    join, document-frequency-capped.

    J = |A∩B| / (|A|+|B|-|A∩B|) over the capped shingle sets.  The join is
    per-shingle (inverted index), so work scales with shared-shingle pairs;
    the DF cap bounds the worst case.
    """
    from flinkexp_spark.functions.text import _widen

    docs = _widen(datasets.load(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        F.explode(T.shingles(T.tokens(F.col("text")))).alias("g"),
    ).distinct()
    df_ok = (
        sh.groupBy("g").agg(F.count("*").alias("df")).filter(F.col("df") <= NGRAM_DF_CAP)
    )
    # capped feeds four plan branches (sizes + both self-join sides);
    # materialize the inverted index once instead of re-exploding per branch
    capped = sh.join(df_ok.select("g"), "g").localCheckpoint()
    sz = capped.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    j = F.col("c") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    return (
        inter.join(sz.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sz.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .filter(j >= JACCARD_MIN)
        .select("id_a", "id_b", F.round(j, 4).alias("jaccard"))
    )


def _simhash_oracle_sql(n_slices: int = 24) -> str:
    """Sliced oracle for ``dedup_simhash`` (the r14 DuckDB-parallelism
    lesson from geo's ``_fold_oracle_sql``): the band self-join hangs off
    one in-memory pipeline and runs effectively single-threaded, so the
    pair space is partitioned into ``n_slices`` UNION ALL branches on
    ``a.doc_id % n`` that DuckDB schedules concurrently.  Each branch is
    DISTINCT-ed independently — correct globally because a pair's id_a
    lives in exactly one slice — and the hamming cutoff moves BEFORE the
    DISTINCT (a pure function of the pair commutes with dedup), so each
    branch dedups ~hamming-survivors, not the full candidate stream."""
    branch = f"""
            SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
                   bit_count(xor(a.sim, c.sim)) AS hamming
            FROM b a JOIN b c ON a.band = c.band AND a.key = c.key
                             AND a.doc_id < c.doc_id
            WHERE a.doc_id % {n_slices} = {{k}}
              AND bit_count(xor(a.sim, c.sim)) <= {HAMMING_MAX}"""
    branches = "\n            UNION ALL\n".join(
        branch.format(k=k) for k in range(n_slices)
    )
    return f"""
        WITH t AS (SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents),
        -- zero-token docs carry no signature on either engine (the Spark
        -- side's explode drops them; mirror with the len() guard)
        m AS MATERIALIZED (SELECT doc_id, {T.simhash_sql('toks')} AS sim FROM t
              WHERE len(toks) > 0),
        b AS MATERIALIZED (
              SELECT doc_id, sim, band, (sim >> (8 * band)) & 255 AS key
              FROM m, (SELECT unnest(range(4)) AS band))
        {branches}
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle_sql(),
    tags=("X2",),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: SimHash near-dup pairs — 32-bit signatures, byte-band candidate
    generation, exact hamming-distance filter (<= 2 bits).

    Candidates come from equality on any of the 4 signature bytes (the
    pigeonhole guarantee: hamming <= 2 over 4 bands forces >= 1 identical
    band), so no O(n²) pass exists even at full scale.

    r14 plan: a hamming<=2 pair matches in AT LEAST TWO bands (at most 2
    differing bits touch at most 2 bands), so the old emit-per-band +
    ``.distinct()`` shuffled every candidate pair 2-4 times — billions of
    rows at sf1 just to dedup them again.  Each pair now emits EXACTLY
    once: the join condition additionally requires the band to be the
    pair's FIRST equal band (computable inline from sim XOR sim — both
    signatures are in scope at the join) and applies the hamming cutoff
    in the same condition.  The join output IS the result: no distinct,
    no re-shuffle of the candidate stream, and the per-candidate work is
    three mask tests + a popcount in codegen.  At 100 TB the candidate
    stream never materializes anywhere — it exists only as the join's
    condition evaluations.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    sig = T.simhash_table(docs)
    bands = sig.select(
        "doc_id",
        "sim",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn("key", F.expr("shiftrightunsigned(sim, 8 * band) & 255"))
    a, c = bands.alias("a"), bands.alias("c")
    xor = F.col("a.sim").bitwiseXOR(F.col("c.sim"))
    first_band = (
        F.when(xor.bitwiseAND(F.lit(0xFF)) == 0, 0)
        .when(xor.bitwiseAND(F.lit(0xFF00)) == 0, 1)
        .when(xor.bitwiseAND(F.lit(0xFF0000)) == 0, 2)
        .otherwise(3)
    )
    return a.join(
        c,
        (F.col("a.band") == F.col("c.band"))
        & (F.col("a.key") == F.col("c.key"))
        & (F.col("a.doc_id") < F.col("c.doc_id"))
        & (F.col("a.band") == first_band)
        & (T.hamming(F.col("a.sim"), F.col("c.sim")) <= HAMMING_MAX),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("c.doc_id").alias("id_b"),
        T.hamming(F.col("a.sim"), F.col("c.sim")).alias("hamming"),
    )


@register(
    "dedup_minhash_keep",
    oracle=_O_SIG
    + ","
    + _O_SCORED_BODY
    + f"""
    SELECT COUNT(*) AS n_kept FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM scored
                         WHERE est_jaccard >= {EST_JACCARD_MIN})
    """,
    tags=("X2",),
)
def q_dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (materialized dedup): greedy keep-lowest-id — drop every doc that
    near-duplicates a lower-id doc; count survivors.

    One anti-join against the LSH dup-pair sink side.  (Full connected-
    component canonicalization is iterative — see operators/components.py.)
    """
    docs = datasets.load(spark, sf_dir, "documents")
    dups = _neardup_edges(spark, sf_dir).select("id_b").distinct()
    kept = docs.join(dups, docs.doc_id == dups.id_b, "left_anti")
    return kept.agg(F.count("*").alias("n_kept"))


_O_COMPONENTS = (
    "WITH RECURSIVE "
    + _O_SIG_BODY
    + ","
    + _O_SCORED_BODY
    + f""",
    e AS (SELECT id_a, id_b FROM scored WHERE est_jaccard >= {EST_JACCARD_MIN}),
    sym AS (SELECT id_a AS u, id_b AS v FROM e
            UNION SELECT id_b, id_a FROM e),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    comp AS (SELECT u AS node, least(u, MIN(v)) AS component
             FROM reach GROUP BY u)
    SELECT component, COUNT(*) AS cluster_size,
           MIN(node) AS min_doc, MAX(node) AS max_doc
    FROM comp GROUP BY component
    """
)


def _neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pair graph (LSH candidates scored >= EST_JACCARD_MIN)."""
    sig = signature_table(spark, sf_dir)
    cand = T.lsh_candidate_pairs(sig)
    x, y = sig.alias("x"), sig.alias("y")
    agree = sum(
        F.when(F.col(f"x.{c}") == F.col(f"y.{c}"), 1).otherwise(0) for c in _MH
    )
    return (
        cand.join(x, F.col("id_a") == F.col("x.doc_id"))
        .join(y, F.col("id_b") == F.col("y.doc_id"))
        .filter((agree / float(T.N_MINHASH)) >= EST_JACCARD_MIN)
        .select("id_a", "id_b")
    )


def _cluster_shape(comp: DataFrame) -> DataFrame:
    return comp.groupBy("component").agg(
        F.count("*").alias("cluster_size"),
        F.min("node").alias("min_doc"),
        F.max("node").alias("max_doc"),
    )


@register("dedup_components", oracle=_O_COMPONENTS, tags=("X2",))
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (canonicalization): connected components over the near-dup pair
    graph — every doc in a dup cluster labeled with the cluster's min id.

    Iterative min-label propagation (operators/components.py); the oracle is
    the transitive closure via a recursive CTE.  Output is per-cluster shape
    (size, id range), i.e. the dedup "survivor groups".
    """
    from flinkexp_spark.operators.components import connected_components

    comp = connected_components(_neardup_edges(spark, sf_dir))
    return _cluster_shape(comp)


@register("dedup_components_star", oracle=_O_COMPONENTS, tags=("X2",))
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (canonicalization, planet-scale path): same components contract via
    alternating large-star/small-star (Kiveris et al., SoCC 2014) —
    O(log n) rounds independent of component diameter, where min-label
    propagation needs O(diameter) rounds.  Identical oracle as
    `dedup_components`: both must reproduce the recursive-CTE transitive
    closure exactly.
    """
    from flinkexp_spark.operators.components import connected_components_star

    comp = connected_components_star(_neardup_edges(spark, sf_dir))
    return _cluster_shape(comp)


NEW_MOD = 4  # docs with doc_id % NEW_MOD == 0 play the "incoming crawl batch"


@register(
    "dedup_incremental",
    oracle="WITH "
    + _O_SIG_BODY
    + ","
    + _O_SCORED_BODY
    + f""",
    e AS (SELECT id_a, id_b FROM scored WHERE est_jaccard >= {EST_JACCARD_MIN}),
    newd AS (SELECT doc_id, lang, text FROM documents
             WHERE doc_id % {NEW_MOD} = 0),
    hist AS (SELECT doc_id, text FROM documents
             WHERE doc_id % {NEW_MOD} <> 0),
    exact AS (SELECT DISTINCT n.doc_id FROM newd n
              JOIN hist h ON n.text = h.text),
    near AS (SELECT DISTINCT
                    CASE WHEN id_a % {NEW_MOD} = 0 THEN id_a ELSE id_b END
                        AS doc_id
             FROM e
             WHERE (id_a % {NEW_MOD} = 0) <> (id_b % {NEW_MOD} = 0)),
    flags AS (
        SELECT n.lang,
               CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
                    WHEN nr.doc_id IS NOT NULL THEN 'near'
                    ELSE 'keep' END AS verdict
        FROM newd n
        LEFT JOIN exact ex ON n.doc_id = ex.doc_id
        LEFT JOIN near nr ON n.doc_id = nr.doc_id)
    SELECT lang,
           COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN verdict = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drop_exact,
           CAST(SUM(CASE WHEN verdict = 'near' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_drop_near,
           CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM flags GROUP BY lang
    """,
    tags=("X1", "X2"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 (incremental ingestion): dedup an incoming crawl batch against
    the historical corpus — exact (content hash) first, then MinHash-LSH
    near-dup, without ever re-pairing history with itself.

    This is the production 100 TB shape: each new crawl is deduped against
    the existing corpus's persisted signature/hash index (here: the shared
    signature table restricted to history), so per-ingest cost is
    O(batch × collisions), not O(corpus²).  History-history pairs are
    filtered out of the candidate stream before scoring ever happens.
    Verdict precedence: exact beats near; survivors are 'keep'.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % NEW_MOD) == 0
    new = docs.filter(is_new).select("doc_id", "lang", "text")
    hist = docs.filter(~is_new)

    h = F.sha2(F.col("text"), 256)
    exact_ids = (
        new.select("doc_id", h.alias("h"))
        .join(hist.select(h.alias("h")).distinct(), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )

    cross = (F.col("id_a") % NEW_MOD == 0) != (F.col("id_b") % NEW_MOD == 0)
    near_ids = (
        _neardup_edges(spark, sf_dir)
        .filter(cross)
        .select(
            F.when(F.col("id_a") % NEW_MOD == 0, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )

    verdict = (
        F.when(F.col("is_exact"), "exact")
        .when(F.col("is_near"), "near")
        .otherwise("keep")
    )
    flags = (
        new.join(exact_ids.withColumn("is_exact", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("is_near", F.lit(True)), "doc_id", "left")
        .fillna(False, ["is_exact", "is_near"])
        .select("lang", verdict.alias("verdict"))
    )
    zsum = lambda v: F.sum(  # noqa: E731
        F.when(F.col("verdict") == v, 1).otherwise(0)
    )
    return flags.groupBy("lang").agg(
        F.count("*").alias("n_new"),
        zsum("exact").alias("n_drop_exact"),
        zsum("near").alias("n_drop_near"),
        zsum("keep").alias("n_kept"),
    )


# --- line-level (segment) exact dedup ----------------------------------------
# C4-style sub-document dedup (Raffel et al. 2020 dropped duplicate three-
# sentence spans corpus-wide): the fixture text has no sentence boundaries,
# so "lines" are deterministic 8-token segments; the keep rule is C4's —
# first occurrence corpus-wide by (doc_id, position), all later copies drop.
SEG_TOKENS = 8
SEG_REPORT_DOCS = 200
SEG_MAX_PER_DOC = 200  # both engines truncate at 200 segments/doc


@register(
    "dedup_lines",
    oracle=f"""
        WITH t0 AS (SELECT doc_id, {T.tokens_sql('text')} AS toks
                    FROM documents),
        segs AS (
            SELECT doc_id, i AS seg_idx,
                   array_to_string(
                       toks[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}],
                       ' ') AS seg
            FROM t0, (SELECT unnest(range({SEG_MAX_PER_DOC})) AS i)
            WHERE i < CAST(floor(len(toks) / {SEG_TOKENS}) AS BIGINT)),
        ranked AS (
            SELECT doc_id, seg_idx,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY doc_id, seg_idx) AS rn
            FROM segs)
        SELECT doc_id,
               COUNT(*) AS n_segments,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM ranked
        WHERE doc_id < {SEG_REPORT_DOCS}
        GROUP BY doc_id
    """,
    tags=("X1", "X2"),
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 at sub-document granularity: corpus-wide LINE dedup (the C4 move:
    drop any repeated span no matter which document it appears in, keep the
    first occurrence in (doc_id, position) order).

    One hash shuffle on the segment text — identical structure to exact doc
    dedup, just a finer key.  At 100 TB: segment -> md5 before the shuffle
    (16-byte keys instead of text), and the first-occurrence rank becomes
    min_by over the (doc_id, seg_idx) pair — both map-side combinable; the
    report aggregation re-shuffles only per-doc counters.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    t0 = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    # SEG_MAX_PER_DOC caps BOTH engines: the oracle's unnest(range(200))
    # bound would silently truncate a >1600-token doc while Spark kept
    # going — cap here too so the parity contract holds for any fixture.
    n_seg = F.least(
        F.floor(F.size("toks") / SEG_TOKENS).cast("int"),
        F.lit(SEG_MAX_PER_DOC),
    )
    seg_list = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice("toks", i * SEG_TOKENS + 1, SEG_TOKENS)),
    )
    segs = (
        t0.filter(n_seg > 0)
        .select("doc_id", F.posexplode(seg_list).alias("seg_idx", "seg"))
    )
    # First occurrence via min(struct) — MAP-SIDE COMBINABLE, so a hot
    # segment ("click here to subscribe" x 10^8 at corpus scale) reduces to
    # one row per partition before the shuffle; a rank window over seg
    # would instead sort the entire hot group in one task.
    firsts = segs.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first")
    )
    flagged = segs.join(firsts, "seg").select(
        "doc_id",
        (
            (F.col("first.doc_id") == F.col("doc_id"))
            & (F.col("first.seg_idx") == F.col("seg_idx"))
        ).alias("is_first"),
    )
    return (
        flagged.filter(F.col("doc_id") < SEG_REPORT_DOCS)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("is_first"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


@register(
    "dedup_keep_best",
    oracle="WITH RECURSIVE "
    + _O_SIG_BODY
    + ","
    + _O_SCORED_BODY
    + f""",
    e AS (SELECT id_a, id_b FROM scored WHERE est_jaccard >= {EST_JACCARD_MIN}),
    sym AS (SELECT id_a AS u, id_b AS v FROM e
            UNION SELECT id_b, id_a FROM e),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    comp AS (SELECT u AS node, least(u, MIN(v)) AS component
             FROM reach GROUP BY u),
    sized AS (SELECT c.component, c.node,
                     len({T.tokens_sql('d.text')}) AS n_tokens
              FROM comp c JOIN documents d ON c.node = d.doc_id),
    ranked AS (SELECT component, node, n_tokens,
                      row_number() OVER (PARTITION BY component
                                         ORDER BY n_tokens DESC, node) AS rn
               FROM sized)
    SELECT component,
           node AS winner_doc,
           CAST(n_tokens AS BIGINT) AS winner_tokens,
           (SELECT COUNT(*) FROM comp c2
            WHERE c2.component = ranked.component) AS cluster_size
    FROM ranked WHERE rn = 1
    """,
    tags=("X2", "X4"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 canonical selection with a QUALITY policy: within each near-dup
    cluster keep the RICHEST document (most tokens; doc_id tiebreak) — the
    production dedup policy (keep the longest/highest-quality copy), vs
    keep-first (`dedup_minhash_keep`) which discards content when the first
    copy is a truncated variant.

    Structure: components labeling (shared signature table) + one
    max_by(struct) per cluster — map-side combinable, no per-cluster sort.
    """
    from flinkexp_spark.operators.components import connected_components

    comp = connected_components(_neardup_edges(spark, sf_dir))
    docs = datasets.load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"),
        F.size(T.tokens(F.col("text"))).alias("n_tokens"),
    )
    sized = comp.join(docs, "node")
    return sized.groupBy("component").agg(
        F.max_by(
            F.struct(
                F.col("n_tokens").cast("long").alias("winner_tokens"),
                F.col("node").alias("winner_doc"),
            ),
            # policy order: tokens DESC then doc_id ASC -> maximize
            # (n_tokens, -node)
            F.struct(F.col("n_tokens"), (-F.col("node")).alias("neg")),
        ).alias("w"),
        F.count("*").alias("cluster_size"),
    ).select(
        "component",
        F.col("w.winner_doc").alias("winner_doc"),
        F.col("w.winner_tokens").alias("winner_tokens"),
        "cluster_size",
    )


CONTAINMENT_MIN = 0.9


@register(
    "dedup_containment",
    oracle=f"""
        WITH {_O_SHINGLED},
        d AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
        capped AS (SELECT * FROM d WHERE g IN
                   (SELECT g FROM d GROUP BY g HAVING COUNT(*) <= {NGRAM_DF_CAP})),
        sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
                  FROM capped a JOIN capped b
                    ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(c * 1.0 / LEAST(sa.n, sb.n), 4) AS containment
        FROM inter
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE c * 1.0 / LEAST(sa.n, sb.n) >= {CONTAINMENT_MIN}
    """,
    tags=("X2",),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: CONTAINMENT near-dup — |A∩B| / min(|A|,|B|) >= 0.9.

    Jaccard under-scores a short doc fully embedded in a long one
    (truncated copies, quote-with-commentary — the asymmetric duplication
    crawls actually produce); containment normalizes by the SMALLER set so
    those pairs surface.  Scoring runs over the same df-capped gram space
    as `dedup_ngram_jaccard`, but candidate generation adds the
    CONTAINMENT prefix filter (the asymmetric AllPairs variant): a pair
    at containment >= t shares >= ceil(t*m) grams (m = the smaller
    capped-set size), so in a global rarest-first gram order the SMALLER
    side must collide within its first |s| - ceil(t*|s|) + 1 grams.
    Joining only that ~(1-t)-fraction prefix against the full capped
    postings — pairs oriented smaller-(n, id) -> larger so each is probed
    once from its min side — is lossless for the final threshold (the
    unchanged brute-force-over-capped-grams oracle re-proves it every
    run) and cuts candidate cost from sum(df^2) to sum(prefix_df * df):
    ~10x fewer candidate rows at t = 0.9.  This was the slowest registry
    query at sf0.1 (~55 s) before the filter.
    """
    # spread the CPU-heavy shingle pipeline across cores first: the
    # corpus arrives as few parquet files (1 task each), and shingling —
    # not the pair join — dominates this query's wall time
    docs = datasets.load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = T.tokens(F.col("text"))
    sets = docs.select(
        "doc_id", F.array_distinct(T.shingles(toks)).alias("sh")
    ).filter(F.size("sh") > 0)
    # tokenize+shingle ONCE: the df aggregate and the cap join both read
    # these postings; recomputing the pipeline per consumer doubled cost
    d = sets.select(
        "doc_id", F.explode("sh").alias("g")
    ).localCheckpoint()
    dfreq = d.groupBy("g").agg(F.count("*").alias("gdf"))
    capped = (
        d.join(dfreq.filter(F.col("gdf") <= NGRAM_DF_CAP), "g")
        .localCheckpoint()  # postings + prefix + verify share one build
    )
    # capped gram set + size per doc (the verify side intersects ARRAYS,
    # so the per-gram pair join never runs on the verified candidates)
    sz = capped.groupBy("doc_id").agg(
        F.collect_list("g").alias("gs"), F.count("*").alias("n")
    ).localCheckpoint()
    # smaller-side prefix in the global (df, gram) order
    prefix_len = (
        F.col("n") - F.ceil(F.lit(CONTAINMENT_MIN) * F.col("n")) + 1
    )
    prefix = (
        capped.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("gdf", "g")
            ),
        )
        .join(sz.select("doc_id", "n"), "doc_id")
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "n", "g")
    )
    full = capped.join(sz.select("doc_id", "n"), "doc_id").select(
        "doc_id", "n", "g"
    )
    # orient each pair min-(n, id) -> max so the prefix probe runs once,
    # from the side the threshold is normalized by
    a_lt_b = (F.col("a.n") < F.col("b.n")) | (
        (F.col("a.n") == F.col("b.n"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        prefix.alias("a")
        .join(full.alias("b"), "g")
        .filter(a_lt_b)
        .select(
            F.col("a.doc_id").alias("min_id"),
            F.col("b.doc_id").alias("max_id"),
        )
        .distinct()
    )
    va = sz.select(
        F.col("doc_id").alias("min_id"),
        F.col("gs").alias("gs_a"),
        F.col("n").alias("na"),
    )
    vb = sz.select(
        F.col("doc_id").alias("max_id"),
        F.col("gs").alias("gs_b"),
        F.col("n").alias("nb"),
    )
    c = F.size(F.array_intersect("gs_a", "gs_b"))
    cont = c / F.least(F.col("na"), F.col("nb"))
    return (
        cand.join(va, "min_id")
        .join(vb, "max_id")
        .filter(cont >= CONTAINMENT_MIN)
        .select(
            F.least("min_id", "max_id").alias("id_a"),
            F.greatest("min_id", "max_id").alias("id_b"),
            F.round(cont, 4).alias("containment"),
        )
    )


# Segments appearing in >= BOILER_MIN_DOCS distinct documents are treated as
# boilerplate (nav bars, cookie banners, license footers at corpus scale).
BOILER_MIN_DOCS = 3


@register(
    "boilerplate_strip",
    oracle=f"""
        WITH t0 AS (SELECT doc_id, {T.tokens_sql('text')} AS toks
                    FROM documents),
        segs AS (
            SELECT doc_id, i AS seg_idx,
                   array_to_string(
                       toks[i * {SEG_TOKENS} + 1 : i * {SEG_TOKENS} + {SEG_TOKENS}],
                       ' ') AS seg
            FROM t0, (SELECT unnest(range({SEG_MAX_PER_DOC})) AS i)
            WHERE i < CAST(floor(len(toks) / {SEG_TOKENS}) AS BIGINT)),
        docfreq AS (
            SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM segs GROUP BY seg)
        SELECT s.doc_id,
               COUNT(*) AS n_segments,
               CAST(SUM(CASE WHEN d.ndocs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_boiler
        FROM segs s JOIN docfreq d ON s.seg = d.seg
        WHERE s.doc_id < {SEG_REPORT_DOCS}
        GROUP BY s.doc_id
    """,
    tags=("X1", "X4"),
)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency boilerplate detection (the OTHER C4 cleanup:
    dedup_lines keeps first occurrences; THIS flags spans that recur across
    >= {BOILER_MIN_DOCS} distinct documents — nav bars, cookie banners,
    license footers — for stripping from EVERY document).

    Two shuffles, both on the segment hash: distinct-doc frequency, then
    the flag join back.  At 100 TB the segment key becomes md5(seg) before
    the shuffle and the docfreq table is tiny (only segments over the
    threshold matter) — broadcast it for the second pass.
    """
    docs = datasets.load(spark, sf_dir, "documents")
    t0 = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    # SEG_MAX_PER_DOC caps BOTH engines: the oracle's unnest(range(200))
    # bound would silently truncate a >1600-token doc while Spark kept
    # going — cap here too so the parity contract holds for any fixture.
    n_seg = F.least(
        F.floor(F.size("toks") / SEG_TOKENS).cast("int"),
        F.lit(SEG_MAX_PER_DOC),
    )
    seg_list = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(" ", F.slice("toks", i * SEG_TOKENS + 1, SEG_TOKENS)),
    )
    segs = (
        t0.filter(n_seg > 0)
        .select("doc_id", F.posexplode(seg_list).alias("seg_idx", "seg"))
    )
    docfreq = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    return (
        segs.join(docfreq, "seg")
        .filter(F.col("doc_id") < SEG_REPORT_DOCS)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(
                F.when(F.col("ndocs") >= BOILER_MIN_DOCS, 1).otherwise(0)
            ).cast("long").alias("n_boiler"),
        )
    )
