"""WordPiece subword tokenizer — greedy longest-match-first encode
(round 12), the third tokenizer family next to BPE (merge replay,
catalog/tokenizer.py) and unigram-LM (Viterbi lattice,
catalog/tokenizer_unigram.py).

Classic WordPiece encoding (Wu et al. 2016, the BERT tokenizer — public
method): per word, repeatedly take the LONGEST vocabulary piece matching
at the cursor; word-initial pieces are plain strings, word-internal
pieces carry the ``##`` continuation marker.  Because greedy matching is
deterministic given the vocabulary, the whole encode memoizes on the
DISTINCT-WORD histogram — the same at-scale trick BPE training uses: one
corpus pass builds (word, count); the per-word scan then runs over ~1e7
histogram rows where the corpus is 1e12.

The vocabulary here is DERIVED from the corpus, deterministically and
scale-invariantly, instead of shipped as a side file: a piece (any word
prefix for initials, any interior substring for continuations, lengths
capped at ``WP_MAX_LEN``) qualifies when its occurrence count weighted
by word frequency is at least ``1/WP_DENOM`` of the total corpus word
count; single characters are always in (the totality guarantee — greedy
can never strand mid-word, so the [UNK] path is structurally
unreachable on the training corpus itself).  A RELATIVE threshold keeps
the vocab identical across scale factors: at sf1 every count and the
total both grow ~10x, so membership is unchanged — the property the
driver's sf0.01 hash check and the sf1 sweep both rely on.

Plan shape (the 100 TB story): one explode + one word-histogram shuffle
(map-side combinable), piece candidates explode off the HISTOGRAM (31
rows here; bounded by vocab-size x WP_MAX_LEN generally), the greedy
scan runs once per DISTINCT word in an Arrow-batched pandas_udf (the
tokenizer_-family Python boundary, same as BPE encode), and the word ->
piece-count map broadcast-joins back onto the corpus — no shuffle ever
carries more than the histogram.  The DuckDB oracle replays the greedy
scan as a recursive CTE: state (word, pos, n); each step joins the
vocab at the cursor, takes MAX(piece length), advances — the same
unroll-by-recursion treatment as the unigram Viterbi oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions import text as T
from flinkexp_spark.registry import register

WP_MAX_LEN = 3  # longest piece, characters
WP_DENOM = 100  # piece keeps its slot at >= 1/100 of corpus word count

_WP_ORACLE = f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, {T.tokens_sql('text')} AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS word FROM t),
    h AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY word),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    hl AS (
        SELECT word, c, unnest(range(1, {WP_MAX_LEN} + 1)) AS l FROM h),
    pref AS (
        SELECT substr(word, 1, l) AS piece, 0 AS is_cont,
               CAST(SUM(c) AS BIGINT) AS wc
        FROM hl WHERE l <= length(word)
        GROUP BY 1, 2),
    hj AS (
        SELECT word, c, unnest(range(2, length(word) + 1)) AS j FROM h),
    hjl AS (
        SELECT word, c, j, unnest(range(1, {WP_MAX_LEN} + 1)) AS l FROM hj),
    cont AS (
        SELECT substr(word, j, l) AS piece, 1 AS is_cont,
               CAST(SUM(c) AS BIGINT) AS wc
        FROM hjl WHERE j + l - 1 <= length(word)
        GROUP BY 1, 2),
    vocab AS MATERIALIZED (
        SELECT v.piece, v.is_cont
        FROM (SELECT * FROM pref UNION ALL SELECT * FROM cont) v, tot
        WHERE length(v.piece) = 1 OR v.wc * {WP_DENOM} >= tot.n),
    enc AS (
        SELECT word, 1 AS pos, 0 AS n FROM h
        UNION ALL
        SELECT e.word,
               e.pos + MAX(length(v.piece)),
               e.n + 1
        FROM enc e
        JOIN vocab v
          ON v.is_cont = CASE WHEN e.pos > 1 THEN 1 ELSE 0 END
         AND substr(e.word, e.pos, length(v.piece)) = v.piece
        WHERE e.pos <= length(e.word)
        GROUP BY e.word, e.pos, e.n),
    res AS (
        SELECT word, n FROM enc WHERE pos = length(word) + 1)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(r.n) AS BIGINT) AS n_pieces,
           CAST(MAX(r.n) AS BIGINT) AS max_word_pieces
    FROM w JOIN res r USING (word)
    GROUP BY w.doc_id
    ORDER BY w.doc_id
"""


@register("tokenizer_wordpiece_encode", oracle=_WP_ORACLE, tags=("X4", "F6", "U1"))
def q_tokenizer_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WordPiece piece counts under a corpus-derived vocab:
    (doc_id, word count, total subword pieces, worst single-word piece
    count) — the sequence-length planning numbers a training pipeline
    derives before packing (pack_sequences) or budgeting context.

    See the module docstring for the vocabulary rule and scale plan.
    The pandas_udf runs the greedy scan per DISTINCT word only; the
    vocab rides into the closure as two frozensets (the BPE-merge-table
    treatment).
    """
    docs = datasets.load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("word")
    )
    h = words.groupBy("word").agg(F.count("*").cast("long").alias("c"))

    # -- vocabulary: piece candidates explode off the histogram ---------
    ln = F.length("word")
    pref = (
        h.select(
            "word",
            "c",
            F.explode(F.sequence(F.lit(1), F.least(ln, F.lit(WP_MAX_LEN)))).alias(
                "l"
            ),
        )
        .select(F.expr("substring(word, 1, l)").alias("piece"), "c")
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("wc"))
        .withColumn("is_cont", F.lit(0))
    )
    cont = (
        h.filter(ln >= 2)
        .select(
            "word",
            "c",
            F.explode(F.sequence(F.lit(2), ln)).alias("j"),
        )
        .select(
            "word",
            "c",
            "j",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.length("word") - F.col("j") + 1, F.lit(WP_MAX_LEN)),
                )
            ).alias("l"),
        )
        .select(F.expr("substring(word, j, l)").alias("piece"), "c")
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("wc"))
        .withColumn("is_cont", F.lit(1))
    )
    total = h.agg(F.sum("c").cast("long").alias("n")).collect()[0]["n"]
    vocab_rows = (
        pref.unionByName(cont)
        .filter((F.length("piece") == 1) | (F.col("wc") * WP_DENOM >= total))
        .select("piece", "is_cont")
        .collect()
    )
    init_pieces = frozenset(r["piece"] for r in vocab_rows if r["is_cont"] == 0)
    cont_pieces = frozenset(r["piece"] for r in vocab_rows if r["is_cont"] == 1)
    max_len = WP_MAX_LEN

    @F.pandas_udf("int")
    def n_pieces(col):
        def enc(w: str) -> int:
            pos, n, lw = 0, 0, len(w)
            while pos < lw:
                pieces = init_pieces if pos == 0 else cont_pieces
                for ll in range(min(max_len, lw - pos), 0, -1):
                    if w[pos : pos + ll] in pieces:
                        pos += ll
                        n += 1
                        break
                else:  # unreachable: single chars are always in the vocab
                    pos += 1
                    n += 1
            return n

        return col.map(enc)

    encoded = h.select("word", n_pieces(F.col("word")).alias("n"))
    return (
        words.join(F.broadcast(encoded), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("n_pieces"),
            F.max("n").cast("long").alias("max_word_pieces"),
        )
        .orderBy("doc_id")
    )
