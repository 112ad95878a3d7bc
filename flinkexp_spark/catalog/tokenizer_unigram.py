"""Unigram-LM tokenizer (round 11) — the OTHER family of subword
tokenizers an LLM data pipeline trains, next to BPE (catalog/tokenizer.py).

Kudo 2018 ("Subword Regularization", ACL — the SentencePiece unigram
model, public method): score every candidate piece with a unigram
log-probability and segment each word with the VITERBI best path over its
segmentation lattice.  Training re-estimates piece probabilities from the
segmentations.  This implementation is the deterministic HARD-EM variant
(Viterbi E-step, count-renormalize M-step) with a FIXED iteration count —
the same unroll-into-CTEs trick BPE uses, so the DuckDB oracle replays
the ENTIRE training loop including the lattice DP:

1. seed vocabulary: every substring of length 1..UNI_MAX_PIECE of the
   distinct-word histogram, occurrence-weighted; ALL single characters
   (coverage guarantee — any word stays segmentable) plus the top
   UNI_VOCAB_MULTI multi-char pieces (freq DESC, piece ASC — total order);
2. scores: integer micro-nats, floor(ln(freq / total) * 1e6) — Viterbi
   then compares exact BIGINT path sums, so path selection is fully
   deterministic cross-engine (the only float is the one ln per piece,
   quantized at 1e-6 like the cosine roundings in llm_similarity.py);
3. hard-EM x UNI_EM_ITERS: Viterbi-segment the DISTINCT-WORD histogram
   (ties: the LONGER last piece wins at every DP position — mirrored in
   both engines), count pieces weighted by word frequency, add-one
   smooth over the fixed vocabulary, re-score;
4. encode: Viterbi with the final scores, per-document stats.

The lattice DP is sequential per word, but words are the distribution
unit: at 100 TB the distinct-word histogram is sublinear in the corpus
(the same argument as BPE training), the vocabulary is a driver-side
constant (UNI_VOCAB_MULTI + alphabet rows — the K-row collect pattern of
llm_similarity centroids), and the per-word Viterbi runs inside one
Arrow-batched pandas UDF over the histogram: no shuffle beyond the
histogram groupBy, no per-occurrence Python.

The DuckDB oracle expresses the same DP as a RECURSIVE CTE that advances
one character per step carrying a rolling (best, path) window of the
last UNI_MAX_PIECE positions — forward DP with inline path
reconstruction, the standard bounded-lag trick for recursive SQL.

Reference parity: the reference repo's tokenizer surface is the Flink
dependency envelope only (SURVEY.md §0); this is public-method work
implemented Spark-first.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions.text import tokens_sql
from flinkexp_spark.registry import register
from flinkexp_spark.session import memo

from .tokenizer import word_histogram

UNI_MAX_PIECE = 4  # candidate substrings up to this many chars
UNI_VOCAB_MULTI = 300  # multi-char vocabulary budget (singles always kept)
UNI_EM_ITERS = 2  # fixed hard-EM rounds (unrolls into the oracle)
UNI_SCORE_SCALE = 1_000_000  # integer micro-nats
UNI_TOP_OUT = 50  # train query returns the top pieces by final count
_SEP = 31  # chr(31), the path separator inside the recursive DP
_NEG = -(10**15)  # greatest() sentinel, far below any real path sum


# ---------------------------------------------------------------------------
# oracle builder — the full training loop as chained (recursive) CTEs
# ---------------------------------------------------------------------------

def _dp_cte(tag: str, score_cte: str) -> str:
    """One Viterbi pass as a recursive CTE pair: ``dp_{tag}`` advances one
    character per step over every histogram word, carrying (best, path)
    for the last UNI_MAX_PIECE positions; ``seg_{tag}`` keeps the
    finished rows and splits the path.  Tie-break: the candidate with the
    LARGER piece length wins (checked k=4..1), matching the Spark UDF."""
    neg = _NEG
    # candidate k consumes piece substr(word, pos+2-k, k), needs pos+1 >= k
    joins = "\n".join(
        f"            LEFT JOIN {score_cte} v{k} ON d.pos >= {k - 1} AND "
        f"v{k}.piece = substr(d.word, d.pos + {2 - k}, {k})"
        for k in range(1, UNI_MAX_PIECE + 1)
    )
    cands = ",\n".join(
        f"                   CASE WHEN d.pos >= {k - 1} THEN "
        f"d.b{k - 1} + v{k}.score END AS c{k},\n"
        f"                   substr(d.word, d.pos + {2 - k}, {k}) AS pc{k}"
        for k in range(1, UNI_MAX_PIECE + 1)
    )
    m = ", ".join(
        f"coalesce(c{k}, {neg})" for k in range(UNI_MAX_PIECE, 0, -1)
    )
    ck = " ".join(
        f"WHEN c{k} IS NOT NULL AND c{k} = m THEN {k}"
        for k in range(UNI_MAX_PIECE, 1, -1)
    )
    pick_path = " ".join(
        f"WHEN ck = {k} THEN p{k - 1}" for k in range(UNI_MAX_PIECE, 1, -1)
    )
    pick_piece = " ".join(
        f"WHEN ck = {k} THEN pc{k}" for k in range(UNI_MAX_PIECE, 1, -1)
    )
    return f"""dp_{tag} AS (
            SELECT word, n, len, 0 AS pos,
                   CAST(0 AS BIGINT) AS b0, CAST('' AS VARCHAR) AS p0,
                   CAST(NULL AS BIGINT) AS b1, CAST(NULL AS VARCHAR) AS p1,
                   CAST(NULL AS BIGINT) AS b2, CAST(NULL AS VARCHAR) AS p2,
                   CAST(NULL AS BIGINT) AS b3, CAST(NULL AS VARCHAR) AS p3
            FROM hw
            UNION ALL
            SELECT word, n, len, pos + 1,
                   m AS b0,
                   (CASE {pick_path} ELSE p0 END) || chr({_SEP}) ||
                   (CASE {pick_piece} ELSE pc1 END) AS p0,
                   b0 AS b1, p0 AS p1, b1 AS b2, p1 AS p2, b2 AS b3,
                   p2 AS p3
            FROM (
              SELECT *, CASE {ck} ELSE 1 END AS ck FROM (
                SELECT *, greatest({m}) AS m FROM (
                  SELECT d.word, d.n, d.len, d.pos, d.b0, d.p0, d.b1, d.p1,
                         d.b2, d.p2, d.b3, d.p3,
{cands}
                  FROM dp_{tag} d
{joins}
                  WHERE d.pos < d.len)))),
        seg_{tag} AS MATERIALIZED (
            SELECT word, n,
                   list_filter(string_split(p0, chr({_SEP})), x -> x <> '')
                     AS pieces
            FROM dp_{tag} WHERE pos = len)"""


def _count_score_ctes(it: int, prev_seg: str) -> str:
    """M-step CTEs: raw counts from a segmentation pass, add-one smoothing
    over the FIXED vocabulary, integer micro-nat re-scoring."""
    return f"""cnt_{it} AS MATERIALIZED (
            SELECT v.piece,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS craw,
                   CAST(coalesce(c.cnt, 0) + 1 AS BIGINT) AS cs
            FROM voc0 v LEFT JOIN (
                SELECT piece, SUM(n) AS cnt FROM (
                    SELECT n, unnest(pieces) AS piece FROM {prev_seg})
                GROUP BY piece) c ON v.piece = c.piece),
        sc_{it} AS MATERIALIZED (
            SELECT piece, CAST(floor(ln(cs * 1.0 /
                       (SELECT SUM(cs) FROM cnt_{it}))
                       * {UNI_SCORE_SCALE}) AS BIGINT) AS score
            FROM cnt_{it})"""


def _base_ctes() -> str:
    """Histogram, candidate substrings, seed vocabulary, initial scores."""
    return f"""hist AS MATERIALIZED (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT unnest({tokens_sql('text')}) AS word
                  FROM documents)
            GROUP BY word),
        hw AS MATERIALIZED (SELECT word, n, length(word) AS len FROM hist),
        cand AS MATERIALIZED (
            SELECT piece, CAST(SUM(n) AS BIGINT) AS freq FROM (
                SELECT n, substr(word, i, L) AS piece FROM (
                    SELECT word, n, len, L,
                           unnest(range(1, len - L + 2)) AS i
                    FROM (SELECT word, n, len,
                                 unnest(range(1, {UNI_MAX_PIECE + 1})) AS L
                          FROM hw)
                    WHERE len >= L))
            GROUP BY piece),
        voc0 AS MATERIALIZED (
            SELECT piece, freq FROM cand WHERE length(piece) = 1
            UNION ALL
            SELECT piece, freq FROM (
                SELECT piece, freq,
                       row_number() OVER (ORDER BY freq DESC, piece) AS r
                FROM cand WHERE length(piece) > 1)
            WHERE r <= {UNI_VOCAB_MULTI}),
        sc_0 AS MATERIALIZED (
            SELECT piece, CAST(floor(ln(freq * 1.0 /
                       (SELECT SUM(freq) FROM voc0))
                       * {UNI_SCORE_SCALE}) AS BIGINT) AS score
            FROM voc0)"""


def _train_chain() -> str:
    """All CTEs through the final M-step (sc_{UNI_EM_ITERS})."""
    parts = [_base_ctes()]
    for it in range(1, UNI_EM_ITERS + 1):
        parts.append(_dp_cte(str(it), f"sc_{it - 1}"))
        parts.append(_count_score_ctes(it, f"seg_{it}"))
    return ",\n        ".join(parts)


def _train_oracle_sql() -> str:
    last = UNI_EM_ITERS
    return f"""
        WITH RECURSIVE {_train_chain()}
        SELECT rank, piece, n_uses, score FROM (
            SELECT row_number() OVER (ORDER BY c.craw DESC, c.piece)
                       AS rank,
                   c.piece, c.craw AS n_uses, s.score
            FROM cnt_{last} c JOIN sc_{last} s ON c.piece = s.piece
            WHERE c.craw > 0)
        WHERE rank <= {UNI_TOP_OUT}
    """


def _encode_oracle_sql() -> str:
    """The full train chain plus one more Viterbi pass with the final
    scores, joined back onto per-document word occurrences."""
    final = UNI_EM_ITERS + 1
    return f"""
        WITH RECURSIVE {_train_chain()},
        {_dp_cte(str(final), f"sc_{UNI_EM_ITERS}")},
        occ AS (
            SELECT doc_id, unnest({tokens_sql('text')}) AS word
            FROM documents),
        wp AS (SELECT word, len(pieces) AS n_pieces,
                      length(word) AS n_chars
               FROM seg_{final})
        SELECT doc_id,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(n_pieces) AS BIGINT) AS pieces,
               CAST(FLOOR(SUM(n_chars) * 1000.0 / SUM(n_pieces)) AS BIGINT)
                 AS compression_x1000
        FROM occ JOIN wp USING (word)
        GROUP BY doc_id ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

_SUBSTR_EXPR = (
    f"flatten(transform(sequence(1, {UNI_MAX_PIECE}), L -> "
    "CASE WHEN length(word) >= L THEN "
    "transform(sequence(1, length(word) - L + 1), i -> substring(word, i, L)) "
    "ELSE CAST(array() AS array<string>) END))"
)


def _viterbi_udf(scores: dict[str, int], max_piece: int):
    """Arrow-batched Viterbi segmenter (word -> piece array) carrying the
    integer micro-nat score table as a closure literal.  The DP and its
    tie-break live in functions/unigram.py — the same
    rule the oracle's recursive CTE applies (checked k=4..1), so path
    selection is bit-identical; tests pin it against brute force."""
    from flinkexp_spark.functions.unigram import viterbi_segment

    table = dict(scores)
    mp = max_piece

    @F.pandas_udf("array<string>")
    def segment(words):
        return words.map(lambda w: viterbi_segment(w, table, mp))

    return segment


def _score(counts: dict[str, int], total: int) -> dict[str, int]:
    return {
        p: math.floor(math.log(c / total) * UNI_SCORE_SCALE)
        for p, c in counts.items()
    }


def trained_unigram(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, int, int]]:
    """[(piece, final_raw_count, final_score)] after UNI_EM_ITERS hard-EM
    rounds, memoized per corpus per SparkContext (training is
    deterministic and both catalog queries otherwise re-run the EM
    rounds).  Driver-side state is vocabulary-bounded (UNI_VOCAB_MULTI +
    alphabet rows); all corpus-sized work — histogram, candidate explode,
    per-word Viterbi — stays distributed."""
    return memo(
        spark, ("unigram_vocab", sf_dir), lambda: _train_unigram(spark, sf_dir)
    )


def _train_unigram(spark: SparkSession, sf_dir: str) -> list[tuple[str, int, int]]:
    docs = datasets.load(spark, sf_dir, "documents")
    hist = word_histogram(docs).localCheckpoint()  # reused by every pass

    # seed vocabulary: occurrence-weighted substring counts, singles always
    cand = (
        hist.select(F.explode(F.expr(_SUBSTR_EXPR)).alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").alias("freq"))
    )
    singles = cand.filter(F.length("piece") == 1)
    w = Window.orderBy(F.desc("freq"), F.asc("piece"))
    multi = (
        cand.filter(F.length("piece") > 1)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= UNI_VOCAB_MULTI)
        .drop("r")
    )
    vocab = {
        r["piece"]: int(r["freq"])
        for r in singles.unionByName(multi).collect()
    }
    scores = _score(vocab, sum(vocab.values()))

    raw: dict[str, int] = {}
    for _ in range(UNI_EM_ITERS):
        seg = _viterbi_udf(scores, UNI_MAX_PIECE)
        counts = (
            hist.select(F.explode(seg("word")).alias("piece"), "n")
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
            .collect()
        )
        used = {r["piece"]: int(r["cnt"]) for r in counts}
        raw = {p: used.get(p, 0) for p in vocab}
        smoothed = {p: c + 1 for p, c in raw.items()}
        scores = _score(smoothed, sum(smoothed.values()))

    return [(p, raw[p], scores[p]) for p in sorted(vocab)]


@register(
    "tokenizer_unigram_train",
    oracle=_train_oracle_sql(),
    tags=("X4", "U1", "A1"),
)
def q_tokenizer_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram-LM tokenizer (hard-EM, UNI_EM_ITERS rounds) on the
    documents corpus and return the top UNI_TOP_OUT pieces by final
    segmentation count (rank, piece, n_uses, score).

    Iterative like BPE training, with a fixed round count that unrolls
    into the DuckDB oracle — including the per-word Viterbi lattice DP,
    replayed there as a recursive CTE with a rolling bounded-lag state
    (module doc).  Integer micro-nat scores make every DP comparison
    exact BIGINT arithmetic in both engines."""
    rows = [
        (p, c, s)
        for p, c, s in trained_unigram(spark, sf_dir)
        if c > 0
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    out = [
        (i + 1, p, c, s)
        for i, (p, c, s) in enumerate(rows[:UNI_TOP_OUT])
    ]
    return datasets.local_df(
        spark, out, "rank long, piece string, n_uses long, score long"
    )


@register(
    "tokenizer_unigram_encode",
    oracle=_encode_oracle_sql(),
    tags=("X4", "U1", "A1"),
)
def q_tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the unigram model just trained on it:
    per-document (chars, pieces, compression x1000).

    Same memo-table shape as BPE encode: Viterbi runs once per DISTINCT
    word (Arrow-batched, score table as closure literal) and joins back
    to per-document occurrences — at 100 TB the vocabulary is sublinear
    in the corpus and AQE broadcasts the encoded histogram."""
    docs = datasets.load(spark, sf_dir, "documents")
    scores = {p: s for p, _, s in trained_unigram(spark, sf_dir)}
    seg = _viterbi_udf(scores, UNI_MAX_PIECE)
    per_word = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("word"),
    )
    wp = (
        per_word.select("word")
        .distinct()
        .select(
            "word",
            F.length("word").alias("n_chars"),
            F.size(seg("word")).alias("n_pieces"),
        )
    )
    return (
        per_word.join(wp, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_chars").cast("long").alias("chars"),
            F.sum("n_pieces").cast("long").alias("pieces"),
        )
        .select(
            "doc_id",
            "chars",
            "pieces",
            F.floor(F.col("chars") * 1000 / F.col("pieces"))
            .cast("long")
            .alias("compression_x1000"),
        )
        .orderBy("doc_id")
    )


def _perplexity_oracle_sql() -> str:
    """Train chain + final Viterbi + per-doc integer perplexity algebra.

    The keep/flag split is the corpus-MEAN split done entirely in integer
    arithmetic: doc i is kept iff mean_cost_i * n_docs >= sum(mean_cost)
    — algebraically identical to mean_cost_i >= avg(mean_cost) but exact
    cross-engine (no float average ever materializes)."""
    final = UNI_EM_ITERS + 1
    return f"""
        WITH RECURSIVE {_train_chain()},
        {_dp_cte(str(final), f"sc_{UNI_EM_ITERS}")},
        wcost AS MATERIALIZED (
            SELECT word,
                   CAST(COUNT(*) AS BIGINT) AS n_pieces,
                   CAST(SUM(score) AS BIGINT) AS cost
            FROM (SELECT word, unnest(pieces) AS piece FROM seg_{final})
            JOIN sc_{UNI_EM_ITERS} USING (piece)
            GROUP BY word),
        occ AS (
            SELECT doc_id, unnest({tokens_sql('text')}) AS word
            FROM documents),
        perdoc AS MATERIALIZED (
            SELECT doc_id,
                   CAST(SUM(n_pieces) AS BIGINT) AS pieces,
                   CAST(SUM(cost) AS BIGINT) AS total_cost,
                   CAST(floor(SUM(cost) * 1.0 / SUM(n_pieces)) AS BIGINT)
                     AS mean_cost
            FROM occ JOIN wcost USING (word)
            GROUP BY doc_id),
        corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(mean_cost) AS BIGINT) AS sum_means
            FROM perdoc)
        SELECT doc_id, pieces, total_cost, mean_cost,
               mean_cost * n_docs >= sum_means AS keep
        FROM perdoc CROSS JOIN corpus
        ORDER BY doc_id
    """


@register(
    "text_perplexity_filter",
    oracle=_perplexity_oracle_sql(),
    tags=("X4", "A2", "U1"),
)
def q_text_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality filter (Wenzek et al. 2020,
    public method): score every document by the mean per-token log-prob
    of its Viterbi segmentation under the corpus-trained unigram LM, and
    keep the documents at or above the corpus mean (low perplexity =
    in-distribution text).

    Everything after the one quantized ln per vocabulary piece is EXACT
    integer math, including the keep split: doc i is kept iff
    mean_cost_i * n_docs >= sum(mean_cost) — the corpus-mean comparison
    with no float average, so both engines agree bit-for-bit.  Scale
    shape: per-word costs come from the same distinct-word memo table as
    unigram encode, the corpus statistic is ONE scalar aggregate row
    cross-joined back (broadcast — no global window, no single-partition
    NTILE; a percentile-bucket variant would use approximate cutpoints
    at 100 TB), all pinned linear."""
    docs = datasets.load(spark, sf_dir, "documents")
    scores = {p: s for p, _, s in trained_unigram(spark, sf_dir)}
    from flinkexp_spark.functions.unigram import viterbi_segment

    table = dict(scores)
    mp = UNI_MAX_PIECE

    @F.pandas_udf("n_pieces long, cost long")
    def seg_cost(words):
        import pandas as pd

        def one(w: str):
            pieces = viterbi_segment(w, table, mp)
            return len(pieces), sum(table[p] for p in pieces)

        rows = [one(w) for w in words]
        return pd.DataFrame(rows, columns=["n_pieces", "cost"])

    per_word = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("word"),
    )
    wcost = (
        per_word.select("word")
        .distinct()
        .withColumn("sc", seg_cost("word"))
        .select("word", F.col("sc.n_pieces"), F.col("sc.cost"))
    )
    perdoc = (
        per_word.join(wcost, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").cast("long").alias("pieces"),
            F.sum("cost").cast("long").alias("total_cost"),
        )
        .withColumn(
            "mean_cost",
            F.floor(F.col("total_cost") * 1.0 / F.col("pieces")).cast("long"),
        )
    )
    corpus = perdoc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("mean_cost").cast("long").alias("sum_means"),
    )
    return (
        perdoc.crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "pieces",
            "total_cost",
            "mean_cost",
            (F.col("mean_cost") * F.col("n_docs") >= F.col("sum_means")).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )
