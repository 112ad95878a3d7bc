"""Distributed BPE tokenizer training (round 4) — the canonical
"train the tokenizer on the corpus" step of an LLM data pipeline.

Classic byte-pair encoding (Sennrich et al. 2016, ACL — public method):
train on the WORD HISTOGRAM, not the raw corpus.  One corpus pass builds
(word, count); every merge round then runs over the histogram — at 100 TB
the histogram is ~1e7 rows where the corpus is 1e12, so the iterative part
costs megabytes per round.  Each round:

1. adjacent-pair counts, weighted by word frequency (distributed explode +
   one aggregation — map-side combinable);
2. argmax pair (count DESC, pair ASC tiebreak — deterministic), a
   single-row driver collect (the same tiny-aggregate pattern as
   operators/components.py convergence checks);
3. apply the merge to every word's token array with a left-to-right fold
   (``F.aggregate``: merging (a,b) appends the fused token, and a fused
   token never re-matches its own right side in the same pass — exactly
   reference BPE's scan-from-i+2).

The merge loop is genuinely iterative (each round's argmax depends on the
last round's rewrite), but the round count is a FIXED constant
(``BPE_MERGES``), so the loop UNROLLS into a chain of plain CTEs — which
is exactly how ``_bpe_oracle_sql`` builds the DuckDB oracle: per round, a
pair-count CTE, an argmax CTE (``ORDER BY support DESC, a, b LIMIT 1``),
and a greedy left-to-right non-overlapping rewrite expressed with window
functions (candidate positions where ``(tok, next) = (a, b)``; within each
run of CONSECUTIVE candidates — which only arise when ``a = b`` — keep the
even offsets, the classic greedy-match resolution).  Both queries are
therefore fully hash-checked against DuckDB like the rest of the catalog;
tests/test_tokenizer.py additionally pins EXACT equality of the learned
merge table against an independent pure-Python reference implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkexp_spark import datasets
from flinkexp_spark.functions import text as T
from flinkexp_spark.registry import register
from flinkexp_spark.session import memo

BPE_MERGES = 8

# Char-split shared by train and encode — MUST stay identical or the pair
# desyncs.  The empty-string guard matters: sequence(1, 0) is the
# DESCENDING array [1, 0], so an unguarded split turns '' into ['',''],
# manufacturing a phantom ('','') pair.
_CHARS_EXPR = (
    "CASE WHEN length(word) >= 1 THEN "
    "transform(sequence(1, length(word)), i -> substring(word, i, 1)) "
    "ELSE CAST(array() AS array<string>) END"
)


def _bpe_oracle_sql(n_merges: int = BPE_MERGES) -> tuple[str, str]:
    """(train_sql, encode_sql) DuckDB oracles for the BPE pair.

    The fixed ``n_merges`` round count lets the training loop unroll into
    a chain of CTEs — one (pair-count, argmax, rewrite) triple per round.
    The rewrite mirrors the Spark-side fold exactly: greedy left-to-right
    non-overlapping merging.  Candidate positions are where
    ``(tok, lead(tok)) = (a, b)``; two candidates can only be adjacent
    when ``a = b``, and within each run of consecutive candidates the
    greedy scan keeps the even offsets from the run start.  A merged
    position emits ``a || b``; the position immediately after a kept
    candidate is dropped.

    Training rewrites the DISTINCT-WORD histogram, so the encode oracle
    just joins the final token arrays back onto per-document word
    occurrences — per-word BPE is deterministic, making the histogram the
    natural memo table (same reason training itself runs on it).
    """
    chars = (
        "CASE WHEN length(word) >= 1 THEN "
        "list_transform(range(1, length(word) + 1), i -> substring(word, i, 1)) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )
    parts = [
        f"""w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents)
  GROUP BY word
)""",
        f"t0 AS MATERIALIZED (SELECT word, n, {chars} AS toks FROM w0)",
    ]
    for k in range(n_merges):
        parts.append(
            f"""c{k} AS MATERIALIZED (
  SELECT word, n, tok, pos,
         lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM (SELECT word, n, unnest(toks) AS tok,
               unnest(range(1, len(toks) + 1)) AS pos
        FROM t{k})
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT tok AS a, nxt AS b, tok || nxt AS merged,
         CAST(SUM(n) AS BIGINT) AS support
  FROM c{k} WHERE nxt IS NOT NULL
  GROUP BY 1, 2, 3 ORDER BY support DESC, a ASC, b ASC LIMIT 1
)"""
        )
        parts.append(
            f"""cand{k} AS MATERIALIZED (
  SELECT c.word, c.n, c.tok, c.pos, c.nxt,
         COALESCE(c.tok = m.a AND c.nxt = m.b, FALSE) AS is_cand
  FROM c{k} c LEFT JOIN m{k} m ON TRUE
)"""
        )
        parts.append(
            f"""keep{k} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 AS off
    FROM (SELECT word, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                   AS grp
          FROM cand{k} WHERE is_cand)
  ) WHERE off = 0
)"""
        )
        parts.append(
            f"""t{k + 1} AS MATERIALIZED (
  SELECT word, n, list(tok ORDER BY pos) AS toks FROM (
    SELECT c.word, c.n, c.pos,
           CASE WHEN k1.pos IS NOT NULL THEN c.tok || c.nxt
                ELSE c.tok END AS tok
    FROM cand{k} c
    LEFT JOIN keep{k} k1 ON k1.word = c.word AND k1.pos = c.pos
    LEFT JOIN keep{k} k2 ON k2.word = c.word AND k2.pos = c.pos - 1
    WHERE k2.pos IS NULL
  ) GROUP BY word, n
)"""
        )
    chain = ",\n".join(parts)
    unions = "\nUNION ALL ".join(
        f'SELECT CAST({k} AS BIGINT) AS "rank", a AS "left", b AS "right", '
        f"merged, support FROM m{k}"
        for k in range(n_merges)
    )
    train = f'WITH {chain}\nSELECT * FROM ({unions}) ORDER BY "rank"'
    encode = f"""WITH {chain},
pw AS (SELECT doc_id, unnest({T.tokens_sql('text')}) AS word FROM documents),
enc AS (
  SELECT pw.doc_id, length(pw.word) AS n_chars,
         len(t{n_merges}.toks) AS n_subwords
  FROM pw JOIN t{n_merges} ON pw.word = t{n_merges}.word
)
SELECT doc_id, CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(SUM(n_subwords) AS BIGINT) AS subwords,
       CAST(FLOOR(SUM(n_chars) * 1000.0 / SUM(n_subwords)) AS BIGINT)
         AS compression_x1000
FROM enc GROUP BY doc_id ORDER BY doc_id"""
    return train, encode


_TRAIN_ORACLE, _ENCODE_ORACLE = _bpe_oracle_sql()


def word_histogram(docs: DataFrame) -> DataFrame:
    """(word, n) corpus histogram — the single corpus pass BPE trains on."""
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def trained_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """Merges for the documents corpus at ``sf_dir``, memoized per
    (corpus, n_merges) per SparkContext — training is deterministic, and
    both catalog queries (and repeated bench runs) otherwise re-run the
    same n_merges driver-paced rounds."""
    return memo(
        spark,
        ("bpe_merges", sf_dir, n_merges),
        lambda: train_bpe_merges(
            spark, word_histogram(datasets.load(spark, sf_dir, "documents")),
            n_merges,
        ),
    )


def _select_exact_batch(
    rows, floor: int, limit: int
) -> list[tuple[str, str, int]]:
    """Greedily pick a prefix of the sorted pair-count rows that sequential
    BPE is PROVABLY going to merge in this exact order — the batching rule
    behind the k-fold driver-cadence cut (VERDICT r6 #5).

    Sequential BPE re-counts pairs after every merge, but a merge (a, b)
    can only change the support of pairs touching ``a``, ``b``, or the
    fused token ``ab``: disjoint pairs keep their counts exactly.  New or
    changed pairs all descend from an old pair sharing one of those
    tokens, so their support is bounded by the largest such "sharing"
    pair's OLD support.  Scanning the old ranking top-down therefore
    accepts candidates while they are (i) token-disjoint from everything
    already accepted (merged strings included) and (ii) STRICTLY above
    ``s_share`` — the max old support of any sharing pair (the first one
    hit in sort order, thanks to the sort) or, for pairs outside the
    collected top-k, the last collected row's support (``floor``).  Strict
    ``>`` matters: an equal-support descendant could win the (a, b)
    lexicographic tie-break against a later acceptance.  Everything from
    the first rejection on is dropped — sequential BPE's next pick could
    be that very pair with a changed count.

    SELF-pairs (a == b) end the batch: merging (b, b) over a run "bbb"
    creates (bb, b) pairs whose old-ranking ancestor is (b, b) ITSELF —
    an accepted pair, which no non-accepted sharer's support bounds (fuzz
    counter-example: {"bbb": 41} makes (bb, b) outrank every survivor).
    Every other new pair's bridge shares a token with exactly one
    accepted merge without being one, so ``s_share`` bounds it.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    tentative: list[tuple[str, str, int]] = []
    s_share = floor
    for r in rows:
        a, b, s = r["a"], r["b"], int(r["support"])
        if not accepted:
            accepted.append((a, b, s))
            used |= {a, b, a + b}
            if a == b:
                return accepted[:limit]
            continue
        if {a, b, a + b} & used:
            s_share = max(s_share, s)  # sort order: first sharer is max
            break
        tentative.append((a, b, s))
        used |= {a, b, a + b}
    for t in tentative:
        if t[2] <= s_share:
            break
        accepted.append(t)
        if t[0] == t[1]:
            break
    return accepted[:limit]


def train_bpe_merges(
    spark: SparkSession,
    words: DataFrame,
    n_merges: int = BPE_MERGES,
    batch_k: int = 16,
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, n) histogram.

    Returns [(rank, left, right, merged, support)]; ``support`` is the
    weighted pair count that won the round.  Each Spark round collects the
    top ``batch_k + 1`` pairs and accepts as many merges as
    :func:`_select_exact_batch` can prove sequential BPE would make in
    that order — output is bit-identical to one-merge-per-round training
    (the unrolled DuckDB oracle and the pure-Python reference in
    tests/test_tokenizer.py both pin this) while large vocabularies spend
    ~k-fold fewer Spark jobs once the pair distribution's tail separates.
    The round count actually used is exposed as
    ``train_bpe_merges.last_rounds`` for the job-cadence trip-wire test.
    """
    hist = words.select(
        F.expr(_CHARS_EXPR).alias("toks"),
        F.col("n"),
    ).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        pairs = (
            hist.filter(F.size("toks") >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("toks", 1, F.size("toks") - 1).alias("a"),
                        F.slice("toks", 2, F.size("toks") - 1).alias("b"),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("support"))
        )
        top = (
            pairs.orderBy(F.desc("support"), F.asc("a"), F.asc("b"))
            .limit(batch_k + 1)
            .collect()
        )
        rounds += 1
        if not top:
            break
        # rows beyond the collected window bound every unseen pair's support
        floor = int(top[-1]["support"]) if len(top) == batch_k + 1 else 0
        batch = _select_exact_batch(
            top[:batch_k], floor, n_merges - len(merges)
        )
        # left-to-right merge folds chained in rank order within ONE pass;
        # a freshly fused token (acc's last element == merged) can only
        # re-match pattern-left `a` if merged == a, which the scan rule
        # forbids within one pass
        col = F.col("toks")
        for a, b, support in batch:
            merges.append((len(merges), a, b, a + b, support))
            col = F.aggregate(
                col,
                F.array().cast("array<string>"),
                _bpe_merge_fold(a, b, a + b),
            )
        prev = hist
        hist = hist.select(col.alias("toks"), "n").localCheckpoint()
        prev.unpersist()  # don't pin every histogram copy in storage
    train_bpe_merges.last_rounds = rounds
    return merges


@register("tokenizer_bpe_train", oracle=_TRAIN_ORACLE, tags=("X4", "U2", "A1"))
def q_tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE_MERGES byte-pair merges on the documents corpus and return
    the learned merge table (rank, left, right, merged, support).

    Iterative (each argmax depends on the previous rewrite), but the fixed
    round count unrolls into the chained-CTE DuckDB oracle built by
    ``_bpe_oracle_sql`` — hash-checked like every other query; exactness
    vs a pure-Python reference is ALSO pinned in tests/test_tokenizer.py.
    """
    merges = trained_merges(spark, sf_dir)
    return datasets.local_df(
        spark,
        merges,
        "rank long, left string, right string, merged string, support long",
    )


def _bpe_merge_fold(a: str, b: str, merged: str):
    """Factory for one merge's left-to-right fold lambda.  A factory, NOT
    default-arg capture: PySpark inspects the lambda's arity and rejects
    extra (defaulted) parameters."""

    def fold(acc, x):
        return F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return fold


def apply_bpe_merges(
    toks: F.Column | str, merges: list[tuple[int, str, str, str, int]]
):
    """Fold each learned merge over a token array, in rank order — the
    ENCODE side of BPE.  Merges are literals baked into the plan, so the
    whole encode is one chained expression per row (no join, no UDF)."""
    col = F.col(toks) if isinstance(toks, str) else toks
    for _, a, b, merged, _ in merges:
        col = F.aggregate(
            col, F.array().cast("array<string>"), _bpe_merge_fold(a, b, merged)
        )
    return col


def bpe_subword_count_udf(merges: list[tuple[int, str, str, str, int]]):
    """Arrow-batched subword counter: apply the learned merges to a word
    with the reference greedy left-to-right scan (same semantics as the
    ``apply_bpe_merges`` fold — pinned equal in tests/test_tokenizer.py)
    and return the subword count.  The merge table rides into the plan as
    a closure literal — thousands of merges cost a dict lookup per pair,
    not a Catalyst expression per merge."""
    merge_list = [(a, b, m) for _, a, b, m, _ in merges]

    @F.pandas_udf("int")
    def n_subwords(words):
        def enc(w: str) -> int:
            toks = list(w)
            for a, b, merged in merge_list:
                out, i, n = [], 0, len(toks)
                while i < n:
                    if toks[i] == a and i + 1 < n and toks[i + 1] == b:
                        out.append(merged)
                        i += 2  # scan continues AFTER the fused token
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            return len(toks)

        return words.map(enc)

    return n_subwords


@register("tokenizer_bpe_encode", oracle=_ENCODE_ORACLE, tags=("X4", "F6", "U1"))
def q_tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the merges just trained on it: per-doc
    subword counts (chars before, subwords after, compression x1000 as an
    exact int).

    Train-then-apply in one lineage, with the ENCODE run on the DISTINCT
    VOCABULARY and joined back to per-doc occurrences — per-word BPE is
    deterministic, so the vocabulary is the natural memo table (the same
    reason training runs on the histogram, and exactly how the DuckDB
    oracle joins the final histogram token arrays back).  Python touches
    each distinct word once through an Arrow-batched pandas UDF carrying
    the merge table as a closure literal; at 100 TB the vocabulary is
    sublinear in the corpus, and AQE broadcasts the encoded vocab when it
    is small enough.  The previous implementation folded BPE_MERGES
    interpreted ``F.aggregate`` expressions over every OCCURRENCE —
    correct, but per-row cost scaled with merge count (10.8 s at sf0.1 vs
    <5 s for this formulation; the literal-fold carrier survives as
    ``apply_bpe_merges``, still pinned against the reference scan in
    tests/test_tokenizer.py)."""
    docs = datasets.load(spark, sf_dir, "documents")
    merges = trained_merges(spark, sf_dir)
    per_word = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("word")
    )
    vocab = per_word.select("word").distinct().select(
        "word",
        F.length("word").alias("n_chars"),
        bpe_subword_count_udf(merges)("word").alias("n_subwords"),
    )
    return (
        per_word.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_chars").cast("long").alias("chars"),
            F.sum("n_subwords").cast("long").alias("subwords"),
        )
        .select(
            "doc_id",
            "chars",
            "subwords",
            (F.col("chars") * 1000 / F.col("subwords"))
            .cast("long")
            .alias("compression_x1000"),
        )
        .orderBy("doc_id")
    )
