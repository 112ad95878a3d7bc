"""Unigram-LM tokenizer unit tests (catalog/tokenizer_unigram.py).

The Viterbi segmenter is pinned against an INDEPENDENT brute-force
enumerator: every segmentation of the word is scored, the max is kept,
and ties resolve to the path whose piece-length sequence read from the
END is lexicographically largest — the global statement of the DP's
per-position "longer last piece wins" backtracking rule.  The oracle's
recursive CTE applies the same rule (k checked 4..1), so pinning the UDF
against brute force pins all three implementations together with the
cross-engine hash check in CORRECTNESS_*.
"""

from __future__ import annotations

import itertools
import math

import pytest

from flinkexp_spark.catalog.tokenizer_unigram import (
    UNI_EM_ITERS,
    UNI_MAX_PIECE,
    UNI_SCORE_SCALE,
    _score,
)
from flinkexp_spark.functions.unigram import viterbi_segment


def _segment_fn(scores: dict[str, int]):
    """The same pure DP the pandas UDF runs."""

    def one(word: str) -> list[str]:
        return viterbi_segment(word, scores, UNI_MAX_PIECE)

    return one


def _brute_force(word: str, scores: dict[str, int]) -> list[str]:
    """All segmentations via composition enumeration; max total score,
    ties broken by the reversed piece-length sequence (descending)."""
    n = len(word)
    best = None
    for cuts in itertools.product([0, 1], repeat=max(0, n - 1)):
        bounds = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
        pieces = [word[a:b] for a, b in zip(bounds, bounds[1:])]
        if any(len(p) > UNI_MAX_PIECE or p not in scores for p in pieces):
            continue
        total = sum(scores[p] for p in pieces)
        key = (total, tuple(len(p) for p in reversed(pieces)))
        if best is None or key > best[0]:
            best = (key, pieces)
    assert best is not None, f"unsegmentable: {word}"
    return best[1]


def test_viterbi_matches_brute_force() -> None:
    import random

    rng = random.Random(7)
    alphabet = "abc"
    for trial in range(60):
        # random vocab: all singles + random multi-char pieces
        vocab = {ch: rng.randint(1, 9) for ch in alphabet}
        for _ in range(rng.randint(2, 10)):
            L = rng.randint(2, UNI_MAX_PIECE)
            piece = "".join(rng.choice(alphabet) for _ in range(L))
            vocab.setdefault(piece, rng.randint(1, 9))
        scores = _score(vocab, sum(vocab.values()))
        seg = _segment_fn(scores)
        for _ in range(6):
            word = "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 9))
            )
            got = seg(word)
            want = _brute_force(word, scores)
            assert got == want, f"trial {trial}: {word}: {got} != {want}"
            assert "".join(got) == word  # lossless coverage


def test_tie_break_prefers_longer_last_piece() -> None:
    # 'ab'+'c' and 'a'+'bc' tie on score; the DP must pick the LONGER
    # last piece ('bc') per the k=4..1 rule.
    scores = {"a": -10, "b": -10, "c": -10, "ab": -15, "bc": -15}
    seg = _segment_fn(scores)
    assert seg("abc") == ["a", "bc"]


def test_single_char_fallback() -> None:
    # no multi-char piece applies -> pure char segmentation
    scores = {"x": -5, "y": -7}
    seg = _segment_fn(scores)
    assert seg("xyxy") == ["x", "y", "x", "y"]


def test_score_is_integer_micro_nats() -> None:
    s = _score({"a": 3, "b": 1}, 4)
    assert s["a"] == math.floor(math.log(3 / 4) * UNI_SCORE_SCALE)
    assert s["b"] == math.floor(math.log(1 / 4) * UNI_SCORE_SCALE)
    assert all(isinstance(v, int) for v in s.values())


def test_em_iter_count_is_pinned() -> None:
    # the oracle unrolls exactly this many Viterbi+restimate rounds; a
    # drive-by change to the constant must be a conscious oracle change
    assert UNI_EM_ITERS == 2


@pytest.mark.usefixtures("spark")
def test_train_and_encode_against_corpus(spark) -> None:
    """End-to-end on the sf0.001 fixture: training returns ranked pieces,
    encode compresses (pieces < chars), and both are deterministic."""
    from flinkexp_spark.catalog.tokenizer_unigram import (
        q_tokenizer_unigram_encode,
        q_tokenizer_unigram_train,
    )

    sf = "/root/testdata/sf0.001"
    t = q_tokenizer_unigram_train(spark, sf).collect()
    assert t and t[0]["rank"] == 1
    assert all(r["score"] < 0 for r in t)
    counts = [r["n_uses"] for r in t]
    assert counts == sorted(counts, reverse=True)
    assert any(len(r["piece"]) > 1 for r in t), "no multi-char piece won"

    e = q_tokenizer_unigram_encode(spark, sf).collect()
    assert e
    for r in e:
        assert 0 < r["pieces"] <= r["chars"]
        assert r["compression_x1000"] >= 1000


@pytest.mark.usefixtures("spark")
def test_perplexity_filter_mean_split_identity(spark) -> None:
    """The keep flag must equal the float-free corpus-mean comparison:
    mean_cost * n_docs >= sum(mean_cost)."""
    from flinkexp_spark.catalog.tokenizer_unigram import (
        q_text_perplexity_filter,
    )

    rows = q_text_perplexity_filter(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n = len(rows)
    s = sum(r["mean_cost"] for r in rows)
    kept = 0
    for r in rows:
        assert r["keep"] == (r["mean_cost"] * n >= s)
        assert r["mean_cost"] <= 0 and r["total_cost"] <= r["mean_cost"]
        kept += bool(r["keep"])
    assert 0 < kept < n, "mean split must actually separate the corpus"
