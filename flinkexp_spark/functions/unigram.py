"""Pure-Python unigram-LM Viterbi segmenter — the per-word lattice DP.

The DP and its tie-break are the cross-engine contract: at every position
the best path maximizes the exact integer score sum, and a tie is won by
the LONGER last piece (k checked high-to-low).  The DuckDB oracle's
recursive CTE (catalog/tokenizer_unigram.py::_dp_cte) applies the same
rule, and tests/test_tokenizer_unigram.py pins this function against an
independent brute-force enumerator.
"""

from __future__ import annotations


def viterbi_segment(
    word: str, table: dict[str, int], max_piece: int
) -> list[str]:
    """Best segmentation of ``word`` under integer piece scores.

    ``table`` must contain every single character of the word (the
    training vocabulary guarantees this); pieces longer than ``max_piece``
    are never considered.
    """
    n = len(word)
    best: list[int | None] = [None] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for p in range(1, n + 1):
        bb, bk = None, 0
        for k in range(1, min(max_piece, p) + 1):
            prev = best[p - k]
            if prev is None:
                continue
            s = table.get(word[p - k : p])
            if s is None:
                continue
            c = prev + s
            if bb is None or c > bb or (c == bb and k > bk):
                bb, bk = c, k
        best[p], back[p] = bb, bk
    out: list[str] = []
    p = n
    while p > 0:
        k = back[p]
        if k == 0:  # unsegmentable suffix — vocabulary contract violated
            raise ValueError(f"no segmentation for {word!r} at {p}")
        out.append(word[p - k : p])
        p -= k
    return out[::-1]
