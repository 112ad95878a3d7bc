"""Registry-time oracle rewriting: the ``AS MATERIALIZED`` hints."""

from __future__ import annotations

import hashlib

from flinkexp_spark.registry import REGISTRY, _materialize_multiref_ctes, queries

# sha256 over every registered query's name and materialized oracle text,
# in name order (see _oracle_digest).  Any change to the hint rewrite, or
# to an oracle, moves it.
ORACLE_DIGEST = "8418a9f21d7ac063ccf7076328f131a96cdf25511c7eb717572c1a3b50482a93"


def _oracle_digest() -> str:
    h = hashlib.sha256()
    for name in sorted(REGISTRY):
        h.update(name.encode() + b"\0" + (REGISTRY[name].oracle or "").encode() + b"\1")
    return h.hexdigest()


def test_materialized_oracle_text_is_pinned():
    queries()
    assert len(REGISTRY) == 338
    assert _oracle_digest() == ORACLE_DIGEST


def test_materialize_hints_only_multiref_non_recursive_ctes():
    sql = """
        WITH RECURSIVE a AS (SELECT 1 AS x),
             b AS (SELECT x FROM a),
             r AS (SELECT 1 AS n UNION ALL SELECT n + 1 FROM r WHERE n < 3),
             c AS (SELECT x FROM a JOIN b USING (x))
        SELECT SUM(x) OVER w FROM c, r, b
        WINDOW w AS (PARTITION BY x), w2 AS (ORDER BY x)
    """
    out = _materialize_multiref_ctes(sql)
    assert "a AS MATERIALIZED (" in out  # referenced by b and c
    assert "b AS MATERIALIZED (" in out  # referenced by c and the final FROM
    assert "c AS (" in out  # one reference
    assert "r AS (" in out  # self-referencing
    assert "w AS (PARTITION" in out and "w2 AS (ORDER" in out  # windows
    # an unbalanced body runs to the end of the text, as before
    assert _materialize_multiref_ctes("a AS (SELECT 1 FROM a") == "a AS (SELECT 1 FROM a"
