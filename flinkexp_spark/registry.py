"""Query registry — the engine's public query catalog.

Every operator from SURVEY.md §2 is shipped as one (or more) registered
queries.  A registered query carries:

* ``fn(spark, sf_dir) -> DataFrame`` — the Spark-native implementation,
* ``oracle`` — equivalent ANSI SQL for the DuckDB oracle (or ``None`` for
  genuinely non-SQL-expressible operators; the driver then records a weaker
  rows-only check),
* ``tags`` — SURVEY §2 operator ids this query covers (e.g. ``("J1", "A1")``).

The driver contract (``__spark_entry__.py``) is a thin view over this
registry.  Oracle SQL must alias every computed column to the SAME name the
Spark side uses — the driver sorts columns by name before value-hashing.
"""

from __future__ import annotations

import functools
import re
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from flinkexp_spark.session import ship_package

QueryFn = Callable[[SparkSession, str], DataFrame]

__all__ = ["Query", "REGISTRY", "register", "queries", "oracle_sql"]


def _cte_bodies(sql: str) -> list[tuple[str, str]]:
    """``(name, body)`` for each ``name AS (...)`` CTE definition.  The body
    runs to the parenthesis that balances the opening one (to the end of
    ``sql`` if none does); one pass pairs every parenthesis first."""
    close, stack = {}, []
    for m in re.finditer(r"[()]", sql):
        if m.group() == "(":
            stack.append(m.start())
        elif stack:
            close[stack.pop()] = m.start()
    return [
        (m.group(1), sql[m.end(): close.get(m.end() - 1, len(sql))])
        for m in re.finditer(r"\b(\w+) AS (?:MATERIALIZED )?\(", sql)
    ]


def _materialize_multiref_ctes(sql: str) -> str:
    """Pin ``AS MATERIALIZED`` on every oracle CTE referenced >= 2 times.

    DuckDB inlines each CTE *reference* (no automatic materialization), so
    an oracle whose CTE is consumed k times re-executes the CTE's whole
    upstream chain k times — and exponentially through chained
    re-references: the graph-ANN oracle's hop CTEs (``v{t}`` referenced by
    both ``b{t}`` and ``v{t+1}``) measured 133 s -> 1.1 s at the sf1 audit
    fixture with identical rows once materialized (r15, guide §1.2: the
    sweep harness was re-deriving the Lloyd chain dozens of times).
    Single-reference CTEs keep inlining so projection/filter pushdown into
    base parquet scans is untouched; self-referencing (recursive) CTEs are
    left alone — non-recursive members of a WITH RECURSIVE list still get
    the hint (valid DuckDB, verified on 1.0.0).
    """
    bodies = _cte_bodies(sql)
    self_ref = {
        name for name, body in bodies if re.search(rf"\b{name}\b", body)
    }
    # SQL named windows (`... WINDOW w AS (PARTITION BY ...)`, possibly a
    # comma-chained list) share the `name AS (` shape but are not CTEs — a
    # hint there is a parse error.  A window spec body never starts with a
    # query keyword, a CTE body always does.
    windows = {
        name
        for name, body in bodies
        if not re.match(r"\s*(--[^\n]*\n\s*)*(SELECT|WITH|VALUES|FROM)\b",
                        body, re.IGNORECASE)
    }
    # A whole-word occurrence of a name is a maximal \w run, so one word
    # count serves every name; a name's definitions are its CTE matches.
    words = Counter(re.findall(r"\w+", sql))
    defs = Counter(name for name, _ in bodies)
    out = sql
    for name in set(defs) - self_ref - windows:
        if words[name] - defs[name] >= 2:
            out = re.sub(rf"\b({name}) AS \(", r"\1 AS MATERIALIZED (", out)
    return out


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str | None = None


REGISTRY: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the engine catalog.

    The catalog entry ships the package to the session's Python workers
    (:func:`~flinkexp_spark.session.ship_package`) before running ``fn``;
    the decorator itself returns ``fn`` unchanged."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        osql = _materialize_multiref_ctes(oracle) if oracle else oracle

        @functools.wraps(fn)
        def shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ship_package(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(name, shipped, osql, tuple(tags), fn.__doc__)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def _ensure_loaded() -> None:
    # Import for side effect: populates REGISTRY.
    import importlib; importlib.import_module("flinkexp_spark.catalog")  # noqa: F401
