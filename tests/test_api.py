"""Engine facade (api.py) and iterative-operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from flinkexp_spark.api import FlinkexpEngine
from flinkexp_spark.operators.components import connected_components


def test_engine_sql_entry_point(spark, sf_dir):
    eng = FlinkexpEngine(spark, data_dir=sf_dir)
    out = eng.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    ).collect()
    assert len(out) >= 1 and all(r.n > 0 for r in out)


def test_engine_sql_ddl_roundtrip(spark, sf_dir, tmp_path):
    """Flink Table-envelope parity: DDL + DML through the engine's sql()
    entry — CREATE TABLE ... USING parquet, INSERT INTO, SELECT back,
    DROP.  The statements run through Spark's catalog, so the same path
    serves metastore-backed tables on a cluster."""
    eng = FlinkexpEngine(spark, data_dir=sf_dir)
    loc = (tmp_path / "ddl_t").as_posix()
    eng.sql(
        f"CREATE TABLE ddl_t (k BIGINT, v STRING) USING parquet LOCATION '{loc}'"
    )
    try:
        eng.sql("INSERT INTO ddl_t VALUES (1, 'a'), (2, 'b')")
        eng.sql("INSERT INTO ddl_t SELECT 3, 'c'")
        got = sorted((r.k, r.v) for r in eng.sql("SELECT * FROM ddl_t").collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
        n = eng.sql("SELECT count(*) AS n FROM ddl_t WHERE k >= 2").collect()[0].n
        assert n == 2
    finally:
        eng.sql("DROP TABLE IF EXISTS ddl_t")


def test_engine_table_entry_point(spark, sf_dir):
    eng = FlinkexpEngine(spark, data_dir=sf_dir)
    n = eng.table("nation").count()
    assert n == 25


def test_connected_components_two_clusters(spark):
    # {1,2,3} via chain, {10,11} — and min-label must cross the chain
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path: worst case for propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    comp = connected_components(edges)
    assert comp.select(F.count_distinct("component")).first()[0] == 1
    assert comp.agg(F.min("component")).first()[0] == 0


def test_compaction_reduces_files_without_shuffle(spark, sf_dir, tmp_path):
    """Small-file compaction: 64 tiny files -> byte-budgeted few, zero rows
    moved across the network (coalesce = narrow dep, no Exchange), content
    identical."""
    import re

    from flinkexp_spark import datasets
    from flinkexp_spark.operators.maintenance import (
        compact_parquet,
        parquet_dir_stats,
    )

    docs = datasets.load(spark, sf_dir, "documents")
    fine = str(tmp_path / "fine")
    docs.repartition(64).write.mode("overwrite").parquet(fine)
    n_fine, src_bytes = parquet_dir_stats(fine)
    assert n_fine == 64

    compacted = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, fine, compacted, target_bytes=1 << 22)
    n_files, _ = parquet_dir_stats(compacted)
    assert n_files == n_out < n_fine

    back = spark.read.parquet(compacted)
    assert back.count() == docs.count()

    plan = (
        spark.read.parquet(fine)
        .coalesce(n_out)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"\bExchange\b", plan), "compaction must not shuffle"


def test_engine_catalog_run_entry_point(spark, sf_dir):
    """Entry point 4: every SURVEY §2 operator is user-reachable by name."""
    from flinkexp_spark.api import FlinkexpEngine

    eng = FlinkexpEngine(spark, data_dir=sf_dir)
    names = eng.catalog()
    assert len(names) > 180 and "wordcount_topk" in names
    assert eng.run("wordcount_topk").count() == 20


def test_engine_explain_entry_point(spark, sf_dir):
    from flinkexp_spark.api import FlinkexpEngine

    eng = FlinkexpEngine(spark, data_dir=sf_dir)
    text = eng.explain("sql_tpch_q6")
    assert "Physical Plan" in text
    assert "PushedFilters" in text  # formatted mode shows scan pushdown
    simple = eng.explain("sql_tpch_q6", mode="simple")
    assert "Physical Plan" in simple


def test_python_source_arrow_mode_matches_tuple_mode(spark):
    """The synthcrawl reader's Arrow path (RecordBatch yields) must return
    byte-identical data to the tuple path."""
    from flinkexp_spark.sources.pysource import register_python_sources

    register_python_sources(spark)

    def load(arrow: str):
        return (
            spark.read.format("synthcrawl")
            .option("rows", "500")
            .option("partitions", "4")
            .option("arrow", arrow)
            .load()
            .orderBy("doc_id")
            .collect()
        )

    assert load("true") == load("false")


def test_bench_load_gate_verdicts():
    """The bench artifact gate (r09 verdict #1a): quiet host passes, noisy
    host waits then refuses, FORCE overrides with the load recorded, and
    MAX_LOAD=0 disables — all with injected clocks so no sleeping."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "bench_mod",
        _os.path.join(_os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def gate(loads, env, t0=0.0):
        loads = iter(loads)
        clock = {"t": t0}

        def monotonic():
            return clock["t"]

        def sleep(s):
            clock["t"] += s

        return bench.load_gate(
            getloadavg=lambda: (next(loads), 0, 0),
            sleep=sleep,
            monotonic=monotonic,
            env=env,
        )

    # quiet host: straight through
    assert gate([1.0], {}) == ("ok", 1.0)
    # noisy then quiet: waits, returns ok with the settled load
    assert gate([9.0, 7.0, 1.5], {"SPARK_GRAFT_BENCH_LOAD_WAIT": "60"}) == (
        "ok",
        1.5,
    )
    # never quiet: refuses after the wait budget
    v, l1 = gate([9.0] * 100, {"SPARK_GRAFT_BENCH_LOAD_WAIT": "60"})
    assert v == "refused" and l1 == 9.0
    # forced: runs anyway, visibly
    assert gate([9.0], {"SPARK_GRAFT_BENCH_FORCE": "1"}) == ("forced", 9.0)
    # guard disabled
    assert gate([9.0], {"SPARK_GRAFT_BENCH_MAX_LOAD": "0"}) == ("ok", 9.0)


def test_bench_episode_remeasure_logic():
    """Episode control (r14 VERDICT #3): >2x-history suite medians are
    re-measured; the fresh number replaces the suite slot only when it
    CONFIRMS the inflation (fresh < suite/1.5).  A genuine regression
    (re-measures slow) and a uniform slow host keep the suite value; a
    failed re-measure keeps the suite value and records fresh=None."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "bench_mod2",
        _os.path.join(_os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    hist = {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0}
    medians = {"a": 5.0, "b": 5.0, "c": 1.1, "d": 5.0, "new_q": 9.0}
    # outliers: >2x history; new_q has no history -> never an outlier
    out = bench.episode_outliers(medians, hist)
    assert out == ["a", "b", "d"]

    fresh = {"a": 1.2, "b": 4.8}  # a: episode confirmed; b: genuinely slow
    rem = bench.fold_remeasure(medians, fresh, out, hist)
    assert medians["a"] == 1.2 and rem["a"]["kept"] == "fresh"
    assert rem["a"]["suite"] == 5.0 and rem["a"]["hist"] == 1.0
    assert medians["b"] == 5.0 and rem["b"]["kept"] == "suite"
    # d: subprocess gave nothing -> suite kept, fresh recorded as None
    assert medians["d"] == 5.0 and rem["d"]["kept"] == "suite"
    assert rem["d"]["fresh"] is None
    # untouched entries
    assert medians["c"] == 1.1 and "c" not in rem and "new_q" not in rem


def test_bench_history_needs_same_sf_and_cpus():
    """Episode-control history is per host size: a previous run counts
    only at the same sf AND core count.  A payload without ``cpus`` (the
    shape of BENCH_LOCAL.json before the stamp) gives no history."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "bench_mod3",
        _os.path.join(_os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = {"sf": 0.1, "cpus": 4, "queries": {"a": 1, "b": 2.5}}
    assert bench.history_for(prev, 0.1, 4) == {"a": 1.0, "b": 2.5}
    assert bench.history_for(prev, 0.1, 8) == {}
    assert bench.history_for(prev, 0.01, 4) == {}
    unstamped = {k: v for k, v in prev.items() if k != "cpus"}
    assert bench.history_for(unstamped, 0.1, 4) == {}


def test_bench_converge_on_scripted_run_times():
    """The one timing loop bench.py and tools/mini_bench.py share: a cold
    first run falls out of the latest window, and a query that never
    settles stops at the attempt cap flagged as not converged."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "bench_mod4",
        _os.path.join(_os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def scripted(times):
        it = iter(times)
        return lambda: next(it)

    # cold first run: [5, 1, 1] spreads 4 s, [1, 1, 1] converges
    assert bench.converge(scripted([5, 1, 1, 1]), 3, 9) == (4, 1, 1, 1, True)
    # already quiet: exactly `base` runs
    assert bench.converge(scripted([1.0, 1.1, 1.05]), 3, 9) == (
        3, 1.05, 1.0, 1.1, True,
    )
    # never converges: stops at the cap, reports the last window
    n, med, mn, mx, ok = bench.converge(scripted([1, 9] * 10), 3, 7)
    assert (n, ok) == (7, False) and (mn, med, mx) == (1, 1, 9)
    # the cap never cuts a window short
    assert bench.converge(scripted([1, 9, 1, 9]), 4, 2)[0] == 4
