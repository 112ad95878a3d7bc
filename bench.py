#!/usr/bin/env python
"""Benchmark harness — runs the engine's headline queries at a fixture scale
and prints ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Targets are in BASELINE.md (self-declared; the reference publishes none —
see SURVEY.md §6).  Env knobs:

* ``SPARK_GRAFT_SF_DIR``  — fixture dir (default /root/testdata/sf0.1)
* ``SPARK_GRAFT_CPUS``    — local core count (default: the cores this
  process may run on, see ``session.default_cpus``)
* ``SPARK_GRAFT_BENCH_REPEATS`` — runs per query (default 3)

NOISE CONTROL: the host carries outside-container load that swings single
runs up to 7x, so each query runs REPEATS times and reports the MEDIAN of
its latest converged window — a query whose window spread (max-min) still
exceeds max(min, 0.2s) is re-run up to SPARK_GRAFT_BENCH_MAX_ATTEMPTS
times (default 9) until the latest REPEATS-sized window converges; only
queries that never converge land in ``noisy_queries``.  The headline value
is the sum of medians; per-query min/median/max/attempts are all emitted.
Every query is drained with a noop write so the full result is computed
but rows never collect to the driver.

EPISODE CONTROL (r14 VERDICT #3): this family of hosts shows multi-minute
co-tenant contention episodes that inflate one contiguous suite segment
3-16x while the per-query convergence loop happily converges on the
inflated level (every repeat inside the episode is equally slow), so the
suite-level medians alone produce phantom regressions.  Defense: (a) load1
is stamped per query (``queries_load1``), and (b) after the suite — in a
FRESH process via tools/mini_bench.py, same drain/median/convergence
methodology — every query whose suite median exceeds 2x its own history
(the previous ``BENCH_LOCAL.json`` at the same sf and core count, see
``history_for``) is re-measured.  BOTH numbers are recorded under
``remeasured``; the fresh median replaces the suite slot only when the
fresh run CONFIRMS the inflation (fresh < suite/1.5).  A genuine
regression re-measures at the suite level and is kept + recorded; a
uniform slow host re-measures slow and is kept.
Disable with SPARK_GRAFT_BENCH_REMEASURE=0.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
from collections.abc import Callable


def _head_sha() -> str | None:
    """Git SHA at generation time — the BENCH_SF1 staleness trip-wire
    compares this against BENCH_SF1['head'] so a perf change committed
    after the sf1 freeze trips CI (ADVICE r11, medium)."""
    try:
        return subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        return None

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flinkexp_spark.registry import REGISTRY, queries  # noqa: E402
from flinkexp_spark.session import (  # noqa: E402
    default_cpus,
    get_session,
    host_memory_mb,
)
from flinkexp_spark.srcstate import source_tree_hash  # noqa: E402

# Headline suite: one representative per BASELINE.md row.  Names absent from
# the registry are skipped (bench never breaks while the catalog evolves);
# anything present runs.
HEADLINE = [
    # batch word count throughput (E2–E5; BASELINE row 1 definition)
    "wordcount_batch",
    "wordcount_union",
    "wordcount_datastream_api",  # the fluent-adapter form; plan-identical
    # relational suite representatives (§2.2): scan-heavy agg, star join,
    # window functions, set ops, scalar-function pipeline
    "agg_pricing_summary",
    "sql_tpch_q5",
    "sql_tpch_q9",
    "join_broadcast_star",
    "join_bucketed_colocated",
    "join_asof",
    "join_range_binned",  # no-equi-key interval join, binned to an equi-join
    "window_topk_per_group",
    "func_string",
    # streaming replays (E1–E7, T2–T4, J7/T8)
    "stream_wordcount_update",
    "stream_tumbling_window",
    "stream_session_window",
    "stream_interval_join",
    "stream_temporal_join",
    "stream_window_topn",
    "stream_window_join",
    "stream_stateful_totals_tws",  # T7 forward API (transformWithState+RocksDB)
    # LLM-pipeline extensions (X1–X5)
    "dedup_exact",
    "dedup_incremental",  # crawl batch vs historical corpus (exact + LSH)
    "dedup_minhash_lsh",
    "dedup_semantic",
    "sim_search_topk",
    "sim_search_ivf",
    "text_quality_profile",
    "text_quality_ensemble",
    "vocab_encode_ids",
    "pack_sequences",
    "multimodal_video_frames",
    "multimodal_decode_jpeg_meta",  # container walkers (new in r3; doc_id<100
    "multimodal_decode_ogg_meta",   # so cost is sf-constant)
    "multimodal_decode_mp3_meta",
    "maintenance_compact",
    "maintenance_merge_upsert",
    "layout_zorder_scan",
    "search_bm25_topk",
    "agg_histogram_quantile",
    "text_classifier_score",
    "sim_search_adc_rerank",
    "sketch_count_min",
    "table_fingerprint",
    "graph_triangle_count",
    "join_salted_skew",
    # round-4 additions: modern SQL + explicit runtime filter + iteration
    "sql_recursive_cte",
    "sketch_hll_mergeable",
    "join_bloom_prefilter",
    "graph_pagerank",
    "boilerplate_strip",
    "stream_dedup_within_watermark",
    "pattern_regex_cep",
    "timeseries_time_weighted_avg",
    "rollup_continuous_aggregate",
    # round-5 additions: S5 contract source + distributed BPE
    "source_kafka_contract",
    "tokenizer_bpe_encode",
    # round-6 additions: recall contract, feature store, drift stats,
    # graph/link prediction, streaks, IVM, preference pairs, audio features
    "sim_search_recall_ivf",
    "join_asof_forward",
    "feature_rolling_multi_horizon",
    "feature_target_encoding",
    "graph_common_neighbors",
    "stat_ks_test",
    "interval_concurrency_peak",
    "timeseries_cross_correlation",
    "pipeline_dpo_pairs",
    "text_zipf_fit",
    "multimodal_audio_stats",
    "multimodal_image_stats",
    "window_gaps_islands",
    "changelog_incremental_agg",
    "geo_distance_join",
    "recsys_item_lift",
    "survival_kaplan_meier",
    "rfm_segmentation",
    "timeseries_forecast_backtest",
    "graph_clustering_coefficient",
    # round-7 additions: baseline-JPEG entropy decode, hot-cell salted join,
    # delta-join IVM, exact-k weighted sampling, two-level IVF descent
    "multimodal_decode_jpeg_pixels",
    "geo_neighbor_pairs_salted",
    "changelog_incremental_join",
    "sample_priority_weighted",
    "sim_search_ivf2",
    "quality_t_closeness",
    "graph_label_propagation",
    "profile_join_skew",
    "embed_quantize_pq",
    "sim_search_ivfpq_adc",
    # round-8/9 codec additions: FLAC lossless + IMA-ADPCM lossy decode
    "multimodal_decode_flac_pcm",
    "multimodal_decode_adpcm_pcm",
    # round-10 additions: G.711 + APNG codecs, disk-resident IVF probe,
    # kNN-graph beam search (relational NSW)
    "multimodal_decode_g711_pcm",
    "multimodal_decode_apng_frames",
    "sim_search_ivf_bucketed",
    "sim_search_graph_beam",
    # round-11 additions: QOI image codec (all six chunk ops oracle-live),
    # unigram-LM tokenizer (hard-EM train + Viterbi encode)
    "multimodal_decode_qoi_pixels",
    "tokenizer_unigram_encode",
    "text_perplexity_filter",
    # round-12 additions: zlib/DEFLATE decode, WordPiece tokenizer,
    # zero-shuffle phrase search, hourly linear resample
    "multimodal_decode_deflate",
    "tokenizer_wordpiece_encode",
    "search_phrase_match",
    "timeseries_resample_linear",
    "stat_mann_whitney",
    # round-13 additions: bzip2 + TIFF-LZW + zstd-frame codecs,
    # Kruskal-Wallis k-group rank test
    "multimodal_decode_bzip2",
    "multimodal_decode_tiff_lzw",
    "multimodal_decode_zstd_frames",
    "stat_kruskal_wallis",
    # round-14 additions: .xz container walk + full LZMA2 range decode,
    # compact salted-geo fold twin (the sf1 sweep's pair-multiset check)
    "multimodal_decode_xz_frames",
    "multimodal_decode_lzma2",
    "geo_neighbor_pairs_fold",
    # composite: quality gate -> exact dedup -> near-dup drop -> stats
    "pipeline_training_data",
]


def load_gate(
    getloadavg=os.getloadavg,
    sleep=time.sleep,
    monotonic=time.monotonic,
    env=os.environ,
) -> tuple[str, float]:
    """Host-load guard WITH TEETH (r09 VERDICT #1a; r08 VERDICT #3 history).

    The warn-only guard let a dirty artifact freeze twice running (r08: 17
    noisy medians; r09: load1 6.1, 18 noisy medians, two phantom
    regressions the judge had to re-measure).  Now: above the threshold we
    first WAIT for the host to quiet down (the usual cause is our own
    just-finished pytest/driver Spark JVMs), and if it never does we
    REFUSE — the JSON line carries {"refused": true} and no timings, so a
    dirty run can never masquerade as a round-over-round signal.
    SPARK_GRAFT_BENCH_FORCE=1 overrides for emergencies (the artifact
    still records load1 so the override is visible);
    SPARK_GRAFT_BENCH_MAX_LOAD=0 disables the guard entirely.

    Returns (verdict, load1) with verdict in {"ok", "forced", "refused"};
    the clock/env injections exist for the unit tests (tests/test_api.py).
    """
    max_load = float(env.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2"))
    wait_s = float(env.get("SPARK_GRAFT_BENCH_LOAD_WAIT", "900"))
    forced = env.get("SPARK_GRAFT_BENCH_FORCE", "") == "1"
    load1 = round(getloadavg()[0], 2)
    if not max_load or load1 <= max_load:
        return "ok", load1
    if forced:
        print(
            f"# bench: WARNING — forced run at load1 {load1} > {max_load}; "
            "medians are NOT trustworthy for round-over-round comparison.",
            file=sys.stderr,
        )
        return "forced", load1
    deadline = monotonic() + wait_s
    print(
        f"# bench: 1-min load average {load1} > {max_load}; waiting "
        f"up to {wait_s:.0f}s for the host to quiet down...",
        file=sys.stderr,
    )
    while monotonic() < deadline:
        sleep(15)
        load1 = round(getloadavg()[0], 2)
        if load1 <= max_load:
            return "ok", load1
    print(
        f"# bench: REFUSING to bench at load1 {load1} > {max_load} "
        "after the wait — medians from this host state are not a "
        "round-over-round signal.  Re-run on a quiet host, or set "
        "SPARK_GRAFT_BENCH_FORCE=1 to override (the artifact will "
        "record the load).",
        file=sys.stderr,
    )
    return "refused", load1


def history_for(prev: dict, sf: float, cpus: int) -> dict[str, float]:
    """Per-query medians of a previous ``BENCH_LOCAL.json`` payload, or
    nothing unless it was measured at the same ``sf`` on the same core
    count: a run on another host size is no yardstick for an episode
    (pure function; unit-tested in tests/test_api.py)."""
    if prev.get("sf") != sf or prev.get("cpus") != cpus:
        return {}
    return {k: float(v) for k, v in (prev.get("queries") or {}).items()}


def converge(
    run_once: Callable[[], float], base: int, max_attempts: int
) -> tuple[int, float, float, float, bool]:
    """Per-query noise convergence: call ``run_once`` (returns seconds)
    until the latest window of ``base`` runs has spread (max - min) <=
    max(window min, 0.2 s), or ``max(base, max_attempts)`` runs are spent.
    A cold or contended run simply falls out of the window.  Returns
    (runs made, median, min, max, converged) of that latest window (pure
    function; unit-tested in tests/test_api.py; tools/mini_bench.py uses
    it too)."""
    runs: list[float] = []
    while True:
        runs.append(run_once())
        if len(runs) < base:
            continue
        w = sorted(runs[-base:])
        converged = (w[-1] - w[0]) <= max(w[0], 0.2)
        if converged or len(runs) >= max(base, max_attempts):
            return len(runs), w[len(w) // 2], w[0], w[-1], converged


def episode_outliers(
    medians: dict[str, float],
    hist: dict[str, float],
    factor: float = 2.0,
) -> list[str]:
    """Queries whose suite median exceeds ``factor`` x their history —
    the episode suspects that earn a fresh-session re-measure (pure
    function; unit-tested in tests/test_api.py)."""
    return sorted(
        n
        for n, med in medians.items()
        if hist.get(n) and med > factor * hist[n]
    )


def fold_remeasure(
    medians: dict[str, float],
    fresh: dict[str, float],
    outliers: list[str],
    hist: dict[str, float],
    confirm: float = 1.5,
) -> dict[str, dict]:
    """Record suite/fresh/history per outlier and REPLACE the suite median
    only when the fresh run confirms the inflation (fresh < suite/confirm).
    Mutates ``medians``; returns the ``remeasured`` audit map.  A missing
    fresh number (subprocess failure) keeps the suite value and says so."""
    remeasured: dict[str, dict] = {}
    for n in outliers:
        info: dict = {
            "suite": medians[n],
            "hist": hist.get(n),
            "fresh": fresh.get(n),
        }
        if fresh.get(n) is not None and fresh[n] < medians[n] / confirm:
            info["kept"] = "fresh"
            medians[n] = round(fresh[n], 3)
        else:
            info["kept"] = "suite"
        remeasured[n] = info
    return remeasured


def _fresh_session_medians(names: list[str]) -> dict[str, float]:
    """Run tools/mini_bench.py (same methodology) in a fresh process for
    ``names``; parse '# name: median=X.XXs ...' lines."""
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "mini_bench.py"),
             ",".join(names)],
            capture_output=True, text=True, timeout=1200,
        ).stdout
    except Exception as exc:
        print(f"# bench: re-measure subprocess failed: {exc}", file=sys.stderr)
        return {}
    fresh: dict[str, float] = {}
    for m in re.finditer(r"^# (\S+): median=([0-9.]+)s", out, re.M):
        fresh[m.group(1)] = float(m.group(2))
    return fresh


def main() -> None:
    verdict, load1 = load_gate()
    if verdict == "refused":
        print(
            json.dumps(
                {
                    "metric": "headline_suite_wall_seconds",
                    "value": None,
                    "unit": "sec",
                    "refused": True,
                    "load1": load1,
                    "max_load": float(
                        os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2")
                    ),
                },
                separators=(",", ":"),
            ),
            flush=True,
        )
        sys.exit(3)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # infer sf from the dir name, e.g. ".../sf0.1" -> 0.1
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = -1.0

    # Episode-control history: the previous full per-query map at the same
    # sf and core count (read BEFORE this run overwrites it at the end).
    cpus = default_cpus()
    hist: dict[str, float] = {}
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
            )
        ) as f:
            hist = history_for(json.load(f), sf, cpus)
    except Exception:
        pass

    spark = get_session(app_name="flinkexp_spark_bench")
    spark_version = spark.version
    # Runtime WARNs (e.g. WindowExec single-partition notes from bounded
    # demo queries) go to the merged capture; r06's 2000-byte tail was
    # mostly WARN spam and nearly pushed the JSON line out.  ERROR only.
    spark.sparkContext.setLogLevel("ERROR")
    # Warm up the JVM / codegen / parquet footer+page caches so per-query
    # timings measure the engine, not first-touch session costs.  count()
    # alone reads only footers and never runs codegen, an exchange, or the
    # noop sink, so the FIRST timed query still absorbed ~2.5s of
    # first-touch session cost (r14: wordcount_batch ran first and timed
    # 3.15s cold vs 0.49s warm).  Drain each table through the same noop
    # sink the timed loop uses (full column read, vectorized reader, page
    # cache) plus one tiny groupBy so whole-stage codegen, the shuffle
    # machinery, and the noop commit path are all JIT-warm before timing
    # starts.  Measurement-methodology fix only: the timed region and the
    # per-query drain are unchanged (OPTIMIZATION_r14.md).
    for t in ("nation", "documents", "events", "lineitem", "embeddings"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.write.format("noop").mode("overwrite").save()
    (
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        .groupBy("n_regionkey")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    qs = queries()
    suite = [n for n in HEADLINE if n in qs]
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        print(f"# bench: skipping unregistered queries: {missing}", file=sys.stderr)

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # Queries whose medians have shown host-contention noise across rounds
    # (BENCH r04<->r05 phantom regressions): run extra repeats so the
    # median is signal.  First-run cold costs (bucketed-table build,
    # centroid training) amortize across the added repeats too.
    extra_repeats = {
        "pipeline_training_data": 5,
        "join_bucketed_colocated": 5,
        "dedup_semantic": 5,
    }
    # Per-query noise convergence (r10 verdict #4): the suite-level load
    # gate alone still left 20/38 medians self-flagged noisy, because one
    # cold or contended run blows out the min/max spread forever.  Now each
    # query keeps re-running until the LATEST window of `repeats` runs has
    # spread <= max(window_min, 0.2s) — a cold first run simply falls out
    # of the window — capped at SPARK_GRAFT_BENCH_MAX_ATTEMPTS total runs
    # (cap reached => the query stays in noisy_queries and the artifact
    # records how hard it was tried via `attempts`).
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "9"))
    medians: dict[str, float] = {}
    mins: dict[str, float] = {}
    maxes: dict[str, float] = {}
    attempts: dict[str, int] = {}
    q_load1: dict[str, float] = {}
    noisy: list[str] = []

    for name in suite:
        base = max(repeats, extra_repeats.get(name, 0))
        last: dict = {}

        def run_once() -> float:
            t0 = time.perf_counter()
            last["df"] = df = qs[name](spark, sf_dir)
            # Drain through a noop write, NOT count(): count() lets
            # Catalyst prune every computed column, so map-only queries
            # (classifier scores, encodings) would be timed without doing
            # their actual work.  noop materializes every output column.
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        n_runs, med, mn, mx, converged = converge(run_once, base, max_attempts)
        n = last["df"].count()
        medians[name] = round(med, 3)
        mins[name] = round(mn, 3)
        maxes[name] = round(mx, 3)
        attempts[name] = n_runs
        # per-query load stamp (r14 VERDICT #3: the suite-level load gate
        # cannot see an episode that starts mid-suite)
        q_load1[name] = round(os.getloadavg()[0], 2)
        if not converged:
            noisy.append(name)
        retry = f" attempts={n_runs}" if n_runs > base else ""
        print(
            f"# {name}: median={medians[name]:.2f}s min={mins[name]:.2f}s "
            f"max={maxes[name]:.2f}s ({n} rows){retry}"
            + (" NOISY" if not converged else ""),
            file=sys.stderr,
        )

    # Stop Spark before the re-measure subprocess (so two full-width JVMs
    # never compute at once) and BEFORE the final print — nothing
    # (shutdown logs, late executor stderr) may land after the JSON line
    # in the merged capture.
    spark.stop()

    # Episode control: fresh-session re-measure of >2x-history outliers
    # (module docstring; decision logic unit-tested).
    outliers = episode_outliers(medians, hist)
    remeasured: dict[str, dict] = {}
    if outliers and os.environ.get("SPARK_GRAFT_BENCH_REMEASURE", "1") == "1":
        print(
            "# bench: suite medians >2x history — fresh-session "
            f"re-measure: {outliers}",
            file=sys.stderr,
        )
        fresh = _fresh_session_medians(outliers)
        remeasured = fold_remeasure(medians, fresh, outliers, hist)
        for n, info in remeasured.items():
            print(f"# bench: remeasured {n}: {info}", file=sys.stderr)

    total = round(sum(medians.values()), 3)
    # Spread of the reported window (the machine-noise fingerprint):
    # queries that never converged within the attempt cap stay flagged so
    # round-over-round comparisons know which medians not to trust.
    spread = {k: round(maxes[k] - mins[k], 3) for k in medians}
    noisy = sorted(noisy)
    full_payload = json.dumps(
        {
            "metric": "headline_suite_wall_seconds",
            "head": _head_sha(),
            "src_hash": source_tree_hash(),
            "value": total,
            "unit": "sec",
            "queries": medians,
            "queries_min": mins,
            "queries_max": maxes,
            "queries_spread": spread,
            "queries_load1": q_load1,
            "remeasured": remeasured,
            "noisy_queries": noisy,
            "attempts": attempts,
            "max_attempts": max_attempts,
            "repeats": repeats,
            "load1_prerun": load1,
            "load1_postrun": round(os.getloadavg()[0], 2),
            "sf": sf,
            "cpus": cpus,
            "host_mem_mb": host_memory_mb(),
            "spark_version": spark_version,
        }
    )
    # The driver captures only the LAST ~2000 bytes of merged output and
    # json-parses them (BENCH_r02/r03 came back "parsed": null because the
    # full payload ran ~2.8 KB and lost its head; r06 fell back to a
    # suite_total-only line because 77 query names alone exceed the
    # window).  Emit the SLOWEST queries until the byte budget is spent —
    # those are the ones round-over-round diffs act on — plus an "others"
    # rollup; the full per-query map lands in BENCH_LOCAL.json and is
    # frozen per round as BENCH_r{N}_FULL.json at end-of-round commit.
    def compact_line(n_top: int) -> str:
        by_cost = sorted(medians, key=medians.get, reverse=True)
        top = {k: round(medians[k], 2) for k in sorted(by_cost[:n_top])}
        rest = by_cost[n_top:]
        payload = {
            "metric": "headline_suite_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": top,
            "repeats": repeats,
            "load1": load1,
            "noisy_queries": noisy,
            "sf": sf,
        }
        if remeasured:
            payload["remeasured"] = {
                n: [info["suite"], info["fresh"], info["kept"]]
                for n, info in remeasured.items()
            }
        if rest:
            payload["others"] = {
                "n": len(rest),
                "sec": round(sum(medians[k] for k in rest), 2),
            }
            payload["full"] = "BENCH_LOCAL.json"
        return json.dumps(payload, separators=(",", ":"))

    n_top = len(medians)
    compact = compact_line(n_top)
    while len(compact) > 1700 and n_top > 0:  # leave tail-window margin
        # clamp: an unclamped decrement would go negative and compact_line's
        # by_cost[:n_top] slice would flip meaning (nearly-full map again)
        n_top = max(0, n_top - 5)
        compact = compact_line(n_top)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"), "w") as f:
            f.write(full_payload + "\n")
    except OSError as exc:  # never fail the bench over the backup copy
        print(f"# bench: could not write BENCH_LOCAL.json: {exc}", file=sys.stderr)
    # Spark was stopped before the re-measure pass; the JSON line is last.
    print(compact, flush=True)


if __name__ == "__main__":
    main()
