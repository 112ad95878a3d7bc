"""Query catalog — importing this package registers every engine query.

Each module maps to a SURVEY.md §2 operator group.

REGISTRATION ORDER MATTERS: the correctness driver checks exactly the first
50 registered queries.  Module import order seeds the registry;
``_apply_rotation`` then moves the names in ``_WINDOW`` to the front, in
that order, so a single query can be scheduled without splitting modules.
A query added to the catalog must go into ``_WINDOW`` (replacing a name
that already holds an official row) so it earns its first
``CORRECTNESS_r*.json`` row; tests/test_registry_window.py checks this and
pins the order of the whole registry.
"""

from flinkexp_spark.catalog import (  # noqa: F401
    sources_io,  # S1-S11
    llm_textprep,  # X4+ chunk/tokenize/redact
    changelog,  # upsert/dynamic-table parity
    retrieval,  # BM25 search + prefix-filter exact Jaccard
    streaming_replay,  # T1-T10, E1-E7
    temporal,  # SCD2 build + point-in-time join
    patterns,  # CEP/MATCH_RECOGNIZE analogs
    streaming_tws,  # T7 forward API (transformWithStateInPandas)
    evolution,  # S2 parquet schema evolution / partition overwrite
    sql_queries,  # TPC-H SQL surface (all 22) + SQL-dialect extras
    projection,  # P1-P4 + quality audits
    joins,  # J1-J9
    aggregates,  # A1-A9 + stats
    text_analysis,  # X4
    llm_multimodal,  # X5
    llm_similarity,  # X3
    llm_dedup,  # X1, X2
    pipeline,  # composites
    scalar_funcs,  # F1-F9
    setops,  # O1-O5
    windows,  # W1-W5
    subqueries,
    wordcount,  # E2-E4 batch parity
    udfs,  # U1-U4
    sql_modern,  # recursive CTE / HLL sketches / VARIANT / LISTAGG / pipe (new r4)
    streaming_extra,  # dropDuplicatesWithinWatermark + foreachBatch MERGE (new r4)
    timeseries,  # LOCF gap-fill + time-weighted avg (new r4)
    tokenizer,  # distributed BPE merge training (new r4)
    kafka_contract,  # S5 source/sink contract over a file-backed log (new r5)
    feature_store,  # PIT training sets / multi-horizon features (new r5)
    data_profiling,  # correlation matrix + Benford audit (new r5)
    geo,  # grid-blocked spatial joins / kNN / density (new r6)
    experiments,  # CUPED, Kaplan-Meier, item lift, seasonality (new r6)
    sketches,  # KMV/theta set-algebra sketches (new r9)
    tokenizer_unigram,  # unigram-LM hard-EM train + Viterbi encode (new r11)
    tokenizer_wordpiece,  # greedy longest-match WordPiece encode (new r12)
)

# The driver's 50-name window, registry positions 1-50.
_WINDOW: tuple[str, ...] = (
    "multimodal_decode_xz_frames",
    "geo_neighbor_pairs_fold",
    "multimodal_decode_lzma2",
    "sim_search_ivf",
    "embed_random_projection",
    "dedup_lines",
    "pipeline_training_data",
    "pipeline_dpo_pairs",
    "window_gaps_islands",
    "stream_python_datasource",
    "timeseries_cross_correlation",
    "feature_rolling_multi_horizon",
    "feature_pit_training_set",
    "join_asof_tolerance",
    "feature_target_encoding",
    "stats_correlation_matrix",
    "quality_benford_audit",
    "geo_distance_join",
    "geo_nearest_supplier",
    "geo_cell_density",
    "stream_geofence_entry",
    "stat_cuped_adjustment",
    "survival_kaplan_meier",
    "recsys_item_lift",
    "timeseries_seasonal_decompose",
    "rfm_segmentation",
    "timeseries_forecast_backtest",
    "changelog_incremental_join",
    "interval_concurrency_peak",
    "quality_t_closeness",
    "multimodal_image_stats",
    "sim_search_adc_rerank",
    "sim_search_recall_ivf2",
    "embed_quantize_pq",
    "sim_search_pq_adc",
    "sample_priority_weighted",
    "tokenizer_bpe_train",
    "tokenizer_bpe_encode",
    "source_kafka_contract",
    "pipeline_kafka_roundtrip",
    "stat_ks_test",
    "join_bucketed_colocated",
    "join_dpp_partitioned",
    "stream_wordcount_update",
    "stream_session_window",
    "stream_interval_join",
    "stream_wordcount_per_record",
    "scd2_build",
    "join_scd2_pit",
    "pattern_funnel",
)


def _apply_rotation() -> None:
    """Reorder the registry dict: ``_WINDOW`` first, then module order.

    The registry is a plain insertion-ordered dict; rebuilding it here gives
    query-level control of the driver window without carving modules up.
    """
    from flinkexp_spark import registry

    missing = [n for n in _WINDOW if n not in registry.REGISTRY]
    if missing:  # a rename/removal must fail loudly, not silently shrink
        raise RuntimeError(f"_WINDOW references unknown queries: {missing}")
    ordered = {n: registry.REGISTRY[n] for n in _WINDOW}
    for name, q in registry.REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    registry.REGISTRY.clear()
    registry.REGISTRY.update(ordered)


_apply_rotation()
