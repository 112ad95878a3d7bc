"""Query catalog — importing this package registers every engine query.

Each module maps to a SURVEY.md §2 operator group.

REGISTRATION ORDER MATTERS: the driver's correctness gate walks the
registry in registration order under a finite budget (rounds 1-3 each
checked exactly the first 50 registered queries).  Module import order
seeds the registry; ``_apply_rotation`` below then pins the exact window
composition so a single query can be scheduled without splitting modules.

Rotation history (see COVERAGE.md ledger):
    r01/r02 — first 100 queries in module order (relational core).
    r03     — sources_io + llm_textprep + changelog + retrieval +
              streaming_replay: first-ever rows for S1-S11, T1, T5-T8, T10.
    r04     — temporal, patterns, tws forward path, evolution, TPC-H tail,
              projection/joins/aggregates/text tails, the two real codec
              walkers: CORRECTNESS_r04 = 50/50 green, all first-ever rows.
    r05     — ``_R05_WINDOW`` below: 50 never-official queries, 50/50 green.
    r06     — ``_r06_window()``: the final 11 never-official queries
              (closing the ledger at 260/260), queries NEW this round
              (``_R06_NEW``), and re-verification slots for reworked
              implementations (``_R06_REVERIFY``).

NEW QUERIES added this round must ALSO be appended to ``_R06_NEW`` so they
land inside the official window; tests/test_registry_window.py fails
loudly if the window composition drifts.
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

# --------------------------------------------------------------------------
# Round-5 official window (HISTORY — r05 shipped 50/50 green on exactly this
# list; kept for the ledger tests).  Every name here earned its FIRST
# official row in CORRECTNESS_r05.
_R05_WINDOW: tuple[str, ...] = (
    # _R05_NEXT carry-over from the r04 plan (14 of the 16; 2 deferred)
    "multimodal_decode_ogg_meta",
    "multimodal_decode_mp3_meta",
    "multimodal_video_frames",
    "embed_quantize_int8",
    "dedup_semantic",
    "sim_search_adc_rerank",
    "dedup_components_star",
    "dedup_incremental",
    "dedup_keep_best",
    "dedup_containment",
    "sample_weighted_hash",
    "mix_rebalance_weights",
    "shard_assign",
    "sample_fixed_per_group",
    # sql_modern (9)
    "sql_recursive_cte",
    "sql_date_spine",
    "sketch_hll_mergeable",
    "agg_approx_top_k",
    "sql_variant_json",
    "sql_listagg",
    "sql_pipe_syntax",
    "sql_group_by_all",
    "sql_parameterized",
    # streaming extras (4)
    "stream_dedup_within_watermark",
    "stream_foreachbatch_merge",
    "stream_python_datasource",
    "stream_observed_metrics",
    # Python DataSource batch connector (1)
    "source_python_datasource",
    # timeseries (2)
    "timeseries_locf",
    "timeseries_time_weighted_avg",
    # tokenizer (2) — oracle-ized this round (literal-VALUES BPE oracle)
    "tokenizer_bpe_train",
    "tokenizer_bpe_encode",
    # graph / patterns (3)
    "graph_pagerank",
    "pattern_regex_cep",
    "pattern_copurchase_pairs",
    # audits / profiling (7)
    "profile_table",
    "quality_sequence_gaps",
    "diagnose_skew",
    "profile_entropy",
    "quality_k_anonymity",
    "quality_anomaly_mad",
    "rollup_continuous_aggregate",
    # joins / sinks / text tails (6)
    "join_bloom_prefilter",
    "sink_sized_shards",
    "cdc_apply_ops",
    "text_url_canonicalize",
    "boilerplate_strip",
    "curriculum_order",
    # windows / multimodal tail (2)
    "window_distribution",
    "multimodal_scene_cuts",
)

# --------------------------------------------------------------------------
# Round-6 official window: positions 1-50, checked by the driver this round.
#
# Composition (pinned by tests/test_registry_window.py):
#   1-11   the 11 queries with NO official row in CORRECTNESS_r01..r05 —
#          closing the ledger at 260/260 and giving S5 (Kafka) its first
#          official rows;
#   12+    queries NEW this round (_R06_NEW below) — each earns a first
#          official row the round it ships;
#   tail   RE-VERIFICATION slots (_R06_REVERIFY): queries whose
#          implementation was REWORKED this round (tokenizer mapInPandas
#          encode, triangle-count shuffle reduction, executor-side Kafka
#          sink) — already-official, re-checked on purpose so the rework
#          can't silently regress them in the official artifact.
_R06_CARRYOVER: tuple[str, ...] = (
    # Kafka S5 — the last operator group without an official row
    "source_kafka_contract",
    "pipeline_kafka_roundtrip",
    "stream_kafka_contract",
    # round-5 snapshot-commit additions
    "feature_rolling_multi_horizon",
    "feature_pit_training_set",
    "join_asof_tolerance",
    "stats_correlation_matrix",
    "quality_benford_audit",
    "embed_random_projection",
    # deferred from r05 (strong already-official siblings)
    "multimodal_decode_meta",
    "dedup_lines",
)

# Queries first registered in round 6 — append here when adding a query so
# it lands inside the official window (ledger test enforces membership).
_R06_NEW: tuple[str, ...] = (
    "sim_search_recall_ivf",  # pins the measured IVF recall as a hash check
    "join_asof_forward",  # J9 forward direction (next-reading / conversion)
    "feature_target_encoding",  # leakage-free K-fold out-of-fold encode
    "stream_kafka_restart_recovery",  # checkpointed restart, no duplicates
    "graph_common_neighbors",  # link prediction over the co-purchase graph
    "stat_ks_test",  # exact-integer two-sample KS drift distance
    "interval_concurrency_peak",  # sweep-line max concurrent sessions
    "timeseries_cross_correlation",  # lead/lag Pearson over a dense spine
    "pipeline_dpo_pairs",  # chosen/rejected preference-pair construction
    "text_zipf_fit",  # log-log OLS slope of the word histogram
    "multimodal_audio_stats",  # waveform features over the real WAV decode
    "window_gaps_islands",  # consecutive-day streaks per user
    "changelog_incremental_agg",  # retraction-stream IVM vs recompute oracle
    "stream_kafka_exactly_once",  # multi-epoch streaming relay through the sink
    "multimodal_image_stats",  # pixel features over the real PPM decode
    "pipeline_kafka_datasource_writer",  # native writer-protocol round-trip
    "stream_kafka_datasource_writer",  # epoch-segment streaming writer
    "geo_distance_join",  # grid-blocked haversine join vs brute-force oracle
    "geo_nearest_supplier",  # blocked kNN (k=1) with rounded-distance ranking
    "geo_cell_density",  # grid-cell heatmap aggregation + stable top-k
    "stat_cuped_adjustment",  # pre-period covariate variance reduction
    "survival_kaplan_meier",  # right-censored retention survival curve
    "recsys_item_lift",  # market-basket item-to-item lift top-k
    "timeseries_seasonal_decompose",  # hour-of-day profile + residual scale
    "stream_geofence_entry",  # streaming fence filter + first-entry state
    "quality_l_diversity",  # sensitive-value diversity per anonymity class
    "rfm_segmentation",  # quintile scores via broadcast percentile bounds
    "geo_neighbor_pairs",  # big-big spatial self-join on the cell shuffle
    "timeseries_forecast_backtest",  # OLS trend vs seasonal-naive MAE
    "graph_clustering_coefficient",  # per-node triangle attribution
)

# Already-official queries whose implementation changed this round.
_R06_REVERIFY: tuple[str, ...] = (
    "tokenizer_bpe_encode",  # fold chain -> single Arrow mapInPandas pass
    "graph_triangle_count",  # oriented-edge reuse (Exchange-count pass)
    "tokenizer_bpe_train",  # shares the merge-learning path with encode
    "dedup_semantic",  # noisy-bench watch item (VERDICT r05 #8)
    "pipeline_training_data",  # noisy-bench watch item
    "join_bucketed_colocated",  # noisy-bench watch item
    "sim_search_ivf",  # recall contract now pinned by sim_search_recall_ivf
    "stream_python_datasource",  # shares DataSourceStreamReader plumbing w/ kafkalog
    "source_python_datasource",  # shares Python DataSource plumbing w/ kafkalog
    "stream_foreachbatch_merge",  # shares foreachBatch sink pattern w/ kafka sink
    # Standing re-verification pool: heaviest / most representative plans.
    # Appended after _R06_NEW in window order, so each new query added this
    # round displaces the LAST pad — pads are deliberately expendable.
    "sql_tpch_q1",
    "sql_tpch_q3",
    "sql_tpch_q5",
    "sql_tpch_q9",
    "sql_tpch_q18",
    "sql_tpch_q21",
    "pattern_funnel",
    "graph_pagerank",
    "dedup_minhash_lsh",
    "dedup_components_star",
    "sim_search_adc_rerank",
    "stream_session_window",
    "stream_stateful_totals_tws",
    "stream_interval_join",
    "stream_dedup_within_watermark",
    "rollup_continuous_aggregate",
    "join_salted_skew",
    "agg_salted_skew",
    "join_dpp_partitioned",
    "layout_zorder_scan",
    "scd2_build",
    "join_scd2_pit",
    "pack_sequences",
    "decontaminate_ngram",
    "text_quality_ensemble",
    "search_bm25_topk",
    "window_topk_per_group",
    "agg_histogram_quantile",
    "cdc_apply_ops",
)


def _r06_window() -> tuple[str, ...]:
    """First-50 plan: carry-over + new, padded with re-verify slots."""
    window = _R06_CARRYOVER + _R06_NEW
    pad = [n for n in _R06_REVERIFY if n not in window]
    return (window + tuple(pad))[:50]


# --------------------------------------------------------------------------
# Round-7 official window.  The r01-r06 union covers all pre-r07 queries
# (290/290, zero failures), so this window is: every query NEW this round
# first (each earns its first official row the round it ships), padded to
# 50 with RE-VERIFICATION slots — queries whose implementation was touched
# this round (kafkalog writer staging/labels, prefix-sum typing, the
# pattern_regex_cep and BPE reworks, geo salting) plus the standing pool of
# heaviest / most representative plans.  Pads are deliberately expendable:
# each new query displaces the LAST pad.
# --------------------------------------------------------------------------
_R07_NEW: tuple[str, ...] = (
    "multimodal_decode_jpeg_pixels",  # baseline-JPEG entropy decode (last X5 image stub)
    "geo_neighbor_pairs_salted",  # hot-cell salted big-big spatial self-join
    "stream_wordcount_per_record",  # E5 at Flink's per-record emission cadence
    "changelog_incremental_join",  # delta-join IVM vs recompute oracle
    "sample_priority_weighted",  # exact-k weighted sample (DLT priority)
    "sim_search_ivf2",  # two-level (sqrt-K) IVF descent
    "sim_search_recall_ivf2",  # measured recall contract for the descent
    "quality_t_closeness",  # per-class TVD privacy audit (exact-int algebra)
    "graph_label_propagation",  # deterministic sync label-prop communities
    "profile_join_skew",  # key-skew diagnostics feeding the salting ops
    "embed_quantize_pq",  # product-quantization codes (64x memory cut)
    "sim_search_pq_adc",  # ADC search over PQ codes + exact rerank
    "sim_search_recall_pq",  # measured recall contract for PQ-ADC
    "sim_search_ivfpq_adc",  # the full IVFADC serving pipeline
    "sim_search_recall_ivfpq",  # compounded-approximation recall contract
)

_R07_REVERIFY: tuple[str, ...] = (
    # implementation touched this round — re-check on purpose
    "stat_ks_test",
    "interval_concurrency_peak",
    "source_kafka_contract",
    "pipeline_kafka_roundtrip",
    "stream_kafka_contract",
    "stream_kafka_exactly_once",
    "stream_kafka_restart_recovery",
    "pipeline_kafka_datasource_writer",
    "stream_kafka_datasource_writer",
    "pattern_regex_cep",
    "tokenizer_bpe_train",
    "tokenizer_bpe_encode",
    "geo_neighbor_pairs",
    "stream_wordcount_update",
    "multimodal_image_stats",
    "multimodal_decode_jpeg_meta",
    # standing pool: heaviest / most representative plans
    "sql_tpch_q1",
    "sql_tpch_q3",
    "sql_tpch_q5",
    "sql_tpch_q9",
    "sql_tpch_q18",
    "sql_tpch_q21",
    "pattern_funnel",
    "graph_pagerank",
    "graph_triangle_count",
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_components_star",
    "dedup_semantic",
    "sim_search_recall_ivf",
    "sim_search_adc_rerank",
    "stream_session_window",
    "stream_stateful_totals_tws",
    "stream_interval_join",
    "stream_dedup_within_watermark",
    "rollup_continuous_aggregate",
    "join_salted_skew",
    "agg_salted_skew",
    "join_dpp_partitioned",
    "join_bucketed_colocated",
    "layout_zorder_scan",
    "scd2_build",
    "join_scd2_pit",
    "pack_sequences",
    "decontaminate_ngram",
    "text_quality_ensemble",
    "search_bm25_topk",
    "window_topk_per_group",
    "agg_histogram_quantile",
    "cdc_apply_ops",
    "pipeline_training_data",
    "join_asof",
    "agg_pricing_summary",
    "feature_target_encoding",
)


def _r07_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots."""
    pad = [n for n in _R07_REVERIFY if n not in _R07_NEW]
    return (_R07_NEW + tuple(pad))[:50]


# --------------------------------------------------------------------------
# ROUND-8 WINDOW: every query in the registry has held a green official row
# (r01-r07 union = 305/305), so the window again schedules the round's NEW
# queries first, padded to 50 with re-verification slots for every
# implementation this round touched (ADVICE fixes: kafka stream writer,
# listagg CEP, salted geo; VERDICT items: widened geo_neighbor_pairs,
# bucket-sharded per-record wordcount, IVFPQ knobs) plus the standing
# heavy-plan pool.  (The r08 REVERIFY list also scheduled
# multimodal_decode_jpeg_pixels anticipating a 4:2:0 rework; that rework
# did NOT land in r08 — the r08 row re-verified the 4:4:4-only decoder.
# 4:2:0 support shipped in r09.)
# --------------------------------------------------------------------------
_R08_NEW: tuple[str, ...] = (
    "multimodal_decode_flac_pcm",  # from-spec FLAC decode (compressed-audio X5)
)

_R08_REVERIFY: tuple[str, ...] = (
    # implementation touched this round — re-check on purpose
    "pattern_regex_cep",  # listagg WITHIN GROUP rework (ADVICE)
    "geo_neighbor_pairs",  # radius 400 km — first NON-VACUOUS row (VERDICT #2)
    "geo_neighbor_pairs_salted",  # null-safe salt (ADVICE)
    "dedup_semantic",  # scaled-K trip-wire (ADVICE)
    "stream_wordcount_per_record",  # bucket-sharded state + file drain (VERDICT #4)
    "sim_search_ivfpq_adc",  # IVFPQ_NPROBE/COARSE_C knobs (VERDICT #6)
    "sim_search_recall_ivfpq",  # recall floor 0.85
    "stream_kafka_exactly_once",  # stream-writer replay tags (ADVICE)
    "stream_kafka_restart_recovery",
    "stream_kafka_datasource_writer",
    "pipeline_kafka_datasource_writer",
    "stream_kafka_contract",
    "multimodal_decode_jpeg_pixels",  # 4:2:0 subsampling (VERDICT #3)
    "multimodal_decode_jpeg_meta",
    "multimodal_decode_wav",  # decode_audio seam rework
    "multimodal_audio_stats",
    "multimodal_decode_ogg_meta",
    "multimodal_decode_mp3_meta",
    # standing pool: heaviest / most representative plans
    "sql_tpch_q1",
    "sql_tpch_q3",
    "sql_tpch_q5",
    "sql_tpch_q9",
    "sql_tpch_q18",
    "sql_tpch_q21",
    "pattern_funnel",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_label_propagation",
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_components_star",
    "sim_search_recall_ivf",
    "sim_search_recall_pq",
    "sim_search_ivf2",
    "stream_session_window",
    "stream_stateful_totals_tws",
    "stream_interval_join",
    "stream_dedup_within_watermark",
    "stream_wordcount_update",
    "rollup_continuous_aggregate",
    "join_salted_skew",
    "agg_salted_skew",
    "profile_join_skew",
    "join_dpp_partitioned",
    "join_bucketed_colocated",
    "scd2_build",
    "join_scd2_pit",
    "pack_sequences",
    "decontaminate_ngram",
    "text_quality_ensemble",
    "search_bm25_topk",
    "changelog_incremental_join",
    "sample_priority_weighted",
    "quality_t_closeness",
    "join_asof",
    "agg_pricing_summary",
    "embed_quantize_pq",
)


def _r08_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots."""
    pad = [n for n in _R08_REVERIFY if n not in _R08_NEW]
    return (_R08_NEW + tuple(pad))[:50]


# --------------------------------------------------------------------------
# ROUND-9 WINDOW: staleness rotation.  After r08 the ledger union is
# 306/306 green, but 134 queries' newest official row still dates from
# r01-r03 (COVERAGE.md rotation ledger).  r09 therefore re-proves the
# OLDEST rows against current code: all 43 r01-only queries plus the
# oldest r02 block, padded behind this round's new/reworked entries.
# NEW QUERIES added this round must be appended to _R09_NEW (the
# registry-window test derives the current round from these attrs and
# fails loudly on drift).
# --------------------------------------------------------------------------
_R09_NEW: tuple[str, ...] = (
    "multimodal_decode_adpcm_pcm",  # IMA-ADPCM decode, recursive-CTE oracle
    "multimodal_decode_png_pixels",  # from-spec PNG codec, exact oracle
    "multimodal_decode_gif_pixels",  # from-spec GIF/LZW codec, exact oracle
    "sketch_theta_kmv_setops",  # KMV/theta sketch set algebra, replayed oracle
    "multimodal_decode_mjpeg_frames",  # MJPG AVI demux + per-frame decode
)

_R09_REVERIFY: tuple[str, ...] = (
    # implementation touched this round — re-check on purpose
    "multimodal_decode_jpeg_pixels",  # 4:2:0 chroma subsampling (VERDICT #4)
    "multimodal_decode_flac_pcm",  # frame-sequence check (ADVICE)
    "multimodal_audio_stats",  # decode_audio id_col seam (ADVICE)
    # staleness pool: every query whose ONLY official rows are r01
    "agg_approx_distinct",
    "agg_collect",
    "agg_cube",
    "agg_distinct",
    "agg_global",
    "agg_having",
    "agg_percentiles",
    "agg_pricing_summary",
    "agg_rollup",
    "agg_stats",
    "dedup_components",
    "dedup_exact",
    "dedup_minhash_keep",
    "dedup_minhash_signature",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "distinct_rows",
    "embed_neardup_cosine",
    "filter_predicates",
    "join_anti",
    "join_asof",
    "join_broadcast_star",
    "join_cross_theta",
    "join_full_outer",
    "join_inner",
    "join_interval",
    "join_left_outer",
    "join_lookup_dim",
    "join_semi",
    "multimodal_fake_features",
    "multimodal_frame_sample",
    "multimodal_metadata",
    "project_compute",
    "rename_drop",
    "sample_stratified_hash",
    "sim_search_ann",
    "sim_search_topk",
    "split_train_val",
    "text_fingerprint",
    "text_lang_id",
    "text_quality_profile",
    "text_repetition_filter",
    "text_token_stats",
    # oldest r02 rows, by representativeness
    "wordcount_batch",
    "sql_tpch_q6",
    "func_string",
    "window_ranking",
    "udf_scalar_net_cents",
    "union_all",
)


def _r09_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots.

    NOTE (r09 post-mortem / ADVICE): this plan over-subscribed — the
    truncation at 50 silently dropped ``text_token_stats`` (the last
    r01-only staleness entry) and the six r02 pads listed after it.
    Those names lead the r10 pool below; _r10_window() now refuses to
    truncate silently."""
    pad = [n for n in _R09_REVERIFY if n not in _R09_NEW]
    return (_R09_NEW + tuple(pad))[:50]


# --------------------------------------------------------------------------
# ROUND-10 WINDOW: staleness rotation, continued.  After r09 the ledger
# union is 311/311 green but 47 queries' newest official row still dates
# from r01-r02 (1 r01 + 46 r02 — see COVERAGE.md rotation ledger).  r10
# re-proves that whole block behind this round's new entries.  Unlike
# r09, over-subscription now FAILS LOUDLY: any name squeezed out of the
# 50 slots must be listed in _R10_CARRY_TO_R11 explicitly.
# NEW QUERIES added this round must be appended to _R10_NEW (the
# registry-window test derives the current round from these attrs).
# --------------------------------------------------------------------------
_R10_NEW: tuple[str, ...] = (
    "multimodal_decode_g711_pcm",  # G.711 A-law/µ-law, SQL-replayed oracle
    "sim_search_ivf_bucketed",  # disk-resident IVF, DPP-pruned probe
    "sim_search_recall_ivf_bucketed",  # its hash-pinned ≥0.85 recall contract
    "multimodal_decode_apng_frames",  # APNG compositing decode, event oracle
    "sim_search_graph_beam",  # kNN-graph beam search (relational NSW)
    "sim_search_recall_graph",  # its hash-pinned ≥0.90 recall contract
)

_R10_REVERIFY: tuple[str, ...] = (
    # implementation REWORKED this round — re-check on purpose
    "stream_observed_metrics",  # listener-sourced columns (r09 verdict #5)
    # dropped from the r09 window by the silent truncation — first in line
    "text_token_stats",  # the last r01-only row
    # the full r02 block, oldest official rows in the ledger
    "agg_ohlc_bars",
    "func_array",
    "func_casts",
    "func_conditional",
    "func_datetime",
    "func_hash",
    "func_hash_props",
    "func_json",
    "func_map",
    "func_math",
    "func_string",
    "intersect_except",
    "limit_topk",
    "order_by_ranked",
    "sessionize_batch",
    "sql_tpch_q10",
    "sql_tpch_q13",
    "sql_tpch_q14",
    "sql_tpch_q15",
    "sql_tpch_q17",
    "sql_tpch_q4",
    "sql_tpch_q6",
    "sql_tpch_q7",
    "sql_tpch_q8",
    "stream_wordcount_adapter",
    "subquery_exists",
    "subquery_in_agg",
    "subquery_scalar_correlated",
    "udf_grouped_agg_median",
    "udf_grouped_map_zscore",
    "udf_scalar_net_cents",
    "udf_table_function_tokens",
    "union_all",
    "union_distinct",
    "window_analytic",
    "window_cumulate",
    "window_ewma_per_user",
    "window_period_over_period",
    "window_range_frame",
    "window_ranking",
    "window_running_agg",
    "window_topk_per_group",
    "wordcount_batch",
    "wordcount_datastream_api",
    "wordcount_topk",
    "wordcount_union",
    # oldest r03 rows pad the remaining slots
    "changelog_compact",
    "chunk_documents",
    "dedup_jaccard_prefix",
)

# Names consciously pushed past slot 50 by this round's new queries; they
# head the r11 pool.  _r10_window() asserts the overflow equals this list.
_R10_CARRY_TO_R11: tuple[str, ...] = (
    "dedup_jaccard_prefix",  # displaced by multimodal_decode_g711_pcm
    "chunk_documents",  # displaced by sim_search_ivf_bucketed
    "changelog_compact",  # displaced by sim_search_recall_ivf_bucketed
    "wordcount_union",  # displaced by the stream_observed_metrics re-check
    "wordcount_topk",  # displaced by multimodal_decode_apng_frames
    "wordcount_datastream_api",  # displaced by sim_search_graph_beam
    "wordcount_batch",  # displaced by sim_search_recall_graph
)


def _r10_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots.

    Over-subscription must be acknowledged in _R10_CARRY_TO_R11 — a pool
    name silently falling off the end (the r09 bug) raises instead."""
    pad = [n for n in _R10_REVERIFY if n not in _R10_NEW]
    plan = _R10_NEW + tuple(pad)
    window, overflow = plan[:50], plan[50:]
    if set(overflow) != set(_R10_CARRY_TO_R11):
        raise RuntimeError(
            "r10 window over-subscribed: names dropped from the 50 slots "
            f"({sorted(overflow)}) do not match _R10_CARRY_TO_R11 "
            f"({sorted(_R10_CARRY_TO_R11)}) — update the carry list"
        )
    return window


# --------------------------------------------------------------------------
# ROUND-11 WINDOW: drain the carry ledger, then the oldest r03 block.
# After r10 the ledger union is 317/317 green; the staleness frontier is
# the 7-name _R10_CARRY_TO_R11 list (4 r02-era wordcounts + 3 r03 rows)
# followed by the r03 block (sources_io, streaming_replay, llm_textprep —
# 42 names).  4 new + 7 carry + 39 r03 fill the 50 slots; the last 3 r03
# names overflow into _R11_CARRY_TO_R12 (loud, asserted).
# NEW QUERIES added this round must be appended to _R11_NEW.
# --------------------------------------------------------------------------
_R11_NEW: tuple[str, ...] = (
    # sampled sf1 audits (r10 verdict #3): losslessness signal at the scale
    # where the full exhaustive oracles are excluded as quadratic proofs
    "dedup_jaccard_prefix_sf_audit",
    "geo_neighbor_pairs_sf_audit",
    "sim_search_graph_beam_sf_audit",
    "sim_search_recall_graph_sf_audit",
    # QOI image codec (X5): sixth from-spec image/animation format, all
    # six chunk ops oracle-live (functions/qoi.py)
    "multimodal_decode_qoi_pixels",
    # unigram-LM tokenizer (X4): hard-EM train + Viterbi encode, lattice
    # DP replayed in the oracle as a recursive CTE (tokenizer_unigram.py)
    "tokenizer_unigram_train",
    "tokenizer_unigram_encode",
    # CCNet-style LM-perplexity quality filter on top of the unigram model
    "text_perplexity_filter",
)

_R11_REVERIFY: tuple[str, ...] = (
    # the r10 carry ledger, verbatim (oldest official rows in the registry)
    "dedup_jaccard_prefix",
    "chunk_documents",
    "changelog_compact",
    "wordcount_union",
    "wordcount_topk",
    "wordcount_datastream_api",
    "wordcount_batch",
    # the r03 block: every remaining query whose newest official row is r03
    "index_inverted_build",
    "layout_zorder_scan",
    "maintenance_compact",
    "maintenance_merge_upsert",
    "rollup_gapfill_hourly",
    "search_bm25_topk",
    "sink_kv_upsert",
    "sink_wide_column",
    "source_csv_roundtrip",
    "source_in_memory",
    "source_jdbc_roundtrip",
    "source_json_corrupt",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "source_partitioned_parquet",
    "source_text_lines",
    "stream_changelog_upsert",
    "stream_cumulate_window",
    "stream_dedup",
    "stream_ewma_per_user",
    "stream_histogram_quantile",
    "stream_interval_join_outer",
    "stream_late_data",
    "stream_pipeline_enriched",
    "stream_session_dynamic_gap",
    "stream_session_timers",
    "stream_sliding_window",
    "stream_stateful_count",
    "stream_static_join",
    "stream_temporal_join",
    "stream_text_source",
    "stream_tumbling_checkpointed",
    "stream_tumbling_window",
    "stream_union_watermark",
    "stream_watermark_append",
    "stream_window_distinct_users",
    "stream_window_join",
    "stream_window_topn",
    "text_extract_redact_pii",
    "text_tfidf_topk",
    "text_tokens_bpe",
    "vocab_encode_ids",
)

# Names consciously pushed past slot 50 by this round's new queries; they
# head the r12 pool.  _r11_window() asserts the overflow equals this list.
_R11_CARRY_TO_R12: tuple[str, ...] = (
    # 8 new queries displace the REVERIFY tail (49 pads + 8 new = 57 plan
    # names for 50 slots)
    "stream_window_distinct_users",
    "stream_window_join",
    "stream_window_topn",
    "text_extract_redact_pii",
    "text_tfidf_topk",
    "text_tokens_bpe",
    "vocab_encode_ids",
)


def _r11_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots.

    Over-subscription must be acknowledged in _R11_CARRY_TO_R12 — a pool
    name silently falling off the end (the r09 bug) raises instead."""
    pad = [n for n in _R11_REVERIFY if n not in _R11_NEW]
    plan = _R11_NEW + tuple(pad)
    window, overflow = plan[:50], plan[50:]
    if set(overflow) != set(_R11_CARRY_TO_R12):
        raise RuntimeError(
            "r11 window over-subscribed: names dropped from the 50 slots "
            f"({sorted(overflow)}) do not match _R11_CARRY_TO_R12 "
            f"({sorted(_R11_CARRY_TO_R12)}) — update the carry list"
        )
    return window


# --------------------------------------------------------------------------
# ROUND-12 WINDOW: drain the carry ledger, then the r04 block.
# After r11 the union ledger is 325/325 green; the staleness frontier is the
# 7-name _R11_CARRY_TO_R12 list (3 streaming-window r03 rows + 4
# llm_textprep rows) followed by the r04 block (40 names whose newest
# official row is round 4).  New + 7 carry + r04 fill the 50 slots; any
# overflow lands in _R12_CARRY_TO_R13 (loud, asserted).
# NEW QUERIES added this round must be appended to _R12_NEW.
# --------------------------------------------------------------------------
_R12_NEW: tuple[str, ...] = (
    # zlib/DEFLATE decode (X6): stored, fixed and dynamic Huffman blocks
    # through the strict stdlib wrapper (functions/inflate.py)
    "multimodal_decode_deflate",
    # WordPiece tokenizer: greedy longest-match-first subword encode, the
    # third tokenizer family (BPE merge-replay, unigram Viterbi, now
    # WordPiece greedy) — oracle replays the greedy scan as a recursive CTE
    "tokenizer_wordpiece_encode",
    # Mann-Whitney U rank-sum test (rank stats family next to ks/chi2/psi)
    "stat_mann_whitney",
    # positional inverted index + adjacency-join phrase search (the exact
    # substring-match retrieval op next to bm25/inverted-index)
    "search_phrase_match",
    # time-series resample to a fixed grid with linear interpolation
    "timeseries_resample_linear",
    # gzip container (RFC 1952): FNAME and multi-member layouts through
    # the strict stdlib wrapper (functions/inflate.py)
    "multimodal_decode_gzip",
)

_R12_REVERIFY: tuple[str, ...] = (
    # the r11 carry ledger, verbatim (oldest official rows: r03)
    "stream_window_distinct_users",
    "stream_window_join",
    "stream_window_topn",
    "text_extract_redact_pii",
    "text_tfidf_topk",
    "text_tokens_bpe",
    "vocab_encode_ids",
    # the r04 block: every query whose newest official row is round 4
    "agg_grouping_sets",
    "agg_histogram_quantile",
    "agg_pivot",
    "agg_regression_ols",
    "agg_share_of_parent",
    "agg_winsorized_mean",
    "cohort_retention",
    "join_fuzzy_blocked",
    "join_range_binned",
    "pattern_absence",
    "pattern_attribution_last_touch",
    "pattern_conversion_latency",
    "pattern_transition_matrix",
    "project_unpivot",
    "quality_constraints_audit",
    "quality_fk_orphans",
    "sink_dynamic_partition_overwrite",
    "sketch_count_min",
    "source_csv_malformed_modes",
    "source_file_metadata_lineage",
    "source_parquet_schema_evolution",
    "sql_lateral_explode",
    "sql_tpch_q11",
    "sql_tpch_q12",
    "sql_tpch_q16",
    "sql_tpch_q19",
    "sql_tpch_q2",
    "sql_tpch_q20",
    "sql_tpch_q22",
    "sql_window_tumble",
    "stat_chi_square",
    "stat_psi_drift",
    "stream_list_state_recent_tws",
    "stream_map_state_totals_tws",
    "stream_session_timers_tws",
    "stream_stateful_bootstrap_tws",
    "table_fingerprint",
    "text_bigram_fluency",
    "text_classifier_score",
    "text_quality_ensemble",
)

# Names consciously pushed past slot 50 by this round's new queries; they
# head the r13 pool.  _r12_window() asserts the overflow equals this list.
_R12_CARRY_TO_R13: tuple[str, ...] = (
    # 6 new queries displace the REVERIFY tail (47 pads + 6 new = 53 plan
    # names for 50 slots)
    "text_bigram_fluency",
    "text_classifier_score",
    "text_quality_ensemble",
)


def _r12_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots.

    Over-subscription must be acknowledged in _R12_CARRY_TO_R13 — a pool
    name silently falling off the end (the r09 bug) raises instead."""
    pad = [n for n in _R12_REVERIFY if n not in _R12_NEW]
    plan = _R12_NEW + tuple(pad)
    window, overflow = plan[:50], plan[50:]
    if set(overflow) != set(_R12_CARRY_TO_R13):
        raise RuntimeError(
            "r12 window over-subscribed: names dropped from the 50 slots "
            f"({sorted(overflow)}) do not match _R12_CARRY_TO_R13 "
            f"({sorted(_R12_CARRY_TO_R13)}) — update the carry list"
        )
    return window


# --------------------------------------------------------------------------
# ROUND-13 WINDOW: drain the carry ledger, then the r05 block.
# After r12 the union ledger is 331/331 green; the staleness frontier is
# the 3-name _R12_CARRY_TO_R13 list (r04 text-analysis rows) followed by
# the r05 block (35 names whose newest official row is round 5).  4 new +
# 3 carry + 35 r05 + 8 oldest-r06 pads fill the 50 slots exactly — no
# overflow this round (_R13_CARRY_TO_R14 is empty, asserted).
# NEW QUERIES added this round must be appended to _R13_NEW.
# --------------------------------------------------------------------------
_R13_NEW: tuple[str, ...] = (
    # bzip2 (X6): the second general-purpose compression family — BWT +
    # MTF + RLE + Huffman, decoded by the stdlib wrapper (functions/bzip2.py)
    "multimodal_decode_bzip2",
    # from-spec TIFF 6.0 + MSB-first EARLY-CHANGE LZW + Predictor 2, the
    # counterpart of GIF's LSB-first late-change variant (functions/tiff.py)
    "multimodal_decode_tiff_lzw",
    # zstd frames through pyarrow's libzstd, pinned to the system's real
    # zstd binary (functions/zstd.py)
    "multimodal_decode_zstd_frames",
    # Kruskal-Wallis H: k-group rank test completing the rank-stats family
    # (doubled-midrank exact ints + order-pinned float fold)
    "stat_kruskal_wallis",
)

_R13_REVERIFY: tuple[str, ...] = (
    # the r12 carry ledger, verbatim (oldest official rows: r04)
    "text_bigram_fluency",
    "text_classifier_score",
    "text_quality_ensemble",
    # the r05 block: every query whose newest official row is round 5
    "text_url_canonicalize",
    "cdc_apply_ops",
    "pattern_copurchase_pairs",
    "sink_sized_shards",
    "profile_table",
    "quality_sequence_gaps",
    "diagnose_skew",
    "profile_entropy",
    "quality_k_anonymity",
    "join_bloom_prefilter",
    "quality_anomaly_mad",
    "multimodal_video_frames",
    "multimodal_scene_cuts",
    "embed_quantize_int8",
    "dedup_incremental",
    "dedup_keep_best",
    "boilerplate_strip",
    "sample_weighted_hash",
    "mix_rebalance_weights",
    "shard_assign",
    "sample_fixed_per_group",
    "curriculum_order",
    "window_distribution",
    "sql_recursive_cte",
    "sql_date_spine",
    "sketch_hll_mergeable",
    "agg_approx_top_k",
    "sql_variant_json",
    "sql_listagg",
    "sql_pipe_syntax",
    "sql_group_by_all",
    "sql_parameterized",
    "stream_foreachbatch_merge",
    "timeseries_locf",
    "timeseries_time_weighted_avg",
    # oldest r06 rows pad the remaining slots
    "source_python_datasource",
    "changelog_incremental_agg",
    "graph_common_neighbors",
    "graph_clustering_coefficient",
    "quality_l_diversity",
    "join_asof_forward",
    "text_zipf_fit",
    "multimodal_decode_meta",
)

# No names pushed past slot 50 this round (4 new + 46 pads = 50 exactly).
_R13_CARRY_TO_R14: tuple[str, ...] = ()


def _r13_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots.

    Over-subscription must be acknowledged in _R13_CARRY_TO_R14 — a pool
    name silently falling off the end (the r09 bug) raises instead."""
    pad = [n for n in _R13_REVERIFY if n not in _R13_NEW]
    plan = _R13_NEW + tuple(pad)
    window, overflow = plan[:50], plan[50:]
    if set(overflow) != set(_R13_CARRY_TO_R14):
        raise RuntimeError(
            "r13 window over-subscribed: names dropped from the 50 slots "
            f"({sorted(overflow)}) do not match _R13_CARRY_TO_R14 "
            f"({sorted(_R13_CARRY_TO_R14)}) — update the carry list"
        )
    return window


# --------------------------------------------------------------------------
# ROUND-14 WINDOW: the r06 staleness frontier, then the r07 block.
# After r13 the union ledger is green everywhere; the staleness frontier is
# the 24 names whose newest official row is round 6, then the full 14-name
# r07 block.  2 new + 24 r06 + 14 r07 + 10 oldest-r08 pads fill the 50
# slots exactly; the newest r08 pad overflows into _R14_CARRY_TO_R15.
# NEW QUERIES added this round must be appended to _R14_NEW (each addition
# pushes the newest r08 pad into the carry list — the window check raises
# until the two lists agree).
# --------------------------------------------------------------------------
_R14_NEW: tuple[str, ...] = (
    # .xz (X5): CRC-32/CRC-64/SHA-256/no checks and multi-stream Stream
    # Padding through the strict stdlib wrapper (functions/xz.py)
    "multimodal_decode_xz_frames",
    # compact dual-chain twin of geo_neighbor_pairs_salted (r13 verdict
    # #3): per-cell pair count + exact multiplicative-mix fold — the sf1
    # sweep's stand-in for the 317M-row materialization (catalog/geo.py)
    "geo_neighbor_pairs_fold",
    # LZMA2 encoder presets and filter chains inside .xz, decoded by the
    # stdlib wrapper (functions/xz.py) — arithmetic oracle
    # (catalog/llm_multimodal.py)
    "multimodal_decode_lzma2",
)

_R14_REVERIFY: tuple[str, ...] = (
    # the r06 block: every query whose newest official row is round 6
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
    # the r07 block: newest official row is round 7
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
    # oldest r08 rows pad the remaining slots
    "join_bucketed_colocated",
    "join_dpp_partitioned",
    "stream_wordcount_update",
    "stream_session_window",
    "stream_interval_join",
    "stream_wordcount_per_record",
    "scd2_build",
    "join_scd2_pit",
    "pattern_funnel",
    "graph_triangle_count",
    "graph_pagerank",
)

# 3 new + 49 pads = 52: the two newest r08 pads overflow into the carry.
_R14_CARRY_TO_R15: tuple[str, ...] = ("graph_triangle_count", "graph_pagerank")


def _r14_window() -> tuple[str, ...]:
    """First-50 plan: new queries first, padded with re-verify slots.

    Over-subscription must be acknowledged in _R14_CARRY_TO_R15 — a pool
    name silently falling off the end (the r09 bug) raises instead."""
    pad = [n for n in _R14_REVERIFY if n not in _R14_NEW]
    plan = _R14_NEW + tuple(pad)
    window, overflow = plan[:50], plan[50:]
    if set(overflow) != set(_R14_CARRY_TO_R15):
        raise RuntimeError(
            "r14 window over-subscribed: names dropped from the 50 slots "
            f"({sorted(overflow)}) do not match _R14_CARRY_TO_R15 "
            f"({sorted(_R14_CARRY_TO_R15)}) — update the carry list"
        )
    return window


def _apply_rotation() -> None:
    """Reorder the registry dict: priority lists first, then module order.

    The registry is a plain insertion-ordered dict; rebuilding it here gives
    query-level control of the driver window without carving modules up.
    """
    from flinkexp_spark import registry

    priority = _r14_window()
    missing = [n for n in priority if n not in registry.REGISTRY]
    if missing:  # a rename/removal must fail loudly, not silently shrink
        raise RuntimeError(f"rotation lists reference unknown queries: {missing}")
    ordered = {n: registry.REGISTRY[n] for n in priority}
    for name, q in registry.REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    registry.REGISTRY.clear()
    registry.REGISTRY.update(ordered)


_apply_rotation()
