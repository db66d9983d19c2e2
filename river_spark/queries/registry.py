"""Collects every query module into the driver-facing registry."""

from __future__ import annotations

from dataclasses import dataclass

# Importing the modules populates relational.QUERIES via the @q decorator.
import river_spark.queries.relational as _relational  # noqa: F401
import river_spark.queries.events as _events  # noqa: F401
import river_spark.queries.text as _text  # noqa: F401
import river_spark.queries.vectors as _vectors  # noqa: F401
import river_spark.queries.river_ops as _river_ops  # noqa: F401
import river_spark.queries.pipeline as _pipeline  # noqa: F401
import river_spark.queries.relational2 as _relational2  # noqa: F401
import river_spark.queries.udfs as _udfs  # noqa: F401
import river_spark.queries.scale_ops as _scale_ops  # noqa: F401
import river_spark.queries.relational3 as _relational3  # noqa: F401
import river_spark.queries.relational4 as _relational4  # noqa: F401
import river_spark.queries.pipeline_composite as _pipeline_composite  # noqa: F401
import river_spark.queries.curation as _curation  # noqa: F401
import river_spark.queries.curation2 as _curation2  # noqa: F401
import river_spark.queries.curation3 as _curation3  # noqa: F401
import river_spark.queries.relational5 as _relational5  # noqa: F401
import river_spark.queries.curation4 as _curation4  # noqa: F401
import river_spark.queries.relational6 as _relational6  # noqa: F401
import river_spark.queries.curation5 as _curation5  # noqa: F401
import river_spark.queries.curation6 as _curation6  # noqa: F401
import river_spark.queries.relational7 as _relational7  # noqa: F401
import river_spark.queries.curation7 as _curation7  # noqa: F401
import river_spark.queries.relational8 as _relational8  # noqa: F401
import river_spark.queries.curation8 as _curation8  # noqa: F401
import river_spark.queries.relational9 as _relational9  # noqa: F401
import river_spark.queries.relational10 as _relational10  # noqa: F401
import river_spark.queries.relational11 as _relational11  # noqa: F401
import river_spark.queries.relational12 as _relational12  # noqa: F401
import river_spark.queries.relational13 as _relational13  # noqa: F401
import river_spark.queries.relational14 as _relational14  # noqa: F401
import river_spark.queries.relational15 as _relational15  # noqa: F401
import river_spark.queries.relational16 as _relational16  # noqa: F401
import river_spark.queries.relational17 as _relational17  # noqa: F401
import river_spark.queries.river_ops2 as _river_ops2  # noqa: F401
import river_spark.queries.relational18 as _relational18  # noqa: F401
import river_spark.queries.curation9 as _curation9  # noqa: F401
import river_spark.queries.relational19 as _relational19  # noqa: F401
import river_spark.queries.curation10 as _curation10  # noqa: F401
import river_spark.queries.relational20 as _relational20  # noqa: F401
import river_spark.queries.relational21 as _relational21  # noqa: F401
import river_spark.queries.relational22 as _relational22  # noqa: F401
import river_spark.queries.relational23 as _relational23  # noqa: F401
import river_spark.queries.relational24 as _relational24  # noqa: F401
import river_spark.queries.relational25 as _relational25  # noqa: F401
import river_spark.queries.relational26 as _relational26  # noqa: F401
import river_spark.queries.relational27 as _relational27  # noqa: F401
import river_spark.queries.relational28 as _relational28  # noqa: F401
import river_spark.queries.curation11 as _curation11  # noqa: F401
import river_spark.queries.river_ops3 as _river_ops3  # noqa: F401
import river_spark.queries.river_ops4 as _river_ops4  # noqa: F401
import river_spark.queries.relational29 as _relational29  # noqa: F401
import river_spark.queries.mm_codecs as _mm_codecs  # noqa: F401
import river_spark.queries.relational30 as _relational30  # noqa: F401
import river_spark.queries.relational31 as _relational31  # noqa: F401
import river_spark.queries.relational32 as _relational32  # noqa: F401
import river_spark.queries.relational33 as _relational33  # noqa: F401
import river_spark.queries.relational34 as _relational34  # noqa: F401
import river_spark.queries.relational35 as _relational35  # noqa: F401
import river_spark.queries.relational36 as _relational36  # noqa: F401
import river_spark.queries.relational37 as _relational37  # noqa: F401
import river_spark.queries.curation12 as _curation12  # noqa: F401
import river_spark.queries.relational38 as _relational38  # noqa: F401
import river_spark.queries.relational39 as _relational39  # noqa: F401
from river_spark.queries.relational import QUERIES as _RAW


@dataclass(frozen=True)
class Query:
    name: str
    fn: object
    oracle: str | None
    tags: tuple
    bench: bool


# Explicit registration priority: see rotation comment below.
_R10_ORDER = [
    # Round-10 rotation (r9 verdict directive #1): the driver checks the
    # FIRST 50 each round, and round 9's queue-jumping left a 33-entry
    # never-driver-checked backlog (round-8 additions that round 9's 43
    # new queries displaced). This round that backlog LEADS, in its
    # existing (oldest-first) order — agg_conversion_wilson finally gets
    # its driver row — and round-10 additions enqueue BEHIND it, sized so
    # the window covers every never-checked query and leaves ZERO
    # backlog. Two round-9-checked queries whose PLANS changed this
    # round (broadcast-side fixes: text_js_divergence,
    # dq_referential_integrity) take the last window slots for post-fix
    # re-adjudication. The stale cohorts (r1, r3, r4, r6, r7, r8, then
    # the r9-checked block) follow for rounds 11+. Every query stays
    # covered each session by tests/test_oracle.py (all SFs) and
    # tests/test_boundary_values.py regardless of driver position.
    # --- never driver-checked (33; round-8 backlog, oldest first):
    "pipeline_global_shuffle",
    "pipeline_curriculum_order",
    "graph_bfs_hops",
    "agg_corr_exact",
    "graph_degree_histogram",
    "join_salted_skew",
    "pipeline_epoch_recipe",
    "text_vocab_coverage",
    "agg_ols_multi",
    "ev_ltv_halflife",
    "ev_rolling_distinct",
    "ev_peak_concurrency",
    "pipeline_shard_manifest",
    "agg_mutual_info",
    "text_sentence_dedup",
    "river_stream_foreach_upsert",
    "ev_funnel_latency",
    "pipeline_dataset_card",
    "text_readability",
    "graph_common_neighbors",
    "emb_mips",
    "text_ocr_artifacts",
    "pipeline_pref_pairs",
    "ev_asof_tolerance",
    "text_ngram_novelty",
    "emb_lsh_bucket_stats",
    "mm_pair_coverage",
    "join_null_safe",
    "ev_survival_curve",
    "agg_winsorized_mean",
    "dq_split_drift",
    "text_lang_id_eval",
    "agg_conversion_wilson",
    # --- round-10 additions (never checked; behind the backlog — the 33
    #     above + these 15 + the 2 re-adjudications below = exactly the
    #     50-query driver window, leaving zero never-checked backlog):
    "agg_theil_index",
    "agg_trimmed_mean",
    "agg_log2_value_histogram",
    "dq_null_profile",
    "dq_unreferenced_dims",
    "scalar_interval_arith",
    "ev_burstiness",
    "ev_gap_entropy",
    "ev_dod_delta",
    "ev_power_user_share",
    "pipeline_dedup_rate_by_source",
    "pipeline_bucket_balance",
    "text_simpson_diversity",
    "text_compression_proxy",
    "river_stream_session_window",
    # --- plan-fixed in round 10 (broadcast side swapped / hints dropped);
    #     re-adjudicate post-fix:
    "text_js_divergence",
    "dq_referential_integrity",
    # --- newest row r1 (8):
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_bpe_tokens",
    "text_rolling_fingerprint",
    "join_cross_small",
    "distinct_proj",
    "agg_global",
    # --- newest row r3 (1):
    "dedup_exact",
    # --- newest row r4 (50):
    "river_ingest_roundtrip",
    "river_system_columns",
    "river_sink_roundtrip",
    "river_compressed_roundtrip",
    "river_pruned_ingest",
    "river_resume_roundtrip",
    "river_stale_autoeof",
    "river_http_read",
    "river_catalog_scan",
    "river_cli_roundtrip",
    "q2_min_unit_price_supplier",
    "q7_nation_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_supplier_balance_share",
    "q15_top_supplier",
    "q16_supplier_count",
    "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_customers",
    "udf_normalize_text",
    "udaf_weighted_avg",
    "udtf_tokenize",
    "emb_knn_cosine",
    "emb_norms",
    "emb_centroid_norms",
    "emb_ann_lsh",
    "emb_ann_ivf",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "emb_cosine_dedup",
    "mm_payload_metadata",
    "mm_decode_features",
    "mm_frame_sample",
    "ev_rollup_cascade",
    "join_salted",
    "agg_approx_distinct",
    "pipeline_training_set",
    "fn_array_agg",
    "pivot_status_priority",
    "set_ops_all",
    "scalar_regex",
    "null_semantics",
    "null_ordering",
    "fn_map",
    "fn_json_struct",
    "win_range_frame",
    "win_value_functions",
    "q1_pricing_summary",
    # --- newest row r6 (50):
    "decontam_minhash_bench",
    "text_bm25_rank",
    "pipeline_domain_cap",
    "agg_median_mode",
    "agg_regression",
    "scalar_url",
    "ev_anomaly_zscore",
    "agg_bool_bit",
    "ev_locf_fill",
    "fn_higher_order",
    "ev_event_trigrams",
    "udf_cogroup_clickstream",
    "dedup_repeated_spans",
    "pipeline_curation_v2",
    "agg_listagg",
    "fn_unpivot",
    "scalar_decimal",
    "mm_audio_windows",
    "emb_pq_codes",
    "ev_markov_transitions",
    "text_zipf_slope",
    "river_stream_locf",
    "agg_argminmax",
    "udf_arrow_stats",
    "text_bigram_logprob",
    "agg_grouping_id",
    "river_latency_analysis",
    "pipeline_quality_sample",
    "emb_matryoshka_truncate",
    "agg_approx_quantile",
    "ev_gap_detect",
    "profile_lineitem",
    "agg_value_histogram",
    "ev_session_window_native",
    "river_stream_dedup",
    "win_distribution_functions",
    "scalar_bitwise",
    "scalar_levenshtein",
    "scalar_string",
    "scalar_date",
    "scalar_math",
    "scalar_conditional",
    "scalar_json",
    "agg_stats",
    "agg_percentile",
    "topk_global",
    "set_ops",
    "win_running_sum",
    "win_moving_avg",
    "text_token_stats",
    # --- newest row r7 (50):
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_nation_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_priority_shipping",
    "q13_customer_distribution",
    "q14_promo_effect",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_disjunctive_join",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "join_semi",
    "emb_ann_recall",
    "pipeline_dsir_weights",
    "emb_semdedup",
    "text_cdc_chunks",
    "agg_hll_sketch",
    "text_char_entropy",
    "river_stream_static_join",
    "pipeline_cdc_merge",
    "rec_cte_ancestry",
    "scalar_variant",
    "join_lateral_topk",
    "ev_interval_merge",
    "dq_expectations",
    "decontam_ngram_overlap",
    "dedup_components",
    "emb_cluster_assign",
    "emb_quantize_int8",
    "ev_cohort_retention",
    "ev_funnel",
    "mm_resize",
    "pipeline_dedup_retention",
    "pipeline_domain_mix",
    "pipeline_seq_pack",
    "pipeline_stratified_sample",
    "pipeline_train_split",
    "river_redis_roundtrip",
    "river_stream_join",
    "river_stream_query",
    "river_stream_stateful",
    "river_stream_window",
    "text_chunk_sliding",
    "text_pii_redact",
    "text_repetition_filter",
    "text_tfidf_top_terms",
    "text_unigram_logprob",
    # --- newest row r8 (50):
    "join_anti",
    "join_full_outer",
    "win_rank_ntile",
    "win_topk_per_group",
    "ev_tumbling_window",
    "ev_sliding_window",
    "ev_sessionize",
    "ev_lag_lead",
    "ev_dedup_ordered",
    "ev_asof_join",
    "ev_range_join",
    "ev_tail",
    "ev_seek",
    "scalar_try_arith",
    "agg_filter_clause",
    "ev_gap_fill_interp",
    "emb_kmeans_update",
    "mm_phash_dedup",
    "dedup_minhash_recall",
    "river_stream_outer_join",
    "decontam_bloom_prefilter",
    "agg_heavy_hitters",
    "emb_random_projection",
    "ev_mad_outliers",
    "scalar_xml",
    "river_stream_window_chain",
    "layout_zorder",
    "agg_salted_twophase",
    "pipeline_scd2",
    "pipeline_incremental_agg",
    "mb_copurchase_pairs",
    "er_fuzzy_match",
    "agg_bitmap_audience",
    "text_ngram_containment",
    "graph_triangle_count",
    "agg_countmin_sketch",
    "agg_weighted_median",
    "ev_candle_ohlc",
    "ev_sequence_pattern",
    "geo_grid_proximity",
    "graph_pagerank",
    "text_bpe_pair_counts",
    "emb_power_iteration",
    "scalar_collation",
    "ev_attribution_last_touch",
    "pipeline_rfm_segments",
    "ab_welch_ttest",
    "ev_cusum_changepoint",
    "pipeline_url_canonical_dedup",
    "scalar_sql_udf",
    # --- newest row r9 (48; the two plan-fixed queries moved to the
    #     re-adjudication slots above):
    "ev_wau_stickiness",
    "text_length_percentiles_by_lang",
    "agg_weekday_seasonality",
    "agg_cramers_v",
    "pipeline_quota_sampler",
    "agg_new_vs_returning",
    "ev_user_regularity",
    "pipeline_dataset_delta",
    "agg_cohort_ltv_curve",
    "ev_attribution_position_based",
    "pipeline_dedup_survivorship",
    "dq_key_uniqueness",
    "ev_dense_daily_grid",
    "agg_moments_cents",
    "ev_hour_dow_heatmap",
    "text_hapax_ratio",
    "ev_gap_percentiles",
    "ev_fano_factor",
    "agg_lorenz_deciles",
    "pipeline_tokenizer_fertility",
    "river_stream_semi_join",
    "ev_autocorr_lag",
    "ev_max_drawdown",
    "agg_value_bands",
    "emb_adjacent_cosine_hist",
    "text_token_len_profile",
    "dedup_cluster_sizes",
    "pipeline_source_overlap",
    "agg_ks_shard",
    "agg_chi2_cells",
    "agg_entropy_mix",
    "agg_hhi_concentration",
    "ev_updown_streaks",
    "ev_gap_histogram",
    "pipeline_token_budget_pack",
    "pipeline_mix_rebalance",
    "pipeline_shard_balance",
    "emb_dim_variance",
    "text_vocab_growth",
    "river_stream_right_outer_join",
    "river_stream_full_outer_join",
    "agg_benford_digits",
    "scalar_pipe_syntax",
    "ev_seasonal_decompose",
    "agg_gini_spend",
    "text_pmi_cooccurrence",
    "agg_pareto_frontier",
    "ev_vwap",
]


# Round-11 driver window (the driver adjudicates the FIRST 50).
# Discipline: a query whose PHYSICAL PLAN changed since its last green
# driver row goes back through the driver before anything new.
_WINDOW = [
    # --- Round-15 rotation (r14 verdict directive #1: finish the
    #     staleness rotation). The 9 r6-stale rows lead. Then the
    #     round-15 additions/changes (PNG palette decode, PNG Adam7
    #     decode — directive #2 — and the 12/20-bit widening of
    #     mm_flac_multichannel_decode_stats, directive #6, whose
    #     physical plan/data changed so it goes back through the driver
    #     per the standing discipline). The remaining 38 slots take the
    #     r7-stale cohort oldest-first in its r7 window order; 3 r7
    #     rows (agg_cube, agg_grouping_sets, join_semi) slip to the
    #     round-16 head — the displacement the r14 verdict sanctioned
    #     for the PNG additions. After this round max staleness is 7
    #     rounds and self-maintains at ~374/50 per cycle.
    # --- r6-stale cohort (the 9 oldest external rows in the repo):
    "agg_percentile",
    "agg_stats",
    "scalar_conditional",
    "scalar_json",
    "set_ops",
    "text_token_stats",
    "topk_global",
    "win_moving_avg",
    "win_running_sum",
    # --- round-15 additions / plan-changed (never/needs driver-check):
    "mm_png_palette_decode_stats",
    "mm_png_adam7_decode_stats",
    "mm_gif_anim_decode_stats",
    "mm_wav_ext_decode_stats",
    "mm_bmp_indexed_decode_stats",
    "mm_flac_multichannel_decode_stats",
    # --- r7-stale cohort, oldest-first in r7 window order (38 of 41):
    "emb_ann_recall",
    "pipeline_dsir_weights",
    "emb_semdedup",
    "text_cdc_chunks",
    "agg_hll_sketch",
    "text_char_entropy",
    "river_stream_static_join",
    "pipeline_cdc_merge",
    "rec_cte_ancestry",
    "scalar_variant",
    "join_lateral_topk",
    "ev_interval_merge",
    "decontam_ngram_overlap",
    "dedup_components",
    "emb_cluster_assign",
    "emb_quantize_int8",
    "ev_cohort_retention",
    "ev_funnel",
    "mm_resize",
    "pipeline_dedup_retention",
    "pipeline_domain_mix",
    "pipeline_stratified_sample",
    "pipeline_train_split",
    "river_redis_roundtrip",
    "river_stream_join",
    "river_stream_query",
    "river_stream_stateful",
    "river_stream_window",
    "text_chunk_sliding",
    "text_pii_redact",
    "text_repetition_filter",
    "text_tfidf_top_terms",
    "text_unigram_logprob",
    "q4_order_priority",
    "q6_forecast_revenue",
]
# Round-16 rotation note: behind this window sit the 6 remaining
# r7-stale rows (agg_cube, agg_grouping_sets, join_semi, agg_rollup,
# q13_customer_distribution, q12_priority_shipping — they lead round
# 16; the last three were displaced by the GIF89a-animation,
# extended-WAV, and indexed-BMP additions under the r14-verdict-
# sanctioned one-for-one rule), then everything whose latest row is
# r8+ in the established staleness order. Registry growth discipline (r13
# verdict #7): additions <= window headroom after staleness rotation,
# adjudicated in the round they land.

# Tail keeps the round-10 staleness order so future rotations stay
# oldest-first; round-11 additions register at the very end (behind
# every re-adjudication, per the rotation discipline).
_PRIORITY = _WINDOW + [n for n in _R10_ORDER if n not in set(_WINDOW)]


QUERIES: dict[str, Query] = {}
for name, fn, oracle, tags, bench in _RAW:
    if name in QUERIES:
        raise ValueError(f"duplicate query name {name}")
    QUERIES[name] = Query(name, fn, oracle, tags, bench)

_missing = [n for n in _PRIORITY if n not in QUERIES]
if _missing:
    raise ValueError(f"priority list references unknown queries: {_missing}")
QUERIES = {
    **{n: QUERIES[n] for n in _PRIORITY},
    **{n: q for n, q in QUERIES.items() if n not in set(_PRIORITY)},
}


def get_queries():
    return {name: q.fn for name, q in QUERIES.items()}


def get_oracle_sql():
    return {name: q.oracle.strip() for name, q in QUERIES.items() if q.oracle is not None}
