"""The engine's declared query inventory over the driver testdata.

Each entry pairs a Spark DataFrame program with an equivalent ANSI-SQL
oracle (DuckDB dialect-compatible) over the same parquet tables. The
pairs re-express every operator family from SURVEY.md §2 (reference
``coded4alex/data_engineer_task``) on the TPC-H-ish testdata, plus the
large-scale training-data operators (dedup / similarity / text
analysis) the 100 TB north star calls for.

Authoring rules (keep these or the driver's hash compare breaks):
 - alias every computed column IDENTICALLY in Spark and SQL
 - round every float aggregate (both sides) — fp summation order differs
 - ALWAYS round via scale-then-divide (round(x * 10^n) / 10^n), never
   round(x, n): the two engines' fixed-scale rounding disagrees on
   half-way values (Spark BigDecimal half-up vs DuckDB's scaled
   std::round) — bit twice (v_ma3, ABC revenue) before this rule
 - cast DuckDB COUNT/SUM of ints to BIGINT (sum(int) is HUGEINT there)
 - no raw timestamps in output — format to string or extract ints
 - explicit null ordering + deterministic tie-breaks on every sort
   (SURVEY §2.4 D3)

Layout: every entry lives in the module of its family — ``relational``,
``events``, ``streaming``, ``text``, ``dedup``, ``embedding``,
``sketch``, ``multimodal`` — and registers through ``shared.q``. A
helper used by one family lives in that family's module; helpers two or
more families use live in ``plans/shared.py``. ``INVENTORY`` below is
the one place the inventory order lives: ``QUERIES`` and ``ORACLE``
follow it, and so do the driver window (``__spark_entry__``) and the
bench order. A new entry goes into its family module and is appended to
``INVENTORY``; import fails while the two disagree.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import dedup, embedding, events, multimodal, relational, sketch, streaming, text  # noqa: F401
from .shared import REGISTERED_ORACLE, REGISTERED_QUERIES, q  # noqa: F401

INVENTORY: tuple[str, ...] = (
    "pricing_summary",
    "revenue_by_nation",
    "orders_without_lineitems",
    "big_spender_segments",
    "part_name_split",
    "part_name_vocabulary",
    "brand_surrogate_keys",
    "all_company_names",
    "busiest_order_month",
    "longest_ship_delay",
    "order_growth_by_year",
    "top_orders_per_priority",
    "order_stats_rollup",
    "order_status_grouping_sets",
    "returnflag_status_pivot",
    "hourly_event_stats",
    "stream_hourly_event_stats",
    "stream_dedup_event_stats",
    "latest_event_per_user_type",
    "segment_balance_deciles",
    "stream_purchase_click_join",
    "rolling_weekly_revenue",
    "doc_stratified_sample",
    "user_sessions",
    "doc_token_stats",
    "doc_bpe_token_counts",
    "doc_split_counts",
    "doc_tfidf_top_terms",
    "doc_pack_chunks",
    "language_profile",
    "doc_simhash",
    "doc_winnow_fingerprints",
    "dedup_docs_exact",
    "doc_minhash_signatures",
    "near_dup_pairs",
    "near_dup_pairs_char",
    "near_dup_clusters",
    "embedding_cosine_topk",
    "embedding_ann_bucketed",
    "label_centroid_profile",
    "multimodal_decode",
    "embedding_ivf_assign",
    "embedding_near_dup_pairs",
    "event_props_json",
    "order_price_quantiles",
    "purchase_asof_click",
    "customer_order_cohorts",
    "simhash_dup_groups",
    "simhash_query_neighbors",
    "purchase_click_window_counts",
    "doc_quality_gate",
    "doc_language_id",
    "sliding_event_counts",
    "user_session_spans",
    "customer_scd2_segments",
    "embedding_kmeans_clusters",
    "brand_metric_unpivot",
    "customers_no_urgent_notin",
    "bulky_orders_vs_customer_avg",
    "segment_acctbal_ranks",
    "embedding_norm_profile",
    "doc_leading_tokens",
    "ship_calendar_profile",
    "purchase_click_user_recon",
    "doc_frequent_long_tokens",
    "part_name_fuzzy_neighbors",
    "source_lang_nullsafe_recon",
    "order_priority_status_cube",
    "source_lang_map_roundtrip",
    "event_props_variant_hist",
    "doc_fixed_chunks_udtf",
    "hourly_event_spine_filled",
    "training_sample_assembly",
    "user_event_locf_fill",
    "order_due_calendar",
    "doc_token_cms_topk",
    "purchase_click_cogroup_stats",
    "doc_weighted_sample",
    "embedding_ivf_topk",
    "lateral_top_suppliers",
    "event_value_anomalies",
    "user_funnel_counts",
    "user_weekly_retention",
    "doc_source_capped_sample",
    "doc_bigram_counts",
    "doc_normalization_profile",
    "doc_bigram_collocations",
    "full_priority_coverage_customers",
    "customer_rfm_segments",
    "order_price_histogram",
    "doc_contamination_overlap",
    "doc_repetition_profile",
    "corpus_zipf_curve",
    "event_transition_matrix",
    "event_interarrival_stats",
    "event_hourly_ohlc",
    "brand_type_listing",
    "events_null_profile",
    "embedding_quantization_error",
    "doc_balanced_lang_sample",
    "stream_enriched_event_stats",
    "priority_price_dispersion",
    "lang_source_chisq",
    "status_priority_entropy",
    "custkey_ancestry_depths",
    "rolling_distinct_users",
    "order_price_winsorized",
    "event_time_rollup",
    "suppliers_with_orders_exists",
    "orders_vs_global_avg",
    "customer_page_two",
    "priority_price_trend",
    "event_user_bitmap_distinct",
    "priority_geomean_price",
    "doc_denylist_scrub",
    "user_activity_islands",
    "stream_purchase_click_outer",
    "user_value_ewma",
    "doc_tfidf_cosine_pairs",
    "doc_jaccard_join_exact",
    "part_skyline_frontier",
    "order_price_benford",
    "stream_user_sessions",
    "orders_incremental_agg_merge",
    "customer_k_anonymity",
    "embedding_silhouette_by_label",
    "user_value_twap",
    "doc_overlap_chunks",
    "priority_customer_multiset",
    "user_value_lag_features",
    "lang_target_encoding_loo",
    "orders_partition_checksums",
    "part_abc_classification",
    "event_segment_pit_join",
    "lang_source_mutual_info",
    "doc_bigram_perplexity",
    "event_value_psi",
    "ab_test_purchase_lift",
    "order_price_woe_bins",
    "brand_basket_rules",
    "customer_supplier_grid_join",
    "doc_bm25_search",
    "purchase_attribution_last_touch",
    "brand_copurchase_pagerank",
    "event_dow_seasonal_anomalies",
    "signup_purchase_latency",
    "brand_copurchase_triangles",
    "peak_concurrent_users_daily",
    "event_path_trigrams",
    "order_acctbal_spearman",
    "doc_negative_pairs",
    "nation_revenue_share",
    "event_seasonal_naive_backtest",
    "region_budget_allocation",
    "event_hourly_interpolation",
    "customer_golden_record",
    "customer_revenue_waterfall",
    "doc_feature_hashing",
    "daily_new_returning_users",
    "customer_revenue_gini",
    "embedding_ann_recall",
    "user_cohort_ltv_curve",
    "customer_linkage_scores",
    "customer_grid_density_clusters",
    "purchase_attribution_position",
    "doc_labeler_agreement_kappa",
    "nation_theil_decomposition",
    "event_value_cusum_changepoint",
    "user_survival_km",
    "doc_vocab_oov_rates",
    "customer_segment_mode_imputation",
    "ab_cuped_adjustment",
    "ab_did_estimate",
    "brand_price_index_laspeyres",
    "doc_rake_keyphrases",
    "event_rolling_median",
    "order_modern_sql_surface",
    "user_burstiness_profile",
    "event_reach_wilson_ci",
    "user_journey_edit_distance",
    "event_value_ks_test",
    "event_daily_acf",
    "ab_ratio_metric_delta",
    "open_order_aging_buckets",
    "brand_top_parts_with_ties",
    "incremental_near_dup",
    "corpus_mixture_weights",
    "doc_shard_assignment",
    "doc_curriculum_buckets",
    "embedding_matryoshka_truncation",
    "ab_srm_check",
    "doc_ngram_novelty",
    "near_dup_threshold_sweep",
    "nation_revenue_hhi",
    "stream_sliding_event_counts",
    "customer_l_diversity",
    "hybrid_rrf_search",
    "fd_violation_audit",
    "audience_overlap_matrix",
    "split_leakage_audit",
    "corpus_dedup_savings",
    "corpus_dup_segment_audit",
    "doc_segment_dedup_rewrite",
    "near_dup_keep_best",
    "doc_token_entropy",
    "order_price_bootstrap_ci",
    "user_value_holt_forecast",
    "orders_zorder_locality",
    "lsh_recall_vs_exact",
    "nation_revenue_trend_ols",
    "embedding_dimension_profile",
    "lang_id_confusion",
    "quality_dup_interaction",
    "near_dup_containment_pairs",
    "doc_padding_waste_by_bucketing",
    "embedding_semantic_dup_pairs",
    "embedding_semantic_dedup_survivors",
    "doc_dsir_importance_sample",
    "near_dup_clusters_twophase",
    "doc_quality_score_auc",
    "embedding_pca_top_component",
    "event_kmv_user_days",
    "audience_kmv_jaccard",
    "embedding_pq_adc_topk",
    "customer_bloom_prefilter",
    "price_histogram_quantiles",
    "doc_bpe_phrase_merges",
    "quantity_shape_moments",
    "embedding_ivfpq_topk",
    "customer_t_closeness",
    "events_reservoir_sample",
    "events_embargo_split",
    "orders_custkey_skew_profile",
    "doc_bpe_encode_lengths",
    "doc_quality_calibration",
    "curation_pipeline_survivors",
    "curation_keepbest_survivors",
    "stream_running_user_totals",
    "event_user_hll_distinct",
    "orders_incremental_join_merge",
    "lineitem_selfjoin_size_cms",
    "rolling_weekly_hll_users",
    "sketch_rollup_report",
    "multimodal_feature_topk",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_header_decode",
    "doc_token_cms_sharded_merge",
    "doc_token_cms_mixed_depth_merge",
    "doc_segment_dedup_incremental",
)


def _check_inventory() -> None:
    """Raise unless every declared name is registered exactly once and
    every registered name is declared."""
    declared = set(INVENTORY)
    twice = sorted(n for n, c in Counter(INVENTORY).items() if c > 1)
    missing = [n for n in INVENTORY if n not in REGISTERED_QUERIES]
    undeclared = [n for n in REGISTERED_QUERIES if n not in declared]
    if twice or missing or undeclared:
        raise RuntimeError(
            f"INVENTORY and the registered entries disagree: declared twice {twice}, "
            f"declared but not registered {missing}, registered but not declared {undeclared}"
        )


_check_inventory()

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: REGISTERED_QUERIES[n] for n in INVENTORY
}
ORACLE: dict[str, str] = {n: REGISTERED_ORACLE[n] for n in INVENTORY if n in REGISTERED_ORACLE}
