"""Query registry: every implemented operator exposes a named query
(spark, sf_dir) -> DataFrame plus, when SQL-expressible, a DuckDB
oracle SQL string with IDENTICAL column names/aliases.

This registry is the single source of truth for ``__spark_entry__.py``
(the driver's correctness harness), ``bench.py``, and the local test
suite — one place to add an operator, three consumers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None (rows-only check)
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, QuerySpec] = {}

# Driver-sampling rotation. The correctness harness samples the FIRST ~50
# entries of ``queries()`` in dict order, so registration order decides which
# queries earn a driver CORRECTNESS row each round. This list pins the front
# of that window explicitly instead of leaving it to module-import order.
# Queries whose plans changed since they were last sampled lead: the
# thirteen whose plan record moved when the fixed-point loops moved onto
# operators.iterate (connected components lost its per-round probe job;
# the k-core, Markov, PCA and linear-probe final rounds run in the
# terminal plan), then the previous window in its previous order: the
# r13 plan-touched queries (tpch_pricing_summary, probe calibration and
# the parallel triplog write; OPTIMIZATION_r13.md), the distrank
# global-window conversions, the r12 plan rewrites (graph long-id
# transport, ALS ratings layout), the dedup/ANN/k-means families and the
# earlier rounds' names. Queries pushed past the window keep full local
# coverage via tests/test_oracle_parity.py (bit-exact comparator, plan
# record) and the adversarial tiers (pytest -m adversarial).
ROTATION: list[str] = [
    "dedup_clusters_docs",
    "neardup_canonical_docs",
    "image_dedup_clusters",
    "embedding_dedup_clusters",
    "corpus_curation_funnel",
    "kcore_copurchase_suppliers",
    "markov_stationary_events",
    "embedding_top_eigvec",
    "embedding_top2_pca",
    "linear_probe_weights",
    "linear_probe_class_scores",
    "probe_calibration_brier",
    "probe_calibration_ece",
    "tpch_pricing_summary",
    "triplog_roundtrip_trips",
    "mann_whitney_events",
    "kruskal_wallis_events",
    "ks_test_events",
    "uplift_by_decile_events",
    "revenue_concentration_customers",
    "quantile_normalize_spend",
    "spearman_quantity_price",
    "ipw_ate_events",
    "ope_replay_events",
    "daily_revenue_forecast_eval",
    "pagerank_purchase_sinks",
    "als_supplier_recommendations",
    "pagerank_trade_graph",
    "pagerank_weighted_trade",
    "ppr_supplier_recommendations",
    "hits_purchase_graph",
    "trade_bfs_hops",
    "trade_cheapest_costs",
    "als_ranking_eval",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "embedding_neardup_pairs",
    "similar_docs_to_anchor",
    "semantic_dedup_prune",
    "kmeans_embeddings",
    "kmeans_silhouette_embeddings",
    "funnel_time_to_convert",
    "zipf_fit_tokens",
    "key_skew_diagnostics",
    "theil_sen_trend",
    "mdm_snm_candidate_pairs",
    "contrastive_negatives_docs",
    "target_encoding_orders",
    "gini_split_search_orders",
    "kfold_assignment_orders",
    "domain_tag_eval",
    "tfidf_top_terms",
    "nb_lang_confusion",
    "order_price_mad_outliers",
    "ab_test_events",
    "cuped_adjusted_ab",
    "kaplan_meier_customers",
    "assoc_rules_suppliers",
    "revenue_bootstrap_ci",
    "delta_dv_delete_orders",
    "delta_rename_customers",
    "attribution_multitouch_events",
    "delta_cdf_feed_orders",
    "rfm_segments_customers",
    "markov_attribution_events",
    "pii_detect_docs",
    "pii_redact_docs",
    "shapley_attribution_events",
    "cohort_ltv_customers",
    "adaboost_stumps_orders",
    "adaboost_eval_orders",
    "delta_hilbert_orders",
    "unigram_tokenize_words",
    "tpch_waiting_suppliers",
    "mv_rewrite_rollup_orders",
    "holt_winters_forecast",
    "gdpr_erasure_audit",
    "holt_recursive_sql_60d",
    "events_variant_paths",
    "itemcf_supplier_neighbors",
    "trimmed_winsor_price_stats",
    "unigram_tokenize_docs",
    "nelson_aalen_customers",
    "attribution_decay_position_events",
    "delta_partitioned_dv_orders",
    "textrank_keywords",
    "event_path_trigrams",
    "user_activity_streaks",
    "revenue_max_drawdown",
    "delta_generated_year_orders",
    "eb_shrunk_urgent_rates",
    "hybrid_rrf_search",
    "holt_linear_forecast",
    "geo_od_cell_flows",
    "geo_pickup_hotspots",
    "geo_radius_pairs_customers",
    "geo_nearest_hub",
    "supplier_daily_interpolate",
    "pit_customer_features_orders",
    "supplier_daily_gapfill",
    "lpa_copurchase_communities",
    "prefix_jaccard_pairs",
    "delta_mv_delete_rollup_orders",
    "events_ewma_spikes",
    "props_corrupt_audit",
    "pmi_collocations",
    "triangle_copurchase_suppliers",
    "delta_compact_orders",
    "crossdoc_repeated_spans",
    "crossdoc_span_scrub",
    "video_scene_cuts",
    "video_neardup_clips",
    "audio_neardup_clips",
    "bigram_lm_scores",
    "kmv_split_overlap",
    "user_retention_cohorts",
    "boilerplate_span_scrub",
    "audio_frame_features",
    "minhash_recall_audit",
    "fuzzy_contamination_docs",
    "bpe_tokenize_docs",
    "image_dhash_pairs",
    "delta_restore_nation",
    "conditional_counts_orders",
    "corpus_top_tokens",
    "csv_roundtrip_nation",
    "daily_vendor_revenue",
    "delta_time_travel_nation",
    "dq_rule_metrics",
    "enrich_lineitem_nations",
    "except_quarantine",
    "fk_null_audit",
    "frequent_customers",
    "freshness_gate_datasets",
    "gopher_quality_gates",
    "governance_gate_decision",
    "integrity_scorecard",
    "latest_partition_orders",
    "lifecycle_history_suppliers",
    "lifecycle_tally_suppliers",
    "mdm_candidate_pairs",
    "mdm_golden_records",
    "mdm_levenshtein_scores",
    "mdm_match_scores",
    "mdm_routing_counts",
    "mdm_scorecard",
    "orders_lineitem_reconciliation",
    "record_hashes_nation",
    "ri_gate_kept_by_supplier",
    "ri_gate_orphans",
    "salted_enrich_order_priorities",
    "scd2_current_customers",
    "scd2_history_customers",
    "scd2_rollback_current",
    "daily_vendor_revenue_sql",
    "validate_split_quarantine",
    "validate_split_metrics",
    "bloom_semijoin_lineitem",
    "scd2_verify_ok",
    "trade_flows_by_nation",
    "sql_workflow_checks",
    "delta_merge_upsert_nation",
    "delta_skipping_orders",
    "delta_partitioned_orders",
    "jsonl_roundtrip_documents",
    "orc_roundtrip_supplier",
    "delta_version_diff_nation",
    "delta_incremental_orders",
    "delta_zorder_orders",
    "delta_incremental_rollup_orders",
    "text_token_stats",
    "text_quality_scores",
    "text_langid_confusion",
    "token_length_histogram",
    "text_fingerprints",
    "domain_tags_docs",
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "containment_neardup_pairs",
    "minhash_lsh_pairs",
    "simhash_docs",
    "simhash_neardup_pairs",
    "shingle_df_histogram",
    "oph_minhash_pairs",
    "incremental_dedup_docs",
    "embedding_centroids_by_lang",
    "events_tumbling_stats",
    "events_sliding_stats",
    "events_user_sessions",
    "events_dedup_counts",
    "events_value_by_segment",
    "click_purchase_attribution",
    "events_delta_ingest",
    "media_payload_stats",
    "media_frame_counts",
    "media_features",
    "media_decoded_stats",
    "media_thumbnails",
    "orders_rollup_nation_year",
    "top_orders_per_customer",
    "orders_cube_priority_status",
    "parts_returned_both_flags",
    "nation_order_percentiles",
    "customer_order_gaps",
    "asof_customer_versions",
    "events_in_surge_windows",
    "supplier_rolling_revenue_7d",
    "customer_reach_by_nation",
    "order_price_outliers",
    "orders_priority_status_pivot",
    "orders_status_melt",
    "supplier_revenue_trend",
    "customer_balance_ranks",
    "orders_grouping_sets_audit",
    "split_assignment_orders",
    "stratified_sample_docs",
    "corpus_mixture_by_source",
    "split_contamination_docs",
    "weighted_sample_docs",
    "sequence_packing_bins",
    "corpus_shuffle_shards",
    "temperature_mixture_by_source",
    "split_drift_chi2",
    "bm25_search_topk",
    "token_budget_selection",
    "events_props_by_type",
    "events_sessions",
    "events_user_stats_salted",
    "events_funnel_signup_purchase",
    "event_transition_matrix",
    "events_rate_anomaly",
    "profile_orders",
    "orders_benford_audit",
    "cdc_apply_customers",
    "ngram_contamination_docs",
    "doc_repetition_metrics",
    "scrub_gate_docs",
    "doc_chunks_rag",
    "unigram_lm_scores",
    "chunk_dedup_stats",
    "bpe_merge_candidates",
    "dsir_importance_docs",
    "kmv_distinct_tokens",
    "cms_heavy_hitters",
    "histogram_quantiles_orders",
    "hll_distinct_tokens",
    "supplier_copurchase_pairs",
    "delta_dv_update_orders",
    "anova_price_by_priority",
    "haar_decompose_revenue",
    "ab_bootstrap_diff_ci",
    "pareto_skyline_parts",
    "revenue_acf_lags",
    "mi_order_priority_status",
    "psi_split_drift_orders",
    "modularity_copurchase_communities",
    "feature_auc_screen_orders",
    "harmonic_centrality_suppliers",
    "delta_vacuum_orders",
    "histogram_auc_orders",
    "conductance_copurchase_communities",
    "phrase_search_docs",
    "srm_check_events",
    "holt_per_supplier_forecast",
    "token_entropy_docs",
    "croston_per_supplier_demand",
    "rdd_quantity_discount",
    "annotator_kappa_langid",
    "mcnemar_rules_orders",
    "assortativity_copurchase",
    "k_anonymity_audit_customers",
    "jdbc_roundtrip_nation",
    "delta_history_audit_orders",
    "pipeline_run_audit",
    "lineage_record_audit",
    "json_metrics_roundtrip",
    "hll_wau_events",
    "stl_decompose_revenue",
    "growth_accounting_weekly",
    "conformal_forecast_interval",
    "media_byte_histogram_arrow",
    "auc_bootstrap_ci_orders",
    "proximity_search_docs",
    "gains_curve_orders",
    "feature_hashing_collisions",
    "runs_test_revenue",
    "path_edit_distance_pairs",
    "cramers_v_orders",
    "bh_fdr_events",
    "bloom_decontamination_docs",
    "tpch_waiting_suppliers_strict",
    "lineitem_correlations",
    "revenue_seasonal_dow",
    "customer_spend_deciles",
    "tpch_shipping_priority",
    "tpch_regional_market_share",
    "tpch_promotion_effect",
    "tpch_revenue_change",
    "tpch_top_supplier",
    "tpch_volume_shipping",
    "tpch_parttype_profit",
    "tpch_returned_items",
    "tpch_local_supplier_volume",
    "tpch_min_cost_supplier",
    "tpch_important_stock",
    "tpch_excess_stock",
    "did_uplift_events",
    "tpch_shipmode_priority",
    "events_cusum_changepoint",
    "events_dau_wau_stickiness",
    "delta_constraint_gate_orders",
    "delta_clone_diverge_nation",
    "tpch_priority_late_ship",
    "tpch_customer_distribution",
    "tpch_parts_supplier_counts",
    "tpch_small_quantity_revenue",
    "tpch_large_volume_customers",
    "tpch_brand_quantity_revenue",
    "tpch_promo_part_suppliers",
    "tpch_dormant_rich_customers",
    "linkpred_copurchase_suppliers",
    "feature_scaling_customers",
]



def query(name: str, oracle: str | None = None, bench: bool = False) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco


def registry() -> dict[str, QuerySpec]:
    # Import side-effect modules on first use so every @query registers.
    from nyc_taxi_data_engineering_spark.queries import _load_all

    _load_all()
    ordered = {n: _REGISTRY[n] for n in ROTATION if n in _REGISTRY}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered


def all_queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in registry().items()}


def all_oracles() -> dict[str, str]:
    return {k: v.oracle for k, v in registry().items() if v.oracle is not None}


def bench_queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in registry().items() if v.bench}
