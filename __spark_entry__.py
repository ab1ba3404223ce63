"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship query (citation-graph density pipeline, G1 in
SURVEY.md §2.9, mapped onto the TPC-H-ish tables) at sf0.001.

`queries()` / `oracle_sql()` — one entry per implemented operator from
SURVEY.md §2; DuckDB-verified at sf0.01. Column names and dtypes are
aligned between both sides (aggregates cast to BIGINT, years to INT) so
the driver's order-insensitive value hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from citegraph_spark.plans import entry_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: density pipeline (G1) on the sf0.001 tables."""
    return entry_queries.QUERIES["graph_density"](spark, "/root/testdata/sf0.001")


# --- BEGIN GENERATED ROTATION (python tools/staleness.py sync) ---
# Derived from CORRECTNESS_r*.json + git-tree fingerprints; do not
# hand-edit. Head block = entries whose transitive code closure
# changed since the round-14 sweep (229 entries); then never-certified (0);
# then oldest-certification-first (cheap-first within a round).
_ROTATION = [
    'events_cohort_retention',
    'events_transitions',
    'events_click_attribution',
    'q19_disjunctive_filter',
    'grouping_sets_revenue',
    'events_funnel',
    'semi_join_active_parts',
    'events_gap_fill',
    'cube_flag_status',
    'q17_small_quantity_revenue',
    'text_lang_id',
    'window_rank_lag',
    'sample_weighted',
    'filter_project_pushdown',
    'tfidf_top_terms',
    'text_quality',
    'multi_join_region_revenue',
    'text_rolling_hash',
    'q3_unshipped_revenue',
    'range_join_events_orders',
    'text_stats',
    'q18_large_orders',
    'bpe_top_merges',
    'events_ewma',
    'graph_hyperball',
    'doc_novelty_trigrams',
    'dedup_prefix_filter',
    'dedup_incremental',
    'graph_effective_diameter_approx',
    'dedup_edit_distance',
    'sketch_mergeable_distinct',
    'pipeline_truncation_report',
    'corr_lineitem_measures',
    'text_zipf_fit',
    'events_seasonal_decompose',
    'dq_orders_checks',
    'shuffle_shard_stats',
    'sample_domain_mix',
    'graph_powerlaw_fit',
    'regression_price_on_qty',
    'q13_customer_distribution',
    'arrow_token_count',
    'csv_sink_roundtrip',
    'salted_join_event_nations',
    'events_sliding_window',
    'q16_supplier_part_counts',
    'q7_volume_shipping',
    'text_accent_fold',
    'gopher_quality_filter',
    'fixture_density',
    'heavy_hitters_mg',
    'q8_market_share',
    'dedup_simhash',
    'q9_product_profit',
    'sql_api_region_revenue',
    'approx_distinct_parts',
    'ngram_top_bigrams',
    'q2_min_cost_supplier',
    'q11_important_stock',
    'contamination_check',
    'dedup_embedding_cosine',
    'heavy_hitters_cms',
    'multimodal_features',
    'fixture_effective_diameter',
    'events_scd2_history',
    'fixture_hopplot',
    'similarity_topk_cosine',
    'doc_repetition_signals',
    'window_ntile_cume',
    'dedup_simhash_pairs',
    'multimodal_frames',
    'dedup_minhash_lsh',
    'percentile_prices',
    'graph_kcore',
    'dedup_ngram_jaccard',
    'approx_percentile_prices',
    'graph_scc',
    'scc_partition_gate',
    'graph_clustering_coefficient',
    'events_forecast_backtest',
    'dq_key_skew',
    'events_autocorr',
    'cdc_apply_changes',
    'events_decayed_counts',
    'dq_benford_first_digit',
    'events_cusum_changepoint',
    'events_user_entropy',
    'events_variant_props',
    'events_twap',
    'bootstrap_ci_daily_mean',
    'dq_psi_drift',
    'text_html_strip',
    'events_anomaly_iqr',
    'events_sessionize',
    'xml_sink_roundtrip',
    'ab_welch_ttest',
    'markov_next_event_eval',
    'parquet_schema_evolution',
    'chi2_flag_status',
    'events_dau_wau',
    'json_sink_roundtrip',
    'ab_mann_whitney',
    'text_js_divergence',
    'kmv_set_ops',
    'graph_temporal_reachability',
    'parquet_upsert_merge',
    'streaming_incremental_rollup',
    'parquet_partitioned_roundtrip',
    'text_pii_redact',
    'orc_sink_roundtrip',
    'events_inter_arrival',
    'doc_lm_surprisal',
    'graph_random_walks',
    'multimodal_audio',
    'motif_fanout_top',
    'tokenize_to_ids',
    'dedup_boilerplate_lines',
    'orders_open_backlog',
    'feature_hashing',
    'label_knn_agreement',
    'naive_bayes_lang',
    'events_session_window',
    'basket_lift_top',
    'graph_assortativity',
    'streaming_windowed_append',
    'mad_outlier_prices',
    'logreg_train_gate',
    'kmeans_quality_gate',
    'pca_power_gate',
    'q6_forecast_revenue',
    'running_total_orders',
    'anti_join_idle_customers',
    'hof_array_stats',
    'q14_promo_revenue',
    'null_safe_join_status',
    'events_top_users_per_type',
    'events_json_props',
    'q1_pricing_summary',
    'q22_global_sales_opportunity',
    'attr_join_customer_orders',
    'q15_top_supplier',
    'pipeline_end_to_end',
    'q12_ship_priority_class',
    'q4_order_priority',
    'customer_rfm_segments',
    'events_windowed_agg',
    'pack_sequences',
    'file_lineage_counts',
    'q10_returned_items',
    'events_kaplan_meier',
    'q5_local_supplier_volume',
    'graph_density',
    'double_vertex_join',
    'q20_part_promotion',
    'udtf_chunk_split',
    'fixture_motif_triangles',
    'streaming_dedup',
    'streaming_windowed',
    'q21_waiting_suppliers',
    'graph_out_degree',
    'streaming_stateful_counts',
    'graph_degree_distribution',
    'graph_snapshot_edge_count',
    'streaming_state_inspect',
    'scalar_functions_showcase',
    'streaming_sessionize',
    'streaming_session_window',
    'parquet_zorder_roundtrip',
    'streaming_enrich',
    'bucketed_join_roundtrip',
    'bloom_semi_join_revenue',
    'graph_adjacency',
    'streaming_join',
    'text_heaps_law',
    'similarity_ann_lsh',
    'graph_canonical_pairs',
    'loader_normalize_ids',
    'kmeans_embeddings',
    'graph_hopplot_d2',
    'multimodal_meta',
    'unpivot_part_measures',
    'sample_stratified',
    'split_train_test',
    'text_fingerprint',
    'distinct_flag_status',
    'intersect_customer_nations',
    'text_token_count',
    'heavy_hitters_exact',
    'events_hierarchical_rollup',
    'pivot_status_by_flag',
    'union_nation_keys',
    'outer_join_nation_presence',
    'dedup_exact',
    'except_all_supplier_flags',
    'orders_above_customer_avg',
    'rollup_returns',
    'revenue_concentration',
    'events_json_map_agg',
    'equidepth_histogram_prices',
    'fixture_betweenness',
    'events_moving_avg_time',
    'fixture_harmonic_centrality',
    'asof_join_events_orders',
    'bpe_train_merges',
    'winsorized_prices',
    'similarity_ivf',
    'stats_moments',
    'graph_closeness_sampled',
    'graph_matching_gate',
    'graph_mis_gate',
    'graph_betweenness_sampled',
    'coreset_kcenter',
    'similarity_pq',
    'graph_cc_star_gate',
    'graph_diameter_double_sweep',
    'graph_ktruss_gate',
    'graph_sssp',
    'skyline_parts',
    'graph_pagerank',
    'graph_mst_gate',
    'graph_ppr',
    'graph_link_prediction',
    'graph_hits',
    'graph_lpa',
    'similarity_ivf_trained',
    'dedup_clusters',
    'similarity_recall_gate',
    'graph_cocitation_triangles',
    'hyperball_accuracy_gate',
]
# --- END GENERATED ROTATION ---


def _rotated(d: dict) -> dict:
    """Serve the registry in certification-freshness order.

    The driver's per-round sweep checks the FIRST ~50 entries (by count
    or time budget), so ordering decides which driver certifications
    stay fresh. _ROTATION is GENERATED by `python tools/staleness.py
    sync` (and verified in-sync by tests/test_staleness.py): entries
    whose transitive code closure changed since the latest driver sweep
    come first (the freshness rule — no entry's last driver check may
    predate the code it runs), then never-certified entries, then
    everything else oldest-certification-first so staleness drains round
    by round. A full sweep is unaffected (same entries either way).

    Names present in the registry but missing from _ROTATION (an entry
    added without re-syncing — the test suite fails on that, but the
    driver may still run) are served FIRST: an unknown entry is by
    definition never-certified.
    """
    known = set(_ROTATION)
    fresh = sorted(n for n in d if n not in known)
    order = fresh + [n for n in _ROTATION if n in d]
    return {n: d[n] for n in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotated(dict(entry_queries.QUERIES))


def oracle_sql() -> dict[str, str]:
    return _rotated(dict(entry_queries.ORACLES))
