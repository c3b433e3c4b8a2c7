"""Render OPERATORS.md — the live operator inventory, generated from the
registry so it can never drift from the code.

Usage, from the checkout root: PYTHONPATH=. python tools/op_inventory.py
(writes the OPERATORS.md of the checkout the script lives in).
"""

from __future__ import annotations

import os

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md")

SECTIONS = [
    ("Core merge dataflow (SURVEY §2.A)", [
        "merge_full", "merge_cdc_apply", "join_null_safe_eq", "join_composite_key",
        "change_detect_intersect", "update_changed", "update_suppressed_all_key",
        "insert_unmatched", "delete_unmatched", "softdelete_unmatched",
        "keep_unmatched", "target_filter_scope", "badkey_rank", "output_audit",
        "threshold_guard", "lastupdate_prop", "debug_dry_run", "merge_scd2",
        "merge_scd2_multibatch", "merge_schema_evolution", "merge_multi_source",
        "merge_broadcast_delta", "merge_version_diff", "merge_sparse_patch",
        "merge_upsert_latest",
    ]),
    ("Generator / lifecycle (SURVEY §2.B)", [
        "split_csv", "ident_normalize", "schema_introspect",
        "schema_align_fullouter", "validate_params", "string_agg_gen",
        "dynamic_exec", "txn_commit_rollback", "rowcount_agg", "error_raise",
        "tally_generate",
    ]),
    ("Storage & scale patterns", [
        "scan_parquet", "scan_csv", "scan_json", "scan_orc",
        "sink_partitioned_parquet", "sink_audit_append", "json_parse_quarantine",
        "scan_csv_quarantine", "merge_partition_pruned", "table_maintenance",
        "join_bucketed_colocated", "join_salted_skew", "join_bloom_prefilter",
        "sink_jsonl_shards",
        "scan_stats_pruned", "table_zorder_layout", "table_profile",
        "validate_constraints", "table_time_travel",
    ]),
    ("Relational surface", [
        "project_subset", "filter_predicate", "join_semi", "join_anti",
        "join_cross", "join_asof", "join_asof_tolerance", "join_fuzzy_name", "join_range_binned", "join_interval_overlap",
        "agg_action_counts", "agg_grouping_sets", "agg_distinct",
        "agg_percentiles", "agg_approx", "agg_outlier_rank", "agg_mode",
        "agg_skew_profile", "agg_histogram", "agg_hll_native", "agg_cms_sketch", "pivot_unpivot", "pivot_wide", "subquery_scalar",
        "tpch_q1", "tpch_q3", "tpch_q4_style", "tpch_q5", "tpch_q6",
        "tpch_q7", "tpch_q8", "tpch_q10", "tpch_q13", "tpch_q14",
        "tpch_q16_style", "tpch_q18", "tpch_q19_style", "tpch_q22_style",
        "tpch_q2_style", "tpch_q9_style", "tpch_q11_style", "tpch_q12_style",
        "tpch_q15", "tpch_q17_style", "tpch_q20_style", "tpch_q21_style",
    ]),
    ("Functions", [
        "fn_string_ops", "fn_null_ops", "fn_conversion_ops", "fn_datetime_ops",
        "fn_window_rownum", "fn_window_frames", "fn_window_range_frame",
        "fn_array_ops", "fn_struct_map_ops",
        "fn_regexp_ops", "fn_conditional_ops", "fn_math_ops", "fn_bitwise_ops", "fn_try_cast_ops", "fn_url_ops", "fn_setop_intersect", "fn_setop_unionall", "fn_setop_except",
    ]),
    ("Dedup (SURVEY §2.D)", [
        "dedup_soft_weights",
        "dedup_exact", "dedup_minhash", "dedup_fuzzy", "dedup_simhash",
        "dedup_ngram_jaccard", "dedup_embedding", "dedup_cluster_survivors",
        "dedup_incremental", "dedup_embedding_clusters", "dedup_containment",
    ]),
    ("Similarity search (SURVEY §2.D)", [
        "topk_similarity", "ann_lsh", "ann_ivf", "ann_pq", "embedding_quantize",
        "bitext_margin_mine",
    ]),
    ("Text analysis (SURVEY §2.D)", [
        "text_stats", "text_tokens", "text_quality", "text_langid", "text_lid_confusion",
        "text_fingerprint", "text_ngram_profile", "json_extract_props", "sample_stratified",
        "pipeline_training_mix", "text_repetition", "text_pii_scrub",
        "pipeline_sequence_pack", "pipeline_quality_filter", "pipeline_dataset_card",
        "text_decontaminate", "pipeline_domain_mix", "pipeline_shard_shuffle",
        "text_line_dedup", "text_lm_score", "pipeline_source_cap",
        "text_bm25_topk", "bpe_pair_counts", "bpe_train_rounds", "pipeline_train_split",
    ]),
    ("Curation & analysis (SURVEY §2.D, r4)", [
        "pipeline_chunk_split", "pipeline_repeat_upsample",
        "pipeline_curriculum_order", "agg_reservoir_sample",
        "text_markup_strip", "ann_range_search", "agg_corr_pairs",
        "text_keyword_tfidf",
        "events_anomaly_mad", "text_boilerplate_frac", "retrieval_rrf_fusion",
        "agg_token_gini", "pipeline_dataset_diff", "events_top_paths",
        "text_cooccurrence_window",
    ]),
    ("Graph / time-series / featurization (SURVEY §2.D, r4 batch 2)", [
        "graph_cooccurrence_edges", "graph_cooccurrence_capped", "graph_degree_profile",
        "graph_triangle_count", "graph_pagerank_fixedpoint",
        "timeseries_resample_ffill", "timeseries_interpolate_linear",
        "events_gap_islands", "events_ewma_lagchain",
        "events_attribution_lasttouch",
        "feature_hash_bucket", "tokenizer_vocab_coverage",
        "embedding_normalize_project", "text_syllable_profile",
        "pipeline_interleave_sources", "scan_text_lines",
    ]),
    ("Sketches, iterative ML & scale patterns (SURVEY §2.D-E, r4 batch 3)", [
        "agg_kmv_distinct", "embedding_kmeans_fixedpoint",
        "join_hybrid_skew", "window_ntile_buckets", "scan_jsonl_gz",
        "agg_bitmap_distinct", "join_point_in_time", "scan_schema_merge",
    ]),
    ("Statistics, spatial & warehouse (SURVEY §2.E, r5 batch 1)", [
        "agg_rollup_cube", "agg_linear_fit", "agg_weighted_median",
        "agg_variance_exact", "window_running_distinct",
        "window_cumulative_share", "window_rolling_distinct",
        "fn_window_distribution", "text_simpson_diversity",
        "timeseries_changepoint_cusum", "join_spatial_grid",
        "graph_connected_components", "graph_jaccard_neighbors",
        "merge_deletion_vectors", "join_asof_nearest",
    ]),
    ("JSON, phonetic ER, tokenizer & streaming additions (r5 batch 2)", [
        "fn_json_table", "dedup_phonetic_key", "pipeline_mix_temperature",
        "pipeline_bpe_apply", "scan_binary_files",
        "stream_outer_join_watermark", "events_abtest_lift", "events_funnel_steps",
        "text_substring_dup_spans", "fn_xml_xpath", "agg_listagg_ordered",
    ]),
    ("Graph cores, basket mining, kNN & ranking eval (r6 batch 3)", [
        "graph_kcore_peel", "orders_basket_lift", "events_rfm_segments",
        "timeseries_seasonal_profile", "spatial_knn_grid",
        "retrieval_ndcg_curve", "graph_bipartite_projection",
        "graph_bfs_layers", "window_streak_longest",
    ]),
    ("Clustering coeff, DBSCAN, cadence & funnel latency (r6 batch 4)", [
        "graph_clustering_coefficient", "spatial_dbscan_core",
        "events_inter_arrival", "events_funnel_latency",
        "text_hapax_ratio", "timeseries_mom_growth",
    ]),
    ("Sorted-neighborhood ER, cohort LTV, arg-extrema (r6 batch 5)", [
        "dedup_sorted_neighborhood", "orders_cohort_ltv", "fn_agg_argminmax",
    ]),
    ("Forward as-of, LSH recall certification (r6 batch 6)", [
        "join_asof_forward", "dedup_lsh_recall_eval",
    ]),
    ("Readability grade, assortativity, modularity (r6 batch 7)", [
        "text_readability_fk", "graph_assortativity", "graph_modularity_score",
    ]),
    ("Change profile, ABC-XYZ, autocorrelation (r6 batch 8)", [
        "merge_column_change_profile", "orders_abc_xyz_class",
        "timeseries_acf_lags",
    ]),
    ("Engagement, cadence, vocab growth & seasonal strength (r7 batch 1)", [
        "window_dau_mau_stickiness", "orders_reorder_interval",
        "text_vocab_growth", "timeseries_seasonal_strength",
    ]),
    ("Interval stabbing, code detect, cadence CV, cross-source overlap (r7 batch 2)", [
        "window_interval_stabbing", "text_code_detect",
        "events_user_cadence_cv", "dedup_cross_source_matrix",
        "window_calendar_densify",
    ]),
    ("Seasonal-naive MASE, CN link prediction, temporal validity & length buckets (r8 batch 1)", [
        "orders_seasonal_naive_mase", "graph_link_predict_cn",
        "join_temporal_validity", "pipeline_length_bucket_stats",
    ]),
    ("Tier migration, fulfillment latency, shingle novelty & seasonal MAD (r8 batch 2)", [
        "orders_cust_migration_matrix", "orders_fulfillment_latency",
        "text_shingle_novelty_curve", "timeseries_seasonal_mad_outliers",
    ]),
    ("Density smoothing, type lift, trigram cosine & pattern match (r8 batch 3)", [
        "spatial_density_smooth", "events_type_lift_matrix",
        "text_source_trigram_cosine", "events_pattern_match_counts",
    ]),
    ("Component profile, discount OLS, dwell buckets & null-aware anti join (r8 batch 4)", [
        "graph_component_size_profile", "orders_discount_elasticity",
        "events_dwell_bucket_profile", "join_anti_null_aware",
    ]),
    ("Order-size histogram, weekday heatmap, stopword profile & touch bookends (r8 batch 5)", [
        "orders_order_size_distribution", "events_weekday_hour_heatmap",
        "text_stopword_profile", "window_first_last_touch",
    ]),
    ("Flag-priority matrix, session KPIs, quality grid & edge-weight histogram (r8 batch 6)", [
        "orders_returnflag_priority_matrix", "events_session_duration_profile",
        "text_length_vs_quality_grid", "graph_edge_weight_histogram",
    ]),
    ("Coverage histograms, value bands, workload Pareto & char classes (r8 batch 7)", [
        "supplier_part_coverage_profile", "events_value_percentile_bands",
        "supplier_workload_skew", "text_char_class_profile",
    ]),
    ("Trade matrix, pricing grid, Benford screen & Fano burstiness (r8 batch 8)", [
        "orders_nation_trade_matrix", "lineitem_discount_tax_grid",
        "events_benford_digit_profile", "events_burstiness_fano",
    ]),
    ("FK audit, brand-audience Jaccard, balance grid & word lengths (r8 batch 9)", [
        "audit_fk_orphans", "orders_brand_audience_jaccard",
        "customer_balance_activity_grid", "text_word_length_profile",
    ]),
    ("Peak concentration, weekday intake, length drift & vendor risk (r8 batch 10)", [
        "events_peak_concentration", "orders_weekday_value_profile",
        "text_source_length_drift", "supplier_nation_acctbal_profile",
    ]),
    ("Mix shift, daily co-occurrence, LTV bands & vocab overlap (r9 batch 1)", [
        "orders_monthly_mix_shift", "events_type_cooccurrence_daily",
        "customer_nation_ltv_profile", "text_source_vocab_overlap",
    ]),
    ("SLA bands, type entropy, Zipf grid & lead-time trend (r10 batch 1)", [
        "orders_priority_sla_breach", "events_user_type_entropy",
        "text_zipf_rank_profile", "supplier_lead_time_trend",
    ]),
    ("Price position, segment matrix, centroid spread & length ratio (r11 batch 1)", [
        "part_brand_price_position", "customer_segment_nation_matrix",
        "embedding_label_centroid_spread", "text_cross_lang_length_ratio",
    ]),
    ("Size-type price matrix, quantile bands, balance mix & quality curve (r12 batch 1)", [
        "part_size_type_price_matrix", "events_value_type_quantile_bands",
        "supplier_balance_band_mix", "documents_quality_length_curve",
    ]),
    ("Multimodal (SURVEY §2.D)", [
        "multimodal_columns", "multimodal_array_sim", "multimodal_binary",
        "multimodal_resize", "multimodal_frame_sample",
    ]),
    ("Streaming (SURVEY §2.C)", [
        "window_tumbling", "window_sliding", "window_session",
        "watermark_late_drop", "stream_merge_foreachbatch", "funnel_conversion", "rollup_incremental",
        "stream_stateful_counts", "stream_dedup_watermark", "stream_stream_join",
        "stream_session_window", "window_retention_cohort",
        "events_transition_counts", "stream_scd2_foreachbatch",
        "stream_hll_rollup",
    ]),
]


def main() -> None:
    from sparkmerge.queries import registry

    reg = registry()
    listed = {op for _, ops in SECTIONS for op in ops}
    missing = sorted(set(reg) - listed)
    unknown = sorted(listed - set(reg))
    if unknown:
        raise SystemExit(f"OPERATORS.md lists unregistered ops: {unknown}")

    n_oracle = sum(1 for s in reg.values() if s.oracle is not None)
    lines = [
        "# OPERATORS — live registry inventory",
        "",
        f"Generated by `tools/op_inventory.py` from `sparkmerge/queries/`: "
        f"**{len(reg)} operators**, {n_oracle} DuckDB-hash-checked, "
        f"{len(reg) - n_oracle} rows-only (genuinely non-SQL-expressible).",
        "",
    ]
    for title, ops in SECTIONS:
        lines += [f"## {title}", "", "| op | oracle | description |", "| --- | --- | --- |"]
        for op in ops:
            s = reg[op]
            kind = "hash" if s.oracle is not None else "rows-only"
            lines.append(f"| `{op}` | {kind} | {s.description} |")
        lines.append("")
    if missing:
        lines += ["## Unsectioned (add to SECTIONS)", ""]
        lines += [f"- `{op}`" for op in missing]
    with open(OUT, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote OPERATORS.md: {len(reg)} ops, {n_oracle} hash-checked; "
          f"missing from sections: {missing or 'none'}")


if __name__ == "__main__":
    main()
