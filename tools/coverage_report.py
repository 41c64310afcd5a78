"""Generate COVERAGE.md — the SURVEY §2 op-id -> implementation matrix.

Run: python tools/coverage_report.py  (writes COVERAGE.md at the repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SURVEY_SECTIONS = {
    "§2.A sources/sinks": "src_parquet src_csv src_json src_text snk_parquet snk_csv snk_sqlite src_stream_file src_xbrl_etl",
    "§2.B projection/filter": "prj_select prj_computed prj_cast flt_pred flt_in flt_between flt_like flt_null cond_case",
    "§2.C joins": "join_inner join_broadcast join_left join_right join_full join_semi join_anti join_cross join_multikey join_theta join_self join_asof join_asof_tolerance join_interval",
    "§2.D aggregations": "agg_global agg_group agg_count_distinct agg_multi_distinct agg_approx_distinct agg_having agg_rollup agg_cube agg_grouping_sets agg_collect agg_stats agg_percentile agg_percentile_approx agg_minmax_by agg_pivot",
    "§2.E windows": "win_rownum win_rank win_ntile win_dist win_lag_lead win_running win_moving win_range_frame win_first_last win_topk_group",
    "§2.F sorts/top-k": "sort_multi sort_nulls topk_global",
    "§2.G set ops": "set_union_all set_union set_intersect set_except set_bag_ops",
    "§2.H scalar functions": "fn_str_basic fn_str_regex fn_str_search fn_date_extract fn_date_trunc fn_date_arith fn_ts_convert fn_math fn_null fn_arr_basic fn_arr_explode fn_arr_hof fn_map fn_json",
    "§2.I streaming": "stream_tumbling stream_sliding stream_session stream_watermark stream_dedup stream_stateful stream_static_join stream_stream_join",
    "§2.J LLM pipeline": "dedup_exact dedup_near sim_jaccard sim_cosine_topk sim_knn text_tokenize text_tf text_ngram text_lang text_sentiment mm_join",
    "§2.K UDF surface": "udf_python udf_pandas_scalar udf_pandas_agg udf_grouped_map udtf_python udf_arrow_map udf_cogrouped_map",
    "Beyond SURVEY — similarity/ANN/multimodal": "ann_ivf embed_neardup embed_quantize mm_features dedup_simhash dedup_clusters",
    "Beyond SURVEY — text curation": "text_langid text_quality text_tokens_bpe text_fingerprint text_tfidf seq_pack curation_pipeline",
    "Beyond SURVEY — SQL surface parity": "sql_cte sql_subquery_scalar sql_subquery_in sql_exists sql_derived_table sql_window sql_tpch_q2 sql_tpch_q3 sql_tpch_q4 sql_tpch_q5 sql_tpch_q6 sql_tpch_q7 sql_tpch_q10 sql_tpch_q12 sql_tpch_q13 sql_tpch_q14 sql_tpch_q15 sql_tpch_q17 sql_tpch_q18 sql_tpch_q19 sql_tpch_q22",
    "Beyond SURVEY — pipeline staples": "sample_fraction sample_stratified fn_na_ops profile_table upsert_latest src_range agg_unpivot agg_freq_items quality_rules",
    "Beyond SURVEY — XBRL/SECDB build": "xbrl_filings xbrl_supersede xbrl_metrics build_secdb",
    "Beyond SURVEY — embeddings/multimodal r2": "embed_centroid mm_resize mm_frame_sample",
    "Beyond SURVEY — SQL surface parity r3": "sql_tpch_q1 sql_tpch_q8 sql_tpch_q9 sql_tpch_q11 sql_tpch_q16 sql_tpch_q20 sql_tpch_q21",
    "Beyond SURVEY — scale/curation r3": "join_skew_salted decontaminate mix_domains dedup_incremental ann_lsh embed_pca embed_kmeans agg_hll_sketch text_normalize",
    "Beyond SURVEY — time-series/layout r3": "events_sessionize rollup_timeseries rollup_gapfill snk_partitioned funnel_events retention_cohort anomaly_zscore win_ewma agg_mode",
    "Beyond SURVEY — warehouse/retrieval r3": "join_fuzzy concurrent_intervals twap scd2_history agg_histogram text_bm25 text_chunk agg_mad event_transitions join_dpp stream_foreach_batch",
    "Beyond SURVEY — warehouse/curation r4": "cdc_upsert text_unigram_logprob invert_index attribution_last_touch conversion_window yoy_growth winsorize_group dedup_shingle win_running_distinct rolling_active_users event_path_topk customer_rfm part_abc_pareto interval_coverage join_bucketed",
    "Beyond SURVEY — basket/quality/retrieval r5": "invert_index_sharded basket_copurchase assoc_rules graph_triangles snapshot_diff fk_integrity data_profile tfidf_topk minhash_sig join_salted ts_ohlc text_pii_scrub sql_recursive_cte sql_lateral sql_pivot win_streak events_entropy seasonal_decompose_ma percent_of_total agg_regression join_range_binned fn_bitwise agg_listagg sql_group_by_all snk_orc audit_benford",
    "Beyond SURVEY — LSH/statistics/audit r6": "lsh_candidates text_pmi_bigrams agg_skew_kurt skyline_2d interval_islands anomaly_iqr date_spine agg_grouping_id fn_try_cast events_dow_hour embed_kmeans_lloyd",
    "Beyond SURVEY — graph/curation/warehouse r6b": "dedup_clusters_exact graph_pagerank text_repetition text_entropy_tokens text_ttr corpus_ngram_topk win_drawdown ts_vwap orders_open_backlog cohort_ltv agg_gini agg_hhi join_nearest_ts events_burst scd2_asof_lookup sql_qualify sql_unpivot sql_filter_clause agg_bitmap_distinct data_skew_report",
    "Beyond SURVEY — SQL surface/warehouse statistics r6c": "sql_any_all sql_distinct_on agg_corr_matrix agg_weighted_median ts_bollinger new_vs_returning revenue_bridge customer_churn audit_dup_payments purchase_gaps part_xyz_cv",
    "Beyond SURVEY — windows/mixing/series r6d": "win_nth_value mix_temperature agg_bool ts_autocorr embed_norm text_compressibility sql_values_inline sql_order_by_all",
    "Beyond SURVEY — ML prep/governance r6e": "feat_onehot feat_scale split_train_test audit_k_anonymity mix_apply graph_khop ts_cross_corr",
    "Beyond SURVEY — similarity/binning/overlap r6f": "ann_lsh_exact sim_containment feat_quantile_bin dedup_histogram events_type_overlap",
    "Beyond SURVEY — XBRL analytics (golden-certified) r6g": "xbrl_q_trend xbrl_q_ratios xbrl_q_restatement xbrl_region_mix",
    "Beyond SURVEY — chains/pagination r6h": "markov_stationary sql_offset_fetch",
    "Beyond SURVEY — geospatial grid r6i": "geo_neighbor_join geo_grid_density",
    "Beyond SURVEY — windows/distributions r6j": "win_reset_cumsum orders_linecount_dist corpus_zipf_slope win_moving_median win_fill_forward",
    "Beyond SURVEY — exact sketches r6k": "cms_sketch bloom_build sample_bottomk feat_hashing",
    "Beyond SURVEY — layout/language r6l": "layout_zorder corpus_char_trigrams",
    "Beyond SURVEY — IVM/fingerprints r6m": "ivm_delta_agg result_fingerprint win_topk_ties",
    "Beyond SURVEY — inferential statistics r6n": "conversion_rate_ci abtest_ztest survival_km",
    "Beyond SURVEY — recommendations/evaluation r6o": "cf_item_similarity lsh_eval simhash_pairs",
    "Beyond SURVEY — novelty/econ/chi2 r6p (round-8 queue)": "text_novelty price_elasticity chi2_independence sla_attainment top_decile_share brand_transition trade_balance anova_dow vocab_growth user_lifetime_dist sla_percentiles peak_to_avg error_rate_daily brand_breadth first_touch_mix",
    "Beyond SURVEY — curation/dedup/mixing r7a": "doc_quality_gate token_fertility_by_lang text_hapax_ratio source_lang_matrix chunk_dedup_share dedup_prefix_groups dedup_keep_best source_vocab_overlap mix_epoch_upsample",
    "Beyond SURVEY — embeddings/ANN r7b": "embed_pq_codes ann_ivf_assign ann_pq_adc_topk embed_matryoshka_truncate embed_coreset",
    "Beyond SURVEY — time-series/trend r7c": "ts_rolling_corr ts_rsi ts_trend_slope events_dispersion users_cumulative orders_seasonality_index",
    "Beyond SURVEY — warehouse/ops analytics r7d": "supplier_otd funnel_latency session_bounce_rate customer_reorder_rate brand_return_rate nation_tax_rate discount_band_rev agg_geomean agg_percentile_disc join_null_safe events_props_stats graph_degree_dist",
    "Beyond SURVEY — EDGAR feed ingestion r7e": "src_edgar_feed",
    "Beyond SURVEY — two-sample tests r7f": "stat_mannwhitney stat_ks_2samp stat_welch_ttest",
    "Beyond SURVEY — embedding diagnostics r7g": "embed_dim_stats embed_label_outliers embed_margin",
    "Beyond SURVEY — oscillators/aging/concentration r7h": "ts_stochastic ts_cusum event_gap_hist brand_rank_shift part_supplier_concentration order_priority_aging",
    "Beyond SURVEY — readability/length/window-clause r7i": "text_readability corpus_word_len_dist sql_named_window",
    "Beyond SURVEY — json sink/info-rate/stickiness/structs r7j": "snk_json markov_entropy_rate source_cross_entropy stickiness_ratio graph_assortativity fn_struct",
    "Beyond SURVEY — IVF eval/entropy bands/decay fits r7k": "ivf_eval user_hour_entropy retention_halflife supplier_leadtime_drift",
    "Beyond SURVEY — behavioral PMI/cannibalization/bigram LM r7l": "events_type_pmi brand_revenue_corr text_bigram_logprob",
    "Beyond SURVEY — XBRL analytics (golden-certified) r7m": "xbrl_peer_rank xbrl_half_growth xbrl_region_hhi",
    "Beyond SURVEY — Theil/seasonality/attribution/quota/interpolation r7n": "agg_theil ts_dominant_period attribution_time_decay mix_source_cap gapfill_interpolate source_length_ks",
    "Beyond SURVEY — EWMA crossovers/session reliability/set dedup/home bias r7o": "ts_ewma_cross session_error_impact dedup_bag_exact nation_home_bias",
    "Beyond SURVEY — Sharpe/GOF/percentiles/distributions r7p": "ts_sharpe brand_size_chi2 reorder_interval_percentiles session_depth_dist customer_order_count_dist source_dup_rate sql_range_interval",
    "Beyond SURVEY — streaming CDC/kNN eval/Lorenz r7q (round-10 queue)": "stream_cdc_apply knn_label_eval customer_lorenz_deciles gap_expfit_ks greedy_budget_pick fn_business_days",
    "§2.AT divergence/drift/rank-stats/graph r7 b19-24": "source_js_divergence cross_source_dup_matrix customer_migration_matrix event_trigram_transitions spearman_corr assoc_cramers_v priority_mix_drift embed_cluster_purity pack_fill_stats ts_hurst stream_topk_windowed stream_hopping_uniques ts_theilsen_slope changepoint_binary audit_round_prices term_burstiness length_pareto_ks corpus_stopword_coverage knn_reciprocity join_asof_forward graph_kcore purchase_acceleration mix_unique_mass trade_repeat_rate embed_quantize_error",
    "§2.AU ingestion/robust/fiscal/frames r7 b25-31": "src_schema_evolution src_csv_corrupt_audit snk_csv_quoting src_parquet_stats_audit ts_rolling_slope heavy_user_concentration key_gap_audit doc_opening_diversity anomaly_robust_z part_price_dispersion customer_brand_loyalty fiscal_445_rollup trade_matrix first_session_conversion win_groups_frame win_exclude_current audit_benford2 forecast_snaive_mase abtest_srm abtest_cuped stat_levene lsh_band_sweep quality_band_mix trade_reciprocity ts_pacf geo_dense_clusters winback_rate brand_nation_lift ship_lag_percentiles weekend_lift dedup_savings_report join_hint_merge",
    "§2.AV asof-differential/deciles/grains/calibration r7 b32-40": "join_asof_native decile_lift_table part_sourcing_breadth rollup_calendar_grains embed_angle_hist price_volume_mix langid_confusion ecdf_lookup minhash_jaccard_calibration",
    "§2.AW corpus design / separation diagnostics r8 b1": "corpus_dedup_curve text_prefix_novelty quality_rule_ablation mix_anneal_schedule heaps_law_fit vocab_topk_coverage vocab_gini embed_label_separation",
    "§2.AX oscillators/beta/overlap/Spark-4 SQL r8 b2": "ts_macd ts_atr ts_beta events_audience_overlap hhi_trend win_weighted_moving_avg sql_pipe_syntax fn_variant",
    "§2.AZ risk stats/exact tests/IVM/Spark-4 surface/corpus r9 b1": "ts_sortino ts_var_cvar ts_ljungbox ts_seasonal_strength stat_fisher_exact stat_binom_test agg_trimmed_mean ivm_delta_join fn_try_arith fn_collate_lcase bpe_merge_topk graph_jaccard_neighbors text_char_trigram_lm corpus_boilerplate_sentences xbrl_dupont xbrl_common_size",
    "§2.BA triangles/intervals/modes/rank-corr/baskets/indices/Spark-4 surface r10 b1": "graph_triangle_count join_interval_overlap agg_mode_exact ts_kendall_tau assoc_rules_lift price_index_laspeyres retention_triangle sql_lateral_join fn_json_extract fn_higher_order_array ts_ar1_fit dedup_minhash_b_bit",
    "§2.BB XBRL calc audit/TF-IDF/MI/BFS/forecast/nearest-value/JSONL/URLs/budget/drawdown r11 b1": "xbrl_calc_check corpus_tfidf_topk graph_bfs_layers ts_ols_forecast join_nearest_value corpus_token_source_mi src_jsonl fn_url mix_token_budget ts_drawdown_duration xbrl_period_unit_check agg_weighted_percentile sample_weighted_topk mm_audio_frame_rms mm_image_hist sessionize_native",
    "§2.BC dimensional validity/DTS presence/co-supply edges/components/normality/unit-root r12 b1": "xbrl_dim_check xbrl_concept_check graph_cosupply_edges graph_connected_components stat_jarque_bera ts_adf_stat",
    "§2.BC script mix/KL reweight/dup n-grams/RAG chunking/SCD2 merge/URL dedup r12 b2-3": "doc_script_mix mix_kl_reweight corpus_dup_ngram_share text_chunk_sliding scd2_apply_changes dedup_url_canonical",
    "§2.BC Bartlett/closeness r12 b4": "stat_bartlett graph_closeness_seeds",
}


def main() -> None:
    from secdb_spark.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    listed = {op for ops in SURVEY_SECTIONS.values() for op in ops.split()}
    unlisted = sorted(set(queries) - listed)
    missing = sorted(listed - set(queries))

    lines = [
        "# COVERAGE — SURVEY §2 operator inventory -> implementation matrix",
        "",
        "Generated by `python tools/coverage_report.py`. Check column: "
        "**oracle** = hash-checked against DuckDB by the driver "
        "(row count + schema + order-insensitive values); **rows-only** = "
        "R/D class (approximate, stateful-streaming, or fixture-driven) "
        "with property tests in `tests/` instead.",
        "",
        f"**{len(queries)} operators registered; {len(oracles)} oracle-checked; "
        f"{len(queries) - len(oracles)} rows-only.**",
        "",
    ]
    for section, ops in SURVEY_SECTIONS.items():
        lines.append(f"## {section}")
        lines.append("")
        lines.append("| op-id | check | implementation |")
        lines.append("| --- | --- | --- |")
        for op in ops.split():
            if op not in queries:
                lines.append(f"| `{op}` | **MISSING** | — |")
                continue
            fn = queries[op]
            mod = fn.__module__.replace("secdb_spark.operators.", "operators/")
            doc = (fn.__doc__ or "").strip().splitlines()[0] if fn.__doc__ else ""
            check = "oracle" if op in oracles else "rows-only"
            lines.append(f"| `{op}` | {check} | `{mod}` — {doc} |")
        lines.append("")
    if unlisted:
        lines.append(f"Unlisted registered ops (add to a section!): {unlisted}")
    if missing:
        lines.append(f"MISSING ops: {missing}")
    with open(ROOT / "COVERAGE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote COVERAGE.md: {len(queries)} ops, missing={missing}, unlisted={unlisted}")


if __name__ == "__main__":
    main()
