"""Generate docs/API.md from secdb_spark.api docstrings.

Run `python tools/api_reference.py` after changing the API surface; the
page is committed so users browse it without executing anything, and
regeneration keeps it honest (signatures and docs come from the code)."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILIES = [
    ("Text dedup", ["normalize_text", "token_set", "minhash_signatures",
                    "lsh_candidate_pairs", "near_dup_pairs",
                    "near_dup_clusters", "dedup_corpus", "exact_dup_clusters",
                    "jaccard_pairs", "simhash_near_dups", "keep_best_dedup",
                    "decontaminate", "containment_pairs"]),
    ("Curation & corpus analysis", ["quality_flags", "language_id",
                                    "chunk_text", "token_stats",
                                    "ngram_counts", "bm25_scores",
                                    "char_trigram_score",
                                    "bpe_merge_candidates",
                                    "boilerplate_sentences",
                                    "pii_scrub", "tfidf",
                                    "curate_corpus", "pmi_bigrams",
                                    "zipf_slope", "readability",
                                    "lexical_diversity", "repetition_score",
                                    "token_entropy", "hapax_by_group",
                                    "vocab_overlap", "cross_entropy",
                                    "novelty_score"]),
    ("Mixing & sampling", ["domain_mix_weights", "temperature_mix",
                           "cap_per_group", "stratified_sample",
                           "deterministic_sample", "train_test_split",
                           "bottomk_sample"]),
    ("ML prep & governance", ["onehot", "feature_scale", "k_anonymity",
                              "transition_matrix"]),
    ("Embeddings", ["cosine_topk", "vector_search", "ann_topk",
                    "normalize_vectors", "kmeans_assign",
                    "embedding_dim_stats", "embedding_norms",
                    "matryoshka_report"]),
    ("Events & time series", ["sessionize", "funnel", "retention_cohorts",
                              "asof_join", "resample", "gapfill",
                              "fill_forward", "trailing_distinct",
                              "interval_merge", "interval_overlap_join",
                              "ewma", "drawdown", "vwap", "bollinger",
                              "interval_islands", "autocorr", "cusum",
                              "calendar_gaps", "streaks",
                              "seasonal_decompose", "rfm_scores",
                              "markov_stationary", "ohlc", "twap", "rsi",
                              "rolling_corr", "path_topk", "churn",
                              "ltv_curve", "stickiness", "rolling_active",
                              "gap_stats", "burst_detect", "last_touch",
                              "window_conversion", "stage_latency",
                              "bounce_rate", "otd_rate", "reorder_rate",
                              "new_vs_returning_split", "rank_shift",
                              "seasonality_index", "sla_rate",
                              "flag_rate", "first_touch",
                              "supply_concentration", "aging_buckets",
                              "cumulative_entities"]),
    ("Statistics", ["percentile_disc", "mannwhitney_u", "entropy_by",
                    "ks_drift", "winsorize", "profile", "fingerprint",
                    "trimmed_mean", "binom_test", "fisher_exact",
                    "histogram", "kendall_tau", "ar1_fit", "mode_exact",
                    "association_rules", "price_index",
                    "retention_matrix", "gini", "hhi", "benford",
                    "spearman", "theil", "cramers_v", "zscore_outliers",
                    "abc_classify", "weighted_median", "skew_kurt",
                    "welch_ttest", "kaplan_meier", "xyz_classify",
                    "corr_matrix", "geomean", "skyline", "anova_eta",
                    "rate_ci", "ab_ztest", "iqr_outliers",
                    "quantile_bins", "latency_percentiles",
                    "peak_to_avg_ratio", "top_share",
                    "dispersion_index", "dup_histogram", "size_dist",
                    "gap_hist", "dow_hour_heatmap", "breadth_hist",
                    "band_rollup", "json_field_stats", "linfit",
                    "trend_slope", "loglog_elasticity"]),
    ("Warehouse maintenance", ["latest_by_key", "scd2", "write_partitioned",
                               "period_growth", "table_diff", "fk_check",
                               "skew_report", "calc_check"]),
    ("Round-11 additions (forecasting / nearest joins / corpus heads / "
     "budgets / graphs)",
     ["tfidf_topk", "token_source_mi", "largest_remainder_alloc",
      "bfs_layers", "ols_forecast", "nearest_value_join",
      "drawdown_duration", "weighted_percentiles", "weighted_sample"]),
    ("Round-12 additions (curation / SCD2 merge / URL dedup / "
     "normality & unit-root / co-occurrence)",
     ["script_mix", "kl_uniform_reweight", "dup_ngram_share",
      "chunk_sliding", "scd2_merge", "canonicalize_urls", "url_dedup",
      "jarque_bera", "adf_stat", "cooccur_pairs", "bartlett",
      "seed_closeness", "hypercube_check"]),
    ("Sketches", ["bloom_filter", "cms", "hash_features"]),
    ("Recommendations", ["item_similarity", "copurchase_pairs",
                         "tfidf_topk_terms"]),
    ("Plan diagnostics", ["plan_scan_census", "assert_single_scan"]),
    ("Multimodal", ["resize_bitmaps", "sample_frames",
                    "pcm_frame_rms", "image_histogram"]),
    ("Streaming", ["stream_windowed_counts", "stream_dedupe",
                   "stream_running_stats", "run_available_now"]),
    ("Graph", ["connected_components", "pagerank", "jaccard_neighbors",
               "triangle_count", "kcore", "degree_dist", "khop",
               "assortativity"]),
    ("Global-order kernels", ["global_rank", "global_prefix_sum",
                              "grouped_topk", "grouped_prefix_sum",
                              "topk_ties", "running_distinct",
                              "reset_cumsum", "moving_median"]),
]


def render() -> str:
    """The text of docs/API.md, built from secdb_spark.api's signatures
    and docstrings.  Raises ValueError if FAMILIES misses an api name."""
    from secdb_spark import api

    listed = {n for _, names in FAMILIES for n in names}
    missing = sorted(set(api.__all__) - listed)
    if missing:
        raise ValueError(f"api_reference: add these to FAMILIES: {missing}")

    n_shared = sum(
        getattr(api, n).__module__.startswith("secdb_spark.operators.")
        for n in api.__all__
    )
    n_other = len(api.__all__) - n_shared
    out = [
        "# secdb_spark.api reference",
        "",
        "Composable DataFrame-in/DataFrame-out functions over ARBITRARY",
        "tables — the certified registry kernels with the columns and",
        "constants parameterized.  Generated by `python",
        "tools/api_reference.py`.",
        "",
        f"{n_shared} functions are their registry op's own body, re-exported",
        "from `secdb_spark/operators/`, so the DuckDB oracle certifies them",
        f"directly.  The other {n_other} are written in `api.py`;",
        "`tests/test_api_twins.py` pins each one that has a registry twin",
        "to it.",
        "",
    ]
    for family, names in FAMILIES:
        out.append(f"## {family}")
        out.append("")
        for n in names:
            fn = getattr(api, n)
            sig = str(inspect.signature(fn))
            doc = inspect.getdoc(fn) or ""
            first = doc.split("\n\n")[0].replace("\n", " ").strip()
            out.append(f"### `{n}{sig}`")
            out.append("")
            out.append(first)
            rest = doc.split("\n\n")[1:]
            scale = [p for p in rest if p.lstrip().startswith("Scale")]
            if scale:
                out.append("")
                out.append(scale[0].replace("\n", " ").strip())
            out.append("")
    return "\n".join(out) + "\n"


def main() -> int:
    try:
        text = render()
    except ValueError as e:
        print(e)
        return 1
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs", "API.md",
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
