"""Adapter-vs-kernel differentials: every composable api.* function that
is still written twice — once in api.py, once as its registry op — must
REPRODUCE that twin's output on the fixture corpus when pointed at the
corpus columns with the kernel's parameters.  The registry twins are
oracle-certified against DuckDB, so equality here extends the
certification to the API layer without a second oracle.

The functions in SHARED_KERNELS have no twin test: api.py re-exports the
operator module's body, which the registry op calls, so the DuckDB
oracle certifies that body directly.  The identity test below keeps a
second copy from coming back into api.py.

A pair is folded by lifting the registry op's body into a kernel over
frames and column names, so the op's executed plan stays identical
(`tools/capture_op_plan.py`).  A pair stays a twin where that body is
not the api function's documented contract (other column names, NULL
handling, units, an overflow guard, an oracle-only bound) or where its
plan cannot be kept identical; the reason is written above its test."""

from __future__ import annotations

import pandas as pd
import pytest

from secdb_spark import api
from secdb_spark.operators import (
    aggregations,
    curation_extras,
    econ_extras,
    embed_extras,
    ivm_extras,
    llm_pipeline,
    pipeline_extras,
    sketch_extras,
    stats_extras2,
    text_analysis,
    timeseries,
    warehouse_extras,
    warehouse_extras2,
    warehouse_extras3,
    warehouse_extras4,
    warehouse_extras6,
    warehouse_extras7,
    warehouse_extras8,
    warehouse_extras9,
    warehouse_extras10,
    warehouse_extras13,
    warehouse_extras36,
    warehouse_extras37,
    warehouse_extras38,
    warehouse_extras39,
    warehouse_extras40,
    windows,
)
from secdb_spark.registry import all_queries

from conftest import SF_DIR

QUERIES = all_queries()

#: api function -> the operator module holding its one body
SHARED_KERNELS = {
    "adf_stat": warehouse_extras39,
    "ann_topk": llm_pipeline,
    "ar1_fit": warehouse_extras37,
    "autocorr": warehouse_extras6,
    "bartlett": warehouse_extras39,
    "benford": warehouse_extras2,
    "binom_test": warehouse_extras36,
    "bm25_scores": pipeline_extras,
    "boilerplate_sentences": warehouse_extras36,
    "bottomk_sample": sketch_extras,
    "bounce_rate": warehouse_extras8,
    "bpe_merge_candidates": warehouse_extras36,
    "burst_detect": warehouse_extras4,
    "char_trigram_score": warehouse_extras36,
    "chunk_sliding": warehouse_extras40,
    "chunk_text": text_analysis,
    "cumulative_entities": warehouse_extras7,
    "cusum": warehouse_extras9,
    "dispersion_index": warehouse_extras8,
    "dow_hour_heatmap": warehouse_extras3,
    "drawdown": warehouse_extras4,
    "drawdown_duration": warehouse_extras38,
    "dup_ngram_share": warehouse_extras40,
    "embedding_dim_stats": embed_extras,
    "embedding_norms": warehouse_extras6,
    "ewma": windows,
    "exact_dup_clusters": llm_pipeline,
    "fill_forward": warehouse_extras7,
    "fisher_exact": warehouse_extras36,
    "funnel": timeseries,
    "gap_hist": warehouse_extras9,
    "geomean": warehouse_extras8,
    "gini": warehouse_extras4,
    "hapax_by_group": curation_extras,
    "hash_features": sketch_extras,
    "hhi": warehouse_extras4,
    "histogram": aggregations,
    "jarque_bera": warehouse_extras39,
    "kendall_tau": warehouse_extras37,
    "kmeans_assign": pipeline_extras,
    "last_touch": warehouse_extras,
    "lexical_diversity": warehouse_extras4,
    "linfit": warehouse_extras2,
    "matryoshka_report": curation_extras,
    "mode_exact": warehouse_extras37,
    "moving_median": warehouse_extras7,
    "novelty_score": econ_extras,
    "ohlc": warehouse_extras2,
    "ols_forecast": warehouse_extras38,
    "path_topk": warehouse_extras,
    "repetition_score": warehouse_extras4,
    "reset_cumsum": warehouse_extras7,
    "retention_cohorts": timeseries,
    "retention_matrix": warehouse_extras37,
    "rolling_active": warehouse_extras,
    "rolling_corr": warehouse_extras8,
    "rsi": warehouse_extras8,
    "running_distinct": warehouse_extras,
    "scd2": timeseries,
    "script_mix": warehouse_extras40,
    "sessionize": timeseries,
    "skew_kurt": warehouse_extras3,
    "skew_report": warehouse_extras4,
    "stage_latency": warehouse_extras8,
    "stickiness": warehouse_extras10,
    "streaks": warehouse_extras2,
    "tfidf": warehouse_extras2,
    "tfidf_topk": warehouse_extras38,
    "theil": warehouse_extras13,
    "token_entropy": warehouse_extras4,
    "token_source_mi": warehouse_extras38,
    "token_stats": text_analysis,
    "topk_ties": ivm_extras,
    "trend_slope": warehouse_extras8,
    "twap": timeseries,
    "vwap": warehouse_extras4,
    "weighted_percentiles": warehouse_extras38,
    "weighted_sample": warehouse_extras38,
    "welch_ttest": stats_extras2,
    "window_conversion": warehouse_extras,
    "zipf_slope": warehouse_extras7,
    "zscore_outliers": timeseries,
}


@pytest.mark.parametrize("fn", sorted(SHARED_KERNELS))
def test_shared_kernel_is_the_operator_body(fn):
    assert getattr(api, fn) is getattr(SHARED_KERNELS[fn], fn)


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _sorted(df, cols):
    return (
        df.toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


def test_temperature_mix_matches_mix_apply(spark):
    """mix_apply returns the per-source audit rollup of the kept set;
    the API returns the kept rows — their rollup must agree."""
    kept = api.temperature_mix(
        _docs(spark), "source", "doc_id", temperature=0.5
    )
    got = (
        kept.groupBy("source")
        .count()
        .toPandas()
        .set_index("source")["count"]
    )
    want = (
        QUERIES["mix_apply"](spark, SF_DIR)
        .toPandas()
        .set_index("source")["n_kept"]
    )
    assert got.sort_index().tolist() == want.sort_index().tolist()


def test_cap_per_group_matches_mix_source_cap(spark):
    got = api.cap_per_group(
        _docs(spark).select("source", "doc_id"), ["source"], "doc_id", cap=20
    )
    want = QUERIES["mix_source_cap"](spark, SF_DIR)
    g = _sorted(got.select("source", "doc_id"), ["source", "doc_id"])
    w = _sorted(want.select("source", "doc_id"), ["source", "doc_id"])
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_language_id_matches_text_langid(spark):
    got = api.language_id(_docs(spark), "text").select(
        "doc_id", "lang_pred"
    )
    want = QUERIES["text_langid"](spark, SF_DIR).select(
        "doc_id", "predicted_lang"
    )
    g = _sorted(got, ["doc_id"])
    w = _sorted(want, ["doc_id"])
    assert g["lang_pred"].tolist() == w["predicted_lang"].tolist()


def test_normalize_vectors_unit_norm_property(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = api.normalize_vectors(emb, "embedding").toPandas()
    import numpy as np

    # embeddings store float32 components; the fold upcasts to double,
    # so unit norms are exact to float32 rounding, not double rounding
    for v in out["unit_vec"].head(50):
        assert abs(np.linalg.norm(np.array(v)) - 1.0) < 1e-6


def test_stream_windowed_counts_matches_stream_tumbling(spark):
    """Batch path of the streaming adapter == the certified tumbling
    kernel on the fixture events (per event_type, 1-hour windows)."""
    got = api.stream_windowed_counts(
        _events(spark), "ts", window="1 hour", keys=["event_type"]
    )
    want = QUERIES["stream_tumbling"](spark, SF_DIR)
    g = _sorted(got, ["window_start", "event_type"])
    w = _sorted(want, ["window_start", "event_type"])
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_latest_by_key_matches_upsert_latest(spark):
    """Rebuild the kernel's synthetic amendment batch and the adapter
    must elect the same winners."""
    from pyspark.sql import functions as F

    ev = _events(spark)
    base = ev.select(
        "event_id", "user_id", "value", "ts", F.lit(0).alias("generation")
    )
    amended = ev.filter(F.col("event_id") % 10 == 0).select(
        "event_id",
        "user_id",
        (F.col("value") * 2).alias("value"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.lit(1).alias("generation"),
    )
    got = api.latest_by_key(
        base.unionByName(amended), ["event_id"], ["generation", "ts"]
    ).select("event_id", "user_id", "value", "generation")
    want = QUERIES["upsert_latest"](spark, SF_DIR)
    g = _sorted(got, ["event_id"])
    w = _sorted(want, ["event_id"])
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_winsorize_matches_winsorize_group_sums(spark):
    """The adapter's clipped values must reproduce the kernel's audited
    winsorized sums per group (bounds canonicalized the kernel's way)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    want = (
        QUERIES["winsorize_group"](spark, SF_DIR)
        .toPandas()
        .set_index("l_returnflag")
    )
    # kernel rounds bounds to 4dp before clipping; mirror with the raw
    # adapter by pre-rounding its quantiles is not exposed — compare the
    # SUM within the kernel's tolerance instead (bounds differ < 1e-4)
    got = (
        api.winsorize(li, ["l_returnflag"], "l_extendedprice")
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice_wins").alias("s"))
        .toPandas()
        .set_index("l_returnflag")
    )
    for flag in want.index:
        assert abs(got.loc[flag, "s"] - float(want.loc[flag, "winsorized_sum"])) < 1.0


def test_ngram_counts_matches_corpus_ngram_topk(spark):
    from secdb_spark.operators.warehouse_extras4 import CORPUS_NGRAM_TOPK

    got = api.ngram_counts(
        _docs(spark), "doc_id", "text", n=3, k=CORPUS_NGRAM_TOPK
    ).withColumnRenamed("ngram", "trigram")
    want = QUERIES["corpus_ngram_topk"](spark, SF_DIR)
    g = got.toPandas().reset_index(drop=True)
    w = want.toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_fingerprint_matches_result_fingerprint(spark):
    """Rebuild the kernel's revenue-by-nation rollup (cents fixed-point)
    and the generic fingerprint must agree with the registry op."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    res = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .alias("revenue_c"),
        )
    )
    got = api.fingerprint(
        res, ["n_name", "n_orders", "revenue_c"]
    ).collect()[0]
    want = QUERIES["result_fingerprint"](spark, SF_DIR).collect()[0]
    assert (got.n_rows, got.fingerprint) == (want.n_rows, want.fingerprint)


# --- round-8 extension: twins for the PRE-round-8 adapters ------------------


def test_normalize_text_matches_text_normalize(spark):
    got = api.normalize_text(_docs(spark), "text", "norm_text").select(
        "doc_id", "norm_text"
    )
    want = QUERIES["text_normalize"](spark, SF_DIR).select(
        "doc_id", "norm_text"
    )
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_id"]), _sorted(want, ["doc_id"]),
        check_dtype=False,
    )


def test_jaccard_pairs_matches_sim_jaccard(spark):
    got = api.jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.9)
    want = QUERIES["sim_jaccard"](spark, SF_DIR)
    keys = ["doc_a", "doc_b"]
    pd.testing.assert_frame_equal(
        _sorted(got, keys), _sorted(want, keys), check_dtype=False
    )


def test_near_dup_pairs_matches_dedup_near(spark):
    from pyspark.sql import functions as F

    got = (
        api.near_dup_pairs(_docs(spark), "doc_id", "text", threshold=0.9)
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    want = QUERIES["dedup_near"](spark, SF_DIR).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )
    keys = ["doc_a", "doc_b"]
    pd.testing.assert_frame_equal(
        _sorted(got, keys), _sorted(want, keys), check_dtype=False
    )


def test_near_dup_clusters_matches_dedup_clusters(spark):
    from pyspark.sql import functions as F

    got = (
        api.near_dup_clusters(_docs(spark), "doc_id", "text", threshold=0.9)
        .groupBy("cluster_rep")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(F.collect_list("doc_id"))
            .cast("string")
            .alias("members"),
        )
    )
    want = QUERIES["dedup_clusters"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["cluster_rep"]), _sorted(want, ["cluster_rep"]),
        check_dtype=False,
    )


def test_cosine_topk_matches_sim_cosine_topk(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = api.cosine_topk(emb, "vec_id", "embedding", k=5)
    want = QUERIES["sim_cosine_topk"](spark, SF_DIR)
    keys = ["query_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        _sorted(got, keys), _sorted(want, keys), check_dtype=False
    )


def test_percentile_disc_matches_agg_percentile_disc(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = api.percentile_disc(li, ["l_returnflag"], "l_extendedprice")
    want = QUERIES["agg_percentile_disc"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_returnflag"]), _sorted(want, ["l_returnflag"]),
        check_dtype=False,
    )


def test_mannwhitney_u_matches_stat_mannwhitney(spark):
    from pyspark.sql import functions as F

    # the registry op rounds z to 4dp at the output projection (oracle
    # canonicalization); the API returns the raw double — round to match
    got = api.mannwhitney_u(
        _events(spark), "value", "event_type", "click", "purchase", scale=100
    ).withColumn("z", F.round("z", 4))
    want = QUERIES["stat_mannwhitney"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        got.toPandas().reset_index(drop=True),
        want.toPandas().reset_index(drop=True),
        check_dtype=False,
    )


def test_decontaminate_matches_registry_decontaminate(spark):
    docs = _docs(spark)
    eval_df = docs.filter(docs.doc_id % 97 == 0)
    train_df = docs.filter(docs.doc_id % 97 != 0)
    got = api.decontaminate(train_df, eval_df, "doc_id", "text", ngram=4)
    want = QUERIES["decontaminate"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_id"]), _sorted(want, ["doc_id"]),
        check_dtype=False,
    )


def test_entropy_by_matches_events_entropy(spark):
    """The adapter reports bits (log2); the kernel reports nats rounded
    to 4dp — base conversion is the only difference."""
    import math

    from pyspark.sql import functions as F

    got = api.entropy_by(_events(spark), ["user_id"], "event_type").select(
        "user_id",
        F.col("n").alias("n_events"),
        F.round(F.col("h_bits") * float(math.log(2)), 4).alias("entropy"),
    )
    want = QUERIES["events_entropy"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["user_id"]), _sorted(want, ["user_id"]),
        check_dtype=False,
    )


def test_quality_flags_matches_doc_quality_gate(spark):
    """Aggregating the per-row flags per source must reproduce the
    kernel's funnel report (same Gopher thresholds by default)."""
    from pyspark.sql import functions as F

    fl = api.quality_flags(_docs(spark), "text")
    got = fl.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("fail_short").cast("long")).alias("n_fail_short"),
        F.sum(F.col("fail_long").cast("long")).alias("n_fail_long"),
        F.sum(F.col("fail_wordlen").cast("long")).alias("n_fail_wordlen"),
        F.sum(F.col("fail_ttr").cast("long")).alias("n_fail_ttr"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(
            F.sum(F.col("keep").cast("double")) / F.count(F.lit(1)), 4
        ).alias("kept_ratio"),
    )
    want = QUERIES["doc_quality_gate"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["source"]), _sorted(want, ["source"]),
        check_dtype=False,
    )


def test_trailing_distinct_matches_stickiness_wau(spark):
    """The 7-day trailing distinct user count IS stickiness_ratio's WAU
    column; map the integer day index back to the kernel's date."""
    from pyspark.sql import functions as F

    days = _events(spark).select(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("1970-01-01")
        ).alias("dayix"),
    )
    got = (
        api.trailing_distinct(days, "user_id", "dayix", window_days=7)
        .select(
            F.date_add(F.lit("1970-01-01"), F.col("dayix")).alias("day"),
            F.col("trailing_distinct").alias("wau"),
        )
    )
    want = QUERIES["stickiness_ratio"](spark, SF_DIR).select(
        F.col("day").cast("date").alias("day"), "wau"
    )
    # the adapter also reports the cover-window days AFTER the last
    # activity day (trailing windows remain non-empty); the kernel
    # reports only days with activity — compare on the kernel's days
    got = got.join(want.select("day"), "day")
    pd.testing.assert_frame_equal(
        _sorted(got, ["day"]), _sorted(want, ["day"]), check_dtype=False
    )


def test_domain_mix_weights_matches_mix_temperature(spark):
    """At T=1/2 (pow == one correctly-rounded IEEE sqrt) the adapter's
    quantized tempered weights must reproduce the kernel's report; the
    kernel rounds its ratios to 4dp at the output projection."""
    from pyspark.sql import functions as F

    got = api.domain_mix_weights(
        _docs(spark), "source", temperature=0.5
    ).select(
        "source",
        "n_docs",
        F.round("p_natural", 4).alias("p_natural"),
        F.round("mix_weight", 4).alias("mix_weight"),
        F.round("upsample_factor", 4).alias("upsample_factor"),
    )
    want = QUERIES["mix_temperature"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["source"]), _sorted(want, ["source"]),
        check_dtype=False,
    )


def test_vector_search_self_matches_sim_cosine_topk(spark):
    """Searching the corpus against itself with k+1 and dropping the
    self-hit must reproduce the certified self-join top-k exactly."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = (
        api.vector_search(
            emb, emb, "vec_id", "embedding", "vec_id", "embedding", k=6
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    # re-rank to top-5 after dropping self (self always ranks first at
    # sim 1.0, but guard against a tie displacing it)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    got = (
        got.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
    )
    want = QUERIES["sim_cosine_topk"](spark, SF_DIR)
    keys = ["query_id", "neighbor_id"]
    pd.testing.assert_frame_equal(
        _sorted(got, keys), _sorted(want, keys), check_dtype=False
    )


# --- round-9 adapters --------------------------------------------------------


def _lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_trimmed_mean_matches_agg_trimmed_mean(spark):
    got = api.trimmed_mean(
        _lineitem(spark), "l_extendedprice",
        ["l_orderkey", "l_linenumber"], trim=0.1,
    )
    want = QUERIES["agg_trimmed_mean"](spark, SF_DIR)
    g = _sorted(got, ["n_rows"])
    w = _sorted(want, ["n_rows"])
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_jaccard_neighbors_matches_graph_jaccard_neighbors(spark):
    got = api.jaccard_neighbors(
        _lineitem(spark), "l_suppkey", "l_partkey", min_common=2
    ).withColumnRenamed("node_a", "s1").withColumnRenamed("node_b", "s2")
    want = QUERIES["graph_jaccard_neighbors"](spark, SF_DIR)
    g = _sorted(got, ["s1", "s2"])
    w = _sorted(want, ["s1", "s2"])
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_ks_drift_matches_source_length_ks(spark):
    """Adapter returns the exact rational as double; the kernel presents
    he4 — equality after quantizing the adapter the same way."""
    import math

    got = api.ks_drift(
        _docs(spark).selectExpr("source", "length(text) AS L"),
        "source", "L",
    ).toPandas().sort_values("source").reset_index(drop=True)
    want = (
        QUERIES["source_length_ks"](spark, SF_DIR)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    assert got["source"].tolist() == want["source"].tolist()
    assert got["n"].tolist() == want["n_docs"].tolist()
    he4 = [math.floor(x * 10000 + 0.5) / 10000.0 for x in got["ks_d"]]
    assert he4 == want["d"].tolist()


def test_pii_scrub_matches_text_pii_scrub(spark):
    got = _sorted(
        api.pii_scrub(_docs(spark), "text").select(
            "doc_id", "scrubbed", "changed"
        ),
        ["doc_id"],
    )
    want = _sorted(QUERIES["text_pii_scrub"](spark, SF_DIR), ["doc_id"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_train_test_split_matches_split_train_test(spark):
    from pyspark.sql import functions as F

    got = (
        api.train_test_split(_docs(spark), "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )
    want = QUERIES["split_train_test"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["split"]), _sorted(want, ["split"]),
        check_dtype=False,
    )


def test_connected_components_backs_near_dup_clusters(spark):
    """near_dup_clusters now delegates to connected_components — the
    generic CC on the near-dup pair graph must reproduce the certified
    dedup_clusters kernel end to end (cluster-level form)."""
    from pyspark.sql import functions as F

    got = (
        api.connected_components(
            api.near_dup_pairs(_docs(spark), "doc_id", "text"),
            "id_a", "id_b",
        )
        .groupBy(F.col("component").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(F.collect_list("node"))
            .cast("string")
            .alias("members"),
        )
    )
    want = QUERIES["dedup_clusters"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["cluster_rep"]), _sorted(want, ["cluster_rep"]),
        check_dtype=False,
    )


def test_pagerank_matches_graph_pagerank(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), "o_custkey").alias("a"),
            F.concat(F.lit("s"), "l_suppkey").alias("b"),
        )
        .distinct()
    )
    edges = e0.select(F.col("a").alias("s"), F.col("b").alias("d")).union(
        e0.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    got = (
        api.pagerank(edges, "s", "d", iters=3, damping=0.85)
        .select(
            "node",
            F.floor(F.col("pr") * 1e9 + 0.5).cast("bigint").alias("pr9"),
        )
        .orderBy(F.desc("pr9"), "node")
        .limit(20)
    )
    want = QUERIES["graph_pagerank"](spark, SF_DIR)
    g = got.toPandas().reset_index(drop=True)
    w = want.toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_interval_merge_matches_interval_islands(spark):
    from pyspark.sql import functions as F

    ev = _events(spark)
    t = F.unix_micros(F.col("ts").cast("timestamp"))  # raw parquet is NTZ
    iv = ev.select(
        "user_id",
        t.alias("s"),
        (t + F.floor("value").cast("long") * F.lit(1_000_000)).alias("e"),
    )
    got = (
        api.interval_merge(iv, ["user_id"], "s", "e")
        .withColumnRenamed("covered", "covered_us")
        .withColumnRenamed("longest", "longest_us")
    )
    want = QUERIES["interval_islands"](spark, SF_DIR)
    g = _sorted(got, ["user_id"])
    w = _sorted(want, ["user_id"])
    pd.testing.assert_frame_equal(g, w[g.columns], check_dtype=False)


def test_simhash_near_dups_matches_simhash_pairs(spark):
    """Round-9 fix: the adapter voted on the DISTINCT token set while
    the kernel votes term-frequency-weighted — a silent signature fork
    producing a disjoint pair set.  This twin pins the adapter to the
    certified kernel so the basis can't drift again."""
    got = (
        api.simhash_near_dups(_docs(spark), "doc_id", "text", max_hamming=3)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
    )
    want = QUERIES["simhash_pairs"](spark, SF_DIR)
    g = _sorted(got, ["doc_a", "doc_b"])
    w = _sorted(want, ["doc_a", "doc_b"])
    pd.testing.assert_frame_equal(g, w[g.columns], check_dtype=False)


def test_triangle_count_matches_graph_triangle_count(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras37 import COSUPPLY_MIN_ORDERS

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = os_.alias("a"), os_.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= COSUPPLY_MIN_ORDERS)
        .select("x", "y")
    )
    got = api.triangle_count(edges, "x", "y").toPandas()
    want = QUERIES["graph_triangle_count"](spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_association_rules_matches_assoc_rules_lift(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    pt = spark.read.parquet(f"{SF_DIR}/part.parquet")
    baskets = li.join(pt, li.l_partkey == pt.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    got = api.association_rules(baskets, "l_orderkey", "p_brand", 5)
    got = got.withColumnRenamed("item_a", "brand_a").withColumnRenamed(
        "item_b", "brand_b"
    )
    want = QUERIES["assoc_rules_lift"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["brand_a", "brand_b"]),
        _sorted(want, ["brand_a", "brand_b"]),
        check_dtype=False,
    )


def test_interval_overlap_join_matches_join_interval_overlap(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    epoch = F.lit("1970-01-01").cast("date")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("urgent"),
            F.datediff(F.col("o_orderdate"), epoch).alias("s"),
        )
        .agg(F.max(F.datediff(F.col("l_shipdate"), epoch)).alias("e"))
        .localCheckpoint()
    )
    pairs = api.interval_overlap_join(
        iv.filter("urgent"), iv.filter("NOT urgent"), "o_custkey", "s", "e"
    )
    got = pairs.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap_pairs"),
        F.sum("overlap").cast("long").alias("overlap_days"),
    )
    want = QUERIES["join_interval_overlap"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["custkey"]), _sorted(want, ["custkey"]),
        check_dtype=False,
    )


def test_price_index_matches_price_index_laspeyres(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.year("l_shipdate").alias("y"),
        F.col("l_partkey"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias(
            "cents"
        ),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("units"),
    )
    got = (
        api.price_index(li, "y", "l_partkey", "cents", "units",
                        spend_scale=100.0)
        .withColumnRenamed("period", "year")
        .withColumnRenamed("n_items", "n_parts")
        .withColumnRenamed("index", "laspeyres_index")
    )
    want = QUERIES["price_index_laspeyres"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["year"]), _sorted(want, ["year"]), check_dtype=False
    )


def test_kcore_matches_graph_kcore(spark):
    """api.kcore's surviving node set on the operator's trade graph must
    equal the certified kernel's final live count (live_r4) — and the
    final live degrees must all clear k."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    got = api.kcore(e, "a", "b", k=10, rounds=4).toPandas()
    want = QUERIES["graph_kcore"](spark, SF_DIR).collect()[0]
    assert len(got) == want["live_r4"]
    assert (got["degree"] >= 10).all()


def test_spearman_matches_spearman_corr(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    got = api.spearman(
        li, "l_quantity", "l_extendedprice", by=["l_returnflag"]
    )
    want = QUERIES["spearman_corr"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_returnflag"]), _sorted(want, ["l_returnflag"]),
        check_dtype=False,
    )


def test_cramers_v_matches_assoc_cramers_v(spark):
    p = spark.read.parquet(f"{SF_DIR}/part.parquet")
    got = api.cramers_v(p, "p_brand", "p_size").withColumnRenamed(
        "n", "n_parts"
    )
    want = QUERIES["assoc_cramers_v"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_parts"]), _sorted(want, ["n_parts"]),
        check_dtype=False,
    )


def test_abc_classify_matches_part_abc_pareto(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators._helpers import dsum

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    rev = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    got = (
        api.abc_classify(rev, ["l_partkey"], "revenue")
        .withColumnRenamed("value", "revenue")
    )
    want = QUERIES["part_abc_pareto"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_partkey"]), _sorted(want, ["l_partkey"]),
        check_dtype=False,
    )


def test_bollinger_matches_ts_bollinger(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras5 import BOLL_DAYS, BOLL_K

    ev = _events(spark)
    # the registry op fixed-points per event THEN sums per day; dividing
    # the daily long back by 1e4 is exactly invertible by the kernel's
    # floor(v*1e4+0.5) because |v/1e4*1e4 - v| << 0.5 at these magnitudes
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        (
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
            / F.lit(10000.0)
        ).alias("v")
    )
    got = api.bollinger(
        daily, "v", "day", by=["event_type"],
        days=BOLL_DAYS, k=float(BOLL_K), scale=4,
    )
    want = QUERIES["ts_bollinger"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type", "day"]),
        _sorted(want, ["event_type", "day"]),
        check_dtype=False,
    )


def test_weighted_median_matches_agg_weighted_median(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("w"),
    )
    got = api.weighted_median(
        li, "price", "w", by=["l_returnflag"]
    ).withColumnRenamed("w_median", "w_median_price")
    want = QUERIES["agg_weighted_median"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_returnflag"]), _sorted(want, ["l_returnflag"]),
        check_dtype=False,
    )


def test_kaplan_meier_matches_survival_km(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    )
    per_cust = ranked.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt"),
        F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias(
            "second_dt"
        ),
    )
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    subjects = per_cust.crossJoin(F.broadcast(anchor)).select(
        F.when(
            F.col("second_dt").isNotNull(),
            F.datediff(
                F.col("second_dt").cast("date"),
                F.col("first_dt").cast("date"),
            ),
        )
        .otherwise(
            F.datediff(
                F.col("mx").cast("date"), F.col("first_dt").cast("date")
            )
        )
        .alias("t"),
        F.col("second_dt").isNotNull().cast("int").alias("event"),
    )
    got = api.kaplan_meier(subjects, "t", "event").withColumnRenamed(
        "duration", "day"
    )
    want = QUERIES["survival_km"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["day"]), _sorted(want, ["day"]), check_dtype=False,
    )


def test_degree_dist_matches_graph_degree_dist(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb").distinct()
    )
    got = api.degree_dist(edges, "pa", "pb").withColumnRenamed(
        "n_nodes", "n_parts"
    )
    want = QUERIES["graph_degree_dist"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["log2_bucket"]), _sorted(want, ["log2_bucket"]),
        check_dtype=False,
    )


def test_khop_matches_graph_khop(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.ml_prep import KHOP_TOPK

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    got = (
        api.khop(e, "c", "s", n_seeds=KHOP_TOPK)
        .withColumnRenamed("node", "custkey")
        .withColumnRenamed("n_dst_1hop", "n_suppliers_1hop")
        .withColumnRenamed("n_src_2hop", "n_customers_2hop")
    )
    want = QUERIES["graph_khop"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["custkey"]), _sorted(want, ["custkey"]),
        check_dtype=False,
    )


def test_interval_islands_matches_interval_islands_op(spark):
    from pyspark.sql import functions as F

    ev = _events(spark)
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor("value").cast("long") * F.lit(1_000_000)
        ).alias("e"),
    )
    got = (
        api.interval_islands(iv, "s", "e", by=["user_id"],
                             tie_cols=["event_id"])
        .withColumnRenamed("covered", "covered_us")
        .withColumnRenamed("longest", "longest_us")
    )
    want = QUERIES["interval_islands"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["user_id"]), _sorted(want, ["user_id"]),
        check_dtype=False,
    )


def test_xyz_classify_matches_part_xyz_cv(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey",
        F.date_trunc("month", "l_shipdate").alias("month"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
    )
    cls = api.xyz_classify(li, ["l_partkey"], "month", "qty")
    p = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    got = (
        cls.join(F.broadcast(p), cls.l_partkey == p.p_partkey)
        .groupBy("p_brand", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    want = QUERIES["part_xyz_cv"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["p_brand", "xyz_class"]),
        _sorted(want, ["p_brand", "xyz_class"]),
        check_dtype=False,
    )


def test_corr_matrix_matches_agg_corr_matrix(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = (
        api.corr_matrix(
            li,
            ["l_quantity", "l_extendedprice", "l_discount"],
            by=["l_returnflag"],
            scales=[2, 2, 4],
        )
        .withColumnRenamed("corr_l_quantity_l_extendedprice",
                           "corr_qty_price")
        .withColumnRenamed("corr_l_quantity_l_discount", "corr_qty_disc")
        .withColumnRenamed("corr_l_extendedprice_l_discount",
                           "corr_price_disc")
    )
    want = QUERIES["agg_corr_matrix"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_returnflag"]), _sorted(want, ["l_returnflag"]),
        check_dtype=False,
    )


def test_calendar_gaps_matches_date_spine(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = api.calendar_gaps(o, "o_orderdate").withColumnRenamed(
        "n_rows", "n_orders"
    )
    want = QUERIES["date_spine"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["month"]), _sorted(want, ["month"]),
        check_dtype=False,
    )


def test_rfm_scores_matches_customer_rfm(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators._helpers import dsum

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    base = o.groupBy("o_custkey").agg(
        F.datediff(
            F.max("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("rec_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    got = api.rfm_scores(
        base, "o_custkey", "rec_days", "frequency", "monetary"
    )
    want = QUERIES["customer_rfm"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["o_custkey"]), _sorted(want, ["o_custkey"]),
        check_dtype=False,
    )


def test_markov_stationary_matches_op(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from secdb_spark.operators.markov_extras import MARKOV_ITERS

    ev = _events(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    got = api.markov_stationary(
        seq, "event_type", "nxt", iters=MARKOV_ITERS
    ).withColumnRenamed("state", "event_type")
    want = QUERIES["markov_stationary"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type"]), _sorted(want, ["event_type"]),
        check_dtype=False,
    )


def test_seasonal_decompose_matches_op(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators._helpers import dsum
    from secdb_spark.operators.warehouse_extras2 import MA_HALF

    hourly = (
        _events(spark)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(dsum(F.col("value")).alias("v"))
        .withColumn("hod", F.hour("bucket").cast("int"))
    )
    got = api.seasonal_decompose(
        hourly, "v", "bucket", "hod", by=["event_type"], half=MA_HALF
    ).withColumnRenamed("season", "hour_of_day")
    want = QUERIES["seasonal_decompose_ma"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type", "hour_of_day"]),
        _sorted(want, ["event_type", "hour_of_day"]),
        check_dtype=False,
    )


# Kept as a twin: text_pmi_bigrams raises once a document has more than
# PMI_ORACLE_MAX_TOKS tokens (its DuckDB oracle's unnest bound), and
# pmi_bigrams has no such bound, so the op body is not its contract.
def test_pmi_bigrams_matches_text_pmi_bigrams(spark):
    from secdb_spark.operators.warehouse_extras3 import (
        PMI_MIN_COUNT, PMI_TOPK)

    got = api.pmi_bigrams(
        _docs(spark), "text", min_count=PMI_MIN_COUNT, k=PMI_TOPK
    )
    want = QUERIES["text_pmi_bigrams"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["pmi6", "w1", "w2"]).reset_index(drop=True),
        _sorted(want, ["pmi6", "w1", "w2"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_readability_matches_text_readability(spark):
    got = api.readability(_docs(spark), "text").select(
        "doc_id", "lang", "n_words", "n_sents", "n_syll", "flesch"
    )
    want = QUERIES["text_readability"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_id"]), _sorted(want, ["doc_id"]),
        check_dtype=False,
    )


def test_bloom_filter_matches_bloom_build_words(spark):
    from secdb_spark.operators.sketch_extras import BLOOM_BITS, BLOOM_HASHES

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = api.bloom_filter(
        o, "o_custkey", bits=BLOOM_BITS, hashes=BLOOM_HASHES
    )
    want = QUERIES["bloom_build"](spark, SF_DIR).select("word_idx", "word")
    pd.testing.assert_frame_equal(
        _sorted(got, ["word_idx"]), _sorted(want, ["word_idx"]),
        check_dtype=False,
    )


def test_cms_matches_cms_sketch(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.sketch_extras import CMS_DEPTH, CMS_WIDTH

    toks = _docs(spark).select(
        F.explode(F.split("text", " ")).alias("term")
    )
    got = api.cms(toks, "term", depth=CMS_DEPTH, width=CMS_WIDTH)
    want = QUERIES["cms_sketch"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["row", "col"]), _sorted(want, ["row", "col"]),
        check_dtype=False,
    )


def test_period_growth_matches_yoy_growth(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators._helpers import dsum

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    got = (
        api.period_growth(yearly, "rev", "yr", by=["n_name"])
        .withColumnRenamed("value", "revenue")
        .withColumnRenamed("growth_pct", "yoy_pct")
    )
    want = QUERIES["yoy_growth"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_name", "yr"]), _sorted(want, ["n_name", "yr"]),
        check_dtype=False,
    )


def test_churn_matches_customer_churn(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras5 import CHURN_DAYS

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    tx = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "o_custkey", "o_orderdate")
    )
    got = api.churn(
        tx, "o_custkey", "o_orderdate", by=["n_name"],
        churn_days=CHURN_DAYS,
    ).withColumnRenamed("n_entities", "n_customers")
    want = QUERIES["customer_churn"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_name"]), _sorted(want, ["n_name"]),
        check_dtype=False,
    )


def test_skyline_matches_skyline_2d(spark):
    p = spark.read.parquet(f"{SF_DIR}/part.parquet")
    got = (
        api.skyline(p, "p_retailprice", "p_size")
        .withColumnRenamed("x", "price")
        .withColumnRenamed("y", "psize")
        .withColumnRenamed("n_rows", "n_parts")
    )
    want = QUERIES["skyline_2d"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["price", "psize"]), _sorted(want, ["price", "psize"]),
        check_dtype=False,
    )


def test_anova_eta_matches_anova_dow(spark):
    from pyspark.sql import functions as F

    daily = (
        _events(spark)
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("dow", F.dayofweek("day"))
    )
    got = api.anova_eta(daily, "dow", "c").withColumnRenamed(
        "n_obs", "n_days"
    )
    want = QUERIES["anova_dow"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_groups"]), _sorted(want, ["n_groups"]),
        check_dtype=False,
    )


def test_rate_ci_matches_conversion_rate_ci(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    flags = (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.count_if(F.col("n_orders") >= 2).cast("long").alias("n_repeat"),
        )
    )
    got = api.rate_ci(flags, "n_cust", "n_repeat", z=1.96)
    want = QUERIES["conversion_rate_ci"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_name"]), _sorted(want, ["n_name"]),
        check_dtype=False,
    )


# Kept as a twin: ab_ztest widens the quantized value to DECIMAL before
# it squares it, so the moment sums cannot wrap above |v| ~3.03e9;
# abtest_ztest squares in LONG, as its oracle does, so the op body would
# narrow the api's contract.
def test_ab_ztest_matches_abtest_ztest(spark):
    got = api.ab_ztest(
        _events(spark), "user_id", "value", scale=4, sig_z=1.96, salt="ab"
    )
    want = QUERIES["abtest_ztest"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["na"]), _sorted(want, ["na"]), check_dtype=False,
    )


def test_table_diff_matches_snapshot_diff(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators._helpers import r4

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    new = o.select("o_orderkey", "o_totalprice")
    old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, r4(F.col("o_totalprice") * 1.1)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    got = (
        api.table_diff(new, old, ["o_orderkey"], ["o_totalprice"])
        .withColumnRenamed("old_o_totalprice", "old_price")
        .withColumnRenamed("new_o_totalprice", "new_price")
    )
    want = QUERIES["snapshot_diff"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["o_orderkey"]), _sorted(want, ["o_orderkey"]),
        check_dtype=False,
    )


def test_fk_check_matches_fk_integrity(spark):
    from pyspark.sql import functions as F

    cust_ok = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .filter(F.col("c_custkey") % 97 != 0)
        .select("c_custkey")
    )
    part_ok = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .filter(F.col("p_partkey") % 89 != 0)
        .select("p_partkey")
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = (
        api.fk_check(orders, "o_custkey", cust_ok, "c_custkey",
                     "orders.o_custkey->customer")
        .unionAll(api.fk_check(li, "l_partkey", part_ok, "p_partkey",
                               "lineitem.l_partkey->part"))
        .unionAll(api.fk_check(li, "l_orderkey",
                               orders.select("o_orderkey"), "o_orderkey",
                               "lineitem.l_orderkey->orders"))
    )
    want = QUERIES["fk_integrity"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["constraint_name"]), _sorted(want, ["constraint_name"]),
        check_dtype=False,
    )


def test_ltv_curve_matches_cohort_ltv(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = (
        api.ltv_curve(o, "o_custkey", "o_orderdate", "o_totalprice", scale=2)
        .withColumnRenamed("value_c", "rev_c")
        .withColumnRenamed("cum_value_c", "cum_rev_c")
    )
    want = QUERIES["cohort_ltv"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["cohort", "age"]), _sorted(want, ["cohort", "age"]),
        check_dtype=False,
    )


def test_gap_stats_matches_purchase_gaps(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = api.gap_stats(
        o, "o_custkey", "o_orderdate", tie_cols=["o_orderkey"]
    ).withColumnRenamed("n_rows", "n_orders")
    want = QUERIES["purchase_gaps"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["o_custkey"]), _sorted(want, ["o_custkey"]),
        check_dtype=False,
    )


def test_containment_pairs_matches_sim_containment(spark):
    got = (
        api.containment_pairs(_docs(spark), "doc_id", "text", min_common=25)
        .withColumnRenamed("id_a", "doc_a")
        .withColumnRenamed("id_b", "doc_b")
    )
    want = QUERIES["sim_containment"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_a", "doc_b"]), _sorted(want, ["doc_a", "doc_b"]),
        check_dtype=False,
    )


def test_iqr_outliers_matches_anomaly_iqr(spark):
    got = (
        api.iqr_outliers(
            _events(spark), "value", by=["event_type"],
            tie_col="event_id", scale=2,
        )
        .withColumnRenamed("q1", "q1_cents")
        .withColumnRenamed("q3", "q3_cents")
    )
    want = QUERIES["anomaly_iqr"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type"]), _sorted(want, ["event_type"]),
        check_dtype=False,
    )


def test_quantile_bins_matches_feat_quantile_bin(spark):
    from secdb_spark.operators.similarity_extras import QBINS

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    got = api.quantile_bins(c, "c_acctbal", "c_custkey", n_bins=QBINS)
    want = QUERIES["feat_quantile_bin"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["bin"]), _sorted(want, ["bin"]), check_dtype=False,
    )


def test_onehot_matches_feat_onehot(spark):
    from secdb_spark.operators.ml_prep import SEGMENTS

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    got = api.onehot(
        c, "c_mktsegment", list(SEGMENTS), prefix="seg"
    ).select(
        "c_custkey", *[f"seg_{s.lower()}" for s in SEGMENTS], "seg_other"
    )
    want = QUERIES["feat_onehot"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["c_custkey"]), _sorted(want, ["c_custkey"]),
        check_dtype=False,
    )


def test_feature_scale_matches_feat_scale(spark):
    from pyspark.sql import functions as F

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    got = (
        api.feature_scale(c, "c_acctbal", by=["c_mktsegment"], scale=2)
        .select(
            "c_custkey",
            F.col("z").alias("z_bal"),
            F.col("mm").alias("mm_bal"),
        )
    )
    want = QUERIES["feat_scale"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["c_custkey"]), _sorted(want, ["c_custkey"]),
        check_dtype=False,
    )


def test_k_anonymity_matches_audit_k_anonymity(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.ml_prep import BAL_BAND, K_ANON

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").withColumn(
        "bal_band",
        F.floor(
            F.floor(F.col("c_acctbal") * 100 + 0.5) / BAL_BAND
        ).cast("long"),
    )
    got = api.k_anonymity(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=K_ANON
    )
    want = QUERIES["audit_k_anonymity"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_groups"]), _sorted(want, ["n_groups"]),
        check_dtype=False,
    )


def test_transition_matrix_matches_brand_transition(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    ob_qty = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey", "p_brand")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias(
                "qty"
            )
        )
    )
    w_pick = Window.partitionBy("l_orderkey").orderBy(
        F.desc("qty"), F.asc("p_brand")
    )
    order_brand = (
        ob_qty.select(
            "l_orderkey", "p_brand", F.row_number().over(w_pick).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    seq = o.join(order_brand, o.o_orderkey == order_brand.l_orderkey)
    got = (
        api.transition_matrix(
            seq, "o_custkey", "brand", ["o_orderdate", "o_orderkey"]
        )
        .withColumnRenamed("from_state", "from_brand")
        .withColumnRenamed("to_state", "to_brand")
    )
    want = QUERIES["brand_transition"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["from_brand", "to_brand"]),
        _sorted(want, ["from_brand", "to_brand"]),
        check_dtype=False,
    )


def test_latency_percentiles_matches_sla_percentiles(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lags = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("first_ship").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lag"),
    )
    got = (
        api.latency_percentiles(lags, "lag", by=["o_orderpriority"])
        .withColumnRenamed("n", "n_orders")
        .withColumnRenamed("p50", "p50_days")
        .withColumnRenamed("p95", "p95_days")
        .withColumnRenamed("p99", "p99_days")
    )
    want = QUERIES["sla_percentiles"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["o_orderpriority"]), _sorted(want, ["o_orderpriority"]),
        check_dtype=False,
    )


def test_peak_to_avg_ratio_matches_peak_to_avg(spark):
    from pyspark.sql import functions as F

    ev = _events(spark).withColumn("bucket", F.date_trunc("hour", "ts"))
    got = (
        api.peak_to_avg_ratio(ev, ["event_type"], "bucket")
        .withColumnRenamed("n_buckets", "n_hours")
        .withColumnRenamed("peak", "peak_hour_events")
        .withColumnRenamed("total", "total_events")
    )
    want = QUERIES["peak_to_avg"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type"]), _sorted(want, ["event_type"]),
        check_dtype=False,
    )


def test_top_share_matches_top_decile_share(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.econ_extras import DECILE_PCT

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "cents"
        )
    )
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nat = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    joined = (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "cents")
    )
    got = (
        api.top_share(joined, "cents", by=["n_name"], pct=DECILE_PCT)
        .withColumnRenamed("n_entities", "n_customers")
        .withColumnRenamed("top_value", "top_cents")
        .withColumnRenamed("total_value", "total_cents")
        .withColumnRenamed("top_share", "top_decile_share")
    )
    want = QUERIES["top_decile_share"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_name"]), _sorted(want, ["n_name"]),
        check_dtype=False,
    )


def test_vocab_overlap_matches_source_vocab_overlap(spark):
    got = (
        api.vocab_overlap(_docs(spark), "source", "text")
        .withColumnRenamed("group_a", "source_a")
        .withColumnRenamed("group_b", "source_b")
    )
    want = QUERIES["source_vocab_overlap"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["source_a", "source_b"]),
        _sorted(want, ["source_a", "source_b"]),
        check_dtype=False,
    )


def test_cross_entropy_matches_source_cross_entropy(spark):
    got = api.cross_entropy(
        _docs(spark), "source", "text"
    ).withColumnRenamed("group", "source")
    want = QUERIES["source_cross_entropy"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["source"]), _sorted(want, ["source"]),
        check_dtype=False,
    )


def test_otd_rate_matches_supplier_otd(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras8 import OTD_SLA_DAYS

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    lagged = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag"),
    )
    got = (
        api.otd_rate(lagged, ["l_suppkey"], "lag", sla=OTD_SLA_DAYS)
        .withColumnRenamed("n_rows", "n_lines")
        .withColumnRenamed("max_delay", "max_delay_days")
        .withColumnRenamed("avg_late_delay", "avg_late_delay_days")
    )
    want = QUERIES["supplier_otd"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_suppkey"]), _sorted(want, ["l_suppkey"]),
        check_dtype=False,
    )


def test_reorder_rate_matches_customer_reorder_rate(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_custkey")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    tx = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    got = (
        api.reorder_rate(tx, ["c_nationkey"], "o_custkey")
        .withColumnRenamed("n_entities", "n_customers")
        .withColumnRenamed("avg_rows", "avg_orders")
    )
    want = QUERIES["customer_reorder_rate"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["c_nationkey"]), _sorted(want, ["c_nationkey"]),
        check_dtype=False,
    )


def test_new_vs_returning_split_matches_op(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    got = (
        api.new_vs_returning_split(
            o, "o_custkey", "o_orderdate", "o_totalprice"
        )
        .withColumnRenamed("val_new", "rev_new")
        .withColumnRenamed("val_returning", "rev_returning")
    )
    want = QUERIES["new_vs_returning"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["month"]), _sorted(want, ["month"]),
        check_dtype=False,
    )


def test_dup_histogram_matches_dedup_histogram(spark):
    got = api.dup_histogram(_docs(spark), "text")
    want = QUERIES["dedup_histogram"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["cluster_size"]), _sorted(want, ["cluster_size"]),
        check_dtype=False,
    )


def test_size_dist_matches_orders_linecount_dist(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = (
        api.size_dist(li, "l_orderkey")
        .withColumnRenamed("size", "n_lines")
        .withColumnRenamed("n_groups", "n_orders")
        .withColumnRenamed("total_groups", "total_orders")
    )
    want = QUERIES["orders_linecount_dist"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_lines"]), _sorted(want, ["n_lines"]),
        check_dtype=False,
    )


def test_item_similarity_matches_cf_item_similarity(spark):
    from secdb_spark.operators.recsys_extras import (
        CF_MIN_CO, CF_SEEDS, CF_TOPK)

    bi = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    got = api.item_similarity(
        bi, "l_orderkey", "l_partkey",
        n_seeds=CF_SEEDS, min_co=CF_MIN_CO, k=CF_TOPK,
    )
    want = QUERIES["cf_item_similarity"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["seed", "rk"]), _sorted(want, ["seed", "rk"]),
        check_dtype=False,
    )


# Kept as a twin: tfidf_topk backs both tfidf and this function, and only
# one of them can be its body (tfidf is).
def test_tfidf_topk_terms_matches_tfidf_topk(spark):
    from secdb_spark.operators.warehouse_extras2 import TFIDF_TOPK

    got = api.tfidf_topk_terms(_docs(spark), "doc_id", "text", k=TFIDF_TOPK)
    want = QUERIES["tfidf_topk"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_id", "rn"]), _sorted(want, ["doc_id", "rn"]),
        check_dtype=False,
    )


def test_copurchase_pairs_matches_basket_copurchase(spark):
    from secdb_spark.operators.warehouse_extras2 import TOPK_PAIRS

    bi = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    got = (
        api.copurchase_pairs(bi, "l_orderkey", "l_partkey", k=TOPK_PAIRS)
        .withColumnRenamed("item_a", "p1")
        .withColumnRenamed("item_b", "p2")
    )
    want = QUERIES["basket_copurchase"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_baskets", "p1", "p2"]).reset_index(drop=True),
        _sorted(want, ["n_baskets", "p1", "p2"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_rank_shift_matches_brand_rank_shift(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators._helpers import DEC
    from secdb_spark.operators.warehouse_extras9 import RANK_SPLIT

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    h1 = F.col("l_shipdate") < F.lit(RANK_SPLIT).cast("timestamp")
    r = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.when(h1, rev)).alias("rev1"),
            F.sum(F.when(~h1, rev)).alias("rev2"),
        )
    )
    got = (
        api.rank_shift(r, "p_brand", "rev1", "rev2")
        .withColumnRenamed("val_1", "rev_h1")
        .withColumnRenamed("val_2", "rev_h2")
        .withColumnRenamed("rank_1", "rank_h1")
        .withColumnRenamed("rank_2", "rank_h2")
    )
    want = QUERIES["brand_rank_shift"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["p_brand"]), _sorted(want, ["p_brand"]),
        check_dtype=False,
    )


def test_seasonality_index_matches_orders_seasonality_index(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "m", F.month("o_orderdate")
    )
    got = (
        api.seasonality_index(o, "m", "o_totalprice")
        .withColumnRenamed("bucket", "month")
        .withColumnRenamed("value", "revenue")
    )
    want = QUERIES["orders_seasonality_index"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["month"]), _sorted(want, ["month"]),
        check_dtype=False,
    )


def test_sla_rate_matches_sla_attainment(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.econ_extras import SLA_DAYS

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lagged = o.join(
        first_ship, o.o_orderkey == first_ship.l_orderkey
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("first_ship").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).alias("lag"),
    )
    got = (
        api.sla_rate(lagged, ["o_orderpriority"], "lag", sla=SLA_DAYS)
        .withColumnRenamed("n_rows", "n_orders")
        .withColumnRenamed("worst_lag", "worst_lag_days")
    )
    want = QUERIES["sla_attainment"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["o_orderpriority"]), _sorted(want, ["o_orderpriority"]),
        check_dtype=False,
    )


def test_flag_rate_matches_error_rate_daily(spark):
    from pyspark.sql import functions as F

    ev = _events(spark).select(
        F.date_trunc("day", "ts").alias("day"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    got = (
        api.flag_rate(ev, ["day"], "is_err")
        .withColumnRenamed("n_rows", "n_events")
        .withColumnRenamed("n_flagged", "n_errors")
        .withColumnRenamed("rate", "error_rate")
    )
    want = QUERIES["error_rate_daily"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["day"]), _sorted(want, ["day"]), check_dtype=False,
    )


def test_first_touch_matches_first_touch_mix(spark):
    got = api.first_touch(
        _events(spark), "user_id", "event_type", ["ts", "event_id"]
    ).withColumnRenamed("first_event", "first_event_type").withColumnRenamed(
        "n_entities", "n_users"
    )
    want = QUERIES["first_touch_mix"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["first_event_type"]), _sorted(want, ["first_event_type"]),
        check_dtype=False,
    )


def test_supply_concentration_matches_part_supplier_concentration(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    got = (
        api.supply_concentration(
            li, "l_partkey", "l_suppkey", "l_quantity", scale=2
        )
        .withColumnRenamed("n_members", "n_suppliers")
        .withColumnRenamed("total", "total_q100")
    )
    want = QUERIES["part_supplier_concentration"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["l_partkey"]), _sorted(want, ["l_partkey"]),
        check_dtype=False,
    )


def test_aging_buckets_matches_order_priority_aging(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    anchor = o.agg(F.max("o_orderdate").alias("maxd"))
    got = (
        api.aging_buckets(
            o.filter(F.col("o_orderstatus") == "O"),
            ["o_orderpriority"], "o_orderdate", "o_totalprice",
            anchor_df=anchor,
        )
        .withColumnRenamed("n_rows", "n_orders")
        .withColumnRenamed("value", "open_value")
    )
    want = QUERIES["order_priority_aging"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["o_orderpriority", "age_bucket"]),
        _sorted(want, ["o_orderpriority", "age_bucket"]),
        check_dtype=False,
    )


def test_assortativity_matches_graph_assortativity(spark):
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_suppkey", "l_partkey")
        .distinct()
    )
    got = api.assortativity(li, "l_suppkey", "l_partkey")
    want = QUERIES["graph_assortativity"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_edges"]), _sorted(want, ["n_edges"]),
        check_dtype=False,
    )


def test_breadth_hist_matches_brand_breadth(spark):
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    cb = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("o_custkey", "p_brand")
    )
    got = (
        api.breadth_hist(cb, "o_custkey", "p_brand")
        .withColumnRenamed("breadth", "n_brands")
        .withColumnRenamed("n_entities", "n_customers")
    )
    want = QUERIES["brand_breadth"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["n_brands"]), _sorted(want, ["n_brands"]),
        check_dtype=False,
    )


def test_band_rollup_matches_discount_band_rev(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.floor(F.col("l_discount") * 100 + 0.5)
        .cast("int")
        .alias("discount_pct"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("given"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
    )
    got = (
        api.band_rollup(
            li, "discount_pct",
            val_cols={"revenue": "rev", "discount_given": "given"},
        )
        .withColumnRenamed("band", "discount_pct")
        .withColumnRenamed("n_rows", "n_lines")
    )
    qty = li.groupBy(F.col("discount_pct")).agg(
        F.sum("qty").cast("long").alias("total_qty")
    )
    got = got.join(qty, "discount_pct")
    want = QUERIES["discount_band_rev"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["discount_pct"]), _sorted(want, ["discount_pct"]),
        check_dtype=False,
    )


def test_json_field_stats_matches_events_props_stats(spark):
    got = (
        api.json_field_stats(_events(spark), ["event_type"], "props", "$.k")
        .withColumnRenamed("sum", "sum_k")
        .withColumnRenamed("avg", "avg_k")
        .withColumnRenamed("min", "min_k")
        .withColumnRenamed("max", "max_k")
    )
    want = QUERIES["events_props_stats"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type"]), _sorted(want, ["event_type"]),
        check_dtype=False,
    )


def test_loglog_elasticity_matches_price_elasticity(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    demand = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("double")
        .alias("qty")
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    pq = demand.join(F.broadcast(part), demand.l_partkey == part.p_partkey)
    got = api.loglog_elasticity(
        pq, "p_retailprice", "qty", by=["p_brand"]
    ).withColumnRenamed("n", "n_parts")
    want = QUERIES["price_elasticity"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["p_brand"]), _sorted(want, ["p_brand"]),
        check_dtype=False,
    )


def test_resample_hour_matches_rollup_timeseries_hour_slice(spark):
    from pyspark.sql import functions as F

    got = (
        api.resample(
            _events(spark), "ts", "value", grain="hour",
            keys=["event_type"],
        )
        .select(
            "event_type", "bucket",
            F.col("n").cast("long").alias("n_events"),
            F.round("sum_value", 4).alias("sum_value"),
        )
    )
    want = (
        QUERIES["rollup_timeseries"](spark, SF_DIR)
        .filter(F.col("resolution") == "hour")
        .select("event_type", "bucket", "n_events", "sum_value")
    )
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type", "bucket"]),
        _sorted(want, ["event_type", "bucket"]),
        check_dtype=False,
    )


def test_gapfill_ffill_matches_rollup_gapfill_locf(spark):
    """The generic gapfill on an hour-index series must reproduce the
    certified LOCF rollup: same dense grid, same carried values."""
    from pyspark.sql import functions as F

    hourly = (
        _events(spark)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.round(F.sum("value"), 4).alias("sum_value"))
        .withColumn(
            "hidx",
            (F.unix_micros(F.col("bucket").cast("timestamp"))
             / 3_600_000_000).cast("long"),
        )
    )
    got = (
        api.gapfill(hourly, ["event_type"], "hidx", "sum_value",
                    method="ffill")
        .select(
            "event_type",
            F.timestamp_micros(
                (F.col("hidx") * 3_600_000_000).cast("long")
            ).alias("bucket"),
            (~F.col("is_observed")).cast("int").alias("filled"),
            F.round("sum_value", 4).alias("locf_sum_value"),
        )
    )
    want = QUERIES["rollup_gapfill"](spark, SF_DIR).select(
        "event_type",
        F.col("bucket").cast("timestamp").alias("bucket"),
        "filled",
        "locf_sum_value",
    )
    pd.testing.assert_frame_equal(
        _sorted(got, ["event_type", "bucket"]),
        _sorted(want, ["event_type", "bucket"]),
        check_dtype=False,
    )


# ---------------------------------------------------------------------------
# round-11 batch: §2.BB twins
# ---------------------------------------------------------------------------


def test_calc_check_matches_xbrl_calc_check(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.sources_sinks import _xbrl_supersede_facts
    from secdb_spark.operators.xbrl_analytics import GEN_CIKS

    facts = (
        _xbrl_supersede_facts(spark, SF_DIR)
        .filter(F.col("cik").isin(*GEN_CIKS) & (F.size("dims") == 0))
        .withColumn("period_end", F.coalesce("period_end", "period_instant"))
        .select("cik", "period_end", "concept", "value_num")
    )
    got = api.calc_check(
        facts, ["cik", "period_end"], "concept", "value_num",
        [("assets_eq_liab_plus_equity", "us-gaap:Assets",
          ["us-gaap:Liabilities", "us-gaap:StockholdersEquity"])],
    )
    want = QUERIES["xbrl_calc_check"](spark, SF_DIR).filter(
        F.col("rule_id") == "assets_eq_liab_plus_equity"
    )
    cols = ["cik", "period_end", "rule_id", "reported", "computed",
            "delta", "status"]
    pd.testing.assert_frame_equal(
        _sorted(got.select(cols), ["cik", "period_end"]),
        _sorted(want.select(cols), ["cik", "period_end"]),
        check_dtype=False,
    )


def test_bfs_layers_matches_graph_bfs_layers(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras37 import COSUPPLY_MIN_ORDERS

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = os_.alias("a"), os_.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("ea"), F.col("b.s").alias("eb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= COSUPPLY_MIN_ORDERS)
        .select("ea", "eb")
    )
    got = api.bfs_layers(edges, "ea", "eb", n_seeds=3, hops=3)
    want = QUERIES["graph_bfs_layers"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["hop"]), _sorted(want, ["hop"]), check_dtype=False
    )


def test_nearest_value_join_matches_join_nearest_value(spark):
    sup = spark.read.parquet(f"{SF_DIR}/supplier.parquet").withColumnRenamed(
        "s_nationkey", "nk"
    )
    cus = spark.read.parquet(f"{SF_DIR}/customer.parquet").withColumnRenamed(
        "c_nationkey", "nk"
    )
    got = api.nearest_value_join(
        sup, cus, "nk", "s_suppkey", "s_acctbal", "c_custkey", "c_acctbal",
        scale=2,
    )
    want = QUERIES["join_nearest_value"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(
            got.withColumnRenamed("nearest_key", "nearest_custkey")
               .withColumnRenamed("diff_q", "diff_cents"),
            ["s_suppkey"],
        ),
        _sorted(want, ["s_suppkey"]),
        check_dtype=False,
    )


def test_largest_remainder_alloc_matches_mix_token_budget(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras38 import (
        MIX_BUDGET,
        MIX_TEMP,
    )

    ts = (
        _docs(spark)
        .select(
            "source",
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda x: x != F.lit(""),
                )
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    got = api.largest_remainder_alloc(
        ts, "source", "n_tokens", MIX_BUDGET, MIX_TEMP
    )
    want = QUERIES["mix_token_budget"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got.withColumnRenamed("alloc", "alloc_tokens"), ["source"]),
        _sorted(want, ["source"]),
        check_dtype=False,
    )


def test_pcm_frame_rms_matches_mm_audio_frame_rms(spark):
    from secdb_spark.operators.mm_extras import AUDIO_FRAME
    from secdb_spark.operators.mm_extras import mm_audio_frame_rms  # noqa: F401

    # feed the op's own synth stage output through the generic decoder
    import secdb_spark.operators.mm_extras as mm
    ids = mm._doc_ids(spark, SF_DIR)
    import numpy as np

    def synth(batches):
        for b in batches:
            i = np.arange(mm.AUDIO_N, dtype=np.int64)
            out = []
            for d in b["doc_id"].to_numpy():
                v = (d * mm.A_MUL + i * mm.A_STEP) % mm.AUDIO_MOD - 32768
                out.append((int(d), v.astype("<i2").tobytes()))
            yield pd.DataFrame(out, columns=["doc_id", "pcm"])

    pcm = ids.mapInPandas(synth, "doc_id long, pcm binary")
    got = api.pcm_frame_rms(pcm, "doc_id", "pcm", frame=AUDIO_FRAME)
    want = QUERIES["mm_audio_frame_rms"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_id", "frame_idx"]),
        _sorted(want, ["doc_id", "frame_idx"]),
        check_dtype=False,
    )


def test_image_histogram_matches_mm_image_hist(spark):
    import numpy as np

    import secdb_spark.operators.mm_extras as mm

    ids = mm._doc_ids(spark, SF_DIR)

    def synth(batches):
        for b in batches:
            y = np.arange(mm.IMG_H, dtype=np.int64)[:, None]
            x = np.arange(mm.IMG_W, dtype=np.int64)[None, :]
            out = []
            for d in b["doc_id"].to_numpy():
                p = (d * mm.P_MUL_D + y * mm.P_MUL_Y + x * mm.P_MUL_X) % 256
                out.append((int(d), p.astype(np.uint8).tobytes()))
            yield pd.DataFrame(out, columns=["doc_id", "img"])

    img = ids.mapInPandas(synth, "doc_id long, img binary")
    got = api.image_histogram(img, "doc_id", "img", bin_width=32)
    want = QUERIES["mm_image_hist"](spark, SF_DIR)
    pd.testing.assert_frame_equal(
        _sorted(got, ["doc_id", "bin"]),
        _sorted(want, ["doc_id", "bin"]),
        check_dtype=False,
    )


# ---------------------------------------------------------------------------
# round-12 adapters (SURVEY §2.BC twins)
# ---------------------------------------------------------------------------


def test_kl_uniform_reweight_matches_mix_kl_reweight(spark):
    from pyspark.sql import functions as F

    nt = _docs(spark).select(
        "source",
        F.size(
            F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda x: x != F.lit(""))
        ).alias("nt"),
    )
    got = _sorted(
        api.kl_uniform_reweight(nt, "source", "nt").withColumnRenamed(
            "mass", "n_tokens"
        ),
        ["source"],
    )
    want = _sorted(QUERIES["mix_kl_reweight"](spark, SF_DIR), ["source"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_scd2_merge_matches_apply_changes(spark):
    from pyspark.sql import functions as F

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    current = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = (
        c.filter(F.col("c_acctbal") < 0)
        .join(
            o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
                F.max(F.col("o_orderdate").cast("date"))
                .cast("string")
                .alias("change_date")
            ),
            "c_custkey",
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            "change_date",
            F.lit("WINBACK").alias("mktsegment"),
        )
    )
    got = _sorted(
        api.scd2_merge(current, changes, "custkey", "mktsegment"),
        ["custkey", "valid_from", "is_current"],
    )
    want = _sorted(
        QUERIES["scd2_apply_changes"](spark, SF_DIR),
        ["custkey", "valid_from", "is_current"],
    )
    pd.testing.assert_frame_equal(
        got[want.columns.tolist()], want, check_dtype=False
    )


def test_scd2_merge_passes_history_rows_of_changed_keys(spark):
    """A changed key's CLOSED history rows must pass through untouched —
    only the open version closes (the union-of-joins formulation
    silently dropped them; this pins the fix)."""
    from pyspark.sql import functions as F  # noqa: F401

    current = spark.createDataFrame(
        [
            (1, "A", "2020-01-01", "2021-01-01", False),  # history row
            (1, "B", "2021-01-01", None, True),           # open row
            (2, "C", "2020-01-01", None, True),           # untouched key
        ],
        "k long, attr string, valid_from string, valid_to string, "
        "is_current boolean",
    )
    changes = spark.createDataFrame(
        [(1, "2022-06-01", "Z")], "k long, change_date string, attr string"
    )
    rows = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in api.scd2_merge(current, changes, "k", "attr").collect()
    )
    assert rows == [
        (1, "A", "2020-01-01", "2021-01-01", False),   # history preserved
        (1, "B", "2021-01-01", "2022-06-01", False),   # open row closed
        (1, "Z", "2022-06-01", None, True),            # new open version
        (2, "C", "2020-01-01", None, True),
    ]


def test_url_dedup_matches_dedup_url_canonical(spark):
    from secdb_spark.operators.warehouse_extras40 import _raw_url_col

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", _raw_url_col().alias("url")
    )
    got = _sorted(
        api.url_dedup(c, "c_custkey", "url").withColumnRenamed(
            "keep_c_custkey", "keep_custkey"
        ),
        ["canonical_url"],
    )
    want = _sorted(
        QUERIES["dedup_url_canonical"](spark, SF_DIR), ["canonical_url"]
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_canonicalize_urls_idempotent(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras40 import _raw_url_col

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        _raw_url_col().alias("url")
    )
    once = api.canonicalize_urls(c, "url", "c1")
    twice = api.canonicalize_urls(once, "c1", "c2")
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


def test_cooccur_pairs_matches_cosupply_edges(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.warehouse_extras37 import COSUPPLY_MIN_ORDERS

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    got = _sorted(
        api.cooccur_pairs(os_, "o", "s", COSUPPLY_MIN_ORDERS)
        .withColumnRenamed("n1", "s1")
        .withColumnRenamed("n2", "s2")
        .withColumnRenamed("n", "n_orders"),
        ["s1", "s2"],
    )
    want = _sorted(QUERIES["graph_cosupply_edges"](spark, SF_DIR),
                   ["s1", "s2"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_seed_closeness_matches_graph_op(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    from secdb_spark.operators.warehouse_extras37 import COSUPPLY_MIN_ORDERS

    edges = api.cooccur_pairs(os_, "o", "s", COSUPPLY_MIN_ORDERS)
    got = _sorted(
        api.seed_closeness(edges, "n1", "n2", n_seeds=3, max_hops=20),
        ["seed"],
    )
    want = _sorted(QUERIES["graph_closeness_seeds"](spark, SF_DIR), ["seed"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_hypercube_check_matches_xbrl_dim_check(spark):
    from pyspark.sql import functions as F

    from secdb_spark.operators.sources_sinks import _xbrl_supersede_facts
    from secdb_spark.operators.xbrl_analytics2 import (
        XBRL_CUBE_CONCEPTS,
        XBRL_HYPERCUBE,
    )
    from secdb_spark.operators.xbrl_analytics import GEN_CIKS

    facts = (
        _xbrl_supersede_facts(spark, SF_DIR)
        .filter(F.col("cik").isin(*GEN_CIKS))
        .withColumn("period_end", F.coalesce("period_end", "period_instant"))
    )
    got = _sorted(
        api.hypercube_check(
            facts, "dims", "concept", ["cik", "period_end"],
            {a: list(m) for a, m in XBRL_HYPERCUBE},
            list(XBRL_CUBE_CONCEPTS),
        ).withColumnsRenamed(
            {"n_dim_rows": "n_dim_facts",
             "n_not_in_cube": "n_concept_not_in_cube"}
        ),
        ["cik", "period_end"],
    )
    want = _sorted(
        QUERIES["xbrl_dim_check"](spark, SF_DIR), ["cik", "period_end"]
    )
    pd.testing.assert_frame_equal(
        got[want.columns.tolist()], want, check_dtype=False
    )
