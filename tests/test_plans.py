"""Physical-plan regression tests — the 100 TB properties (SCALE.md) must
survive refactors: filter/column pushdown, broadcast joins, bounded
window state, partial aggregation. A green correctness suite with a
regressed plan is a silent 100x at scale; these tests fail loudly instead.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest

from conftest import SF_DIR, above_gates

from secdb_spark.registry import all_queries

QUERIES = all_queries()


def plan_of(spark, name: str) -> str:
    # NO_PIN: pinned (localCheckpoint'ed) frames truncate the visible
    # plan at the checkpoint — these tests assert the LOGICAL shape, so
    # build the frame with pinning disabled (the pin only changes where
    # materialization happens, never the operator structure under it).
    os.environ["SECDB_SPARK_NO_PIN"] = "1"
    try:
        df = QUERIES[name](spark, SF_DIR)
    finally:
        os.environ.pop("SECDB_SPARK_NO_PIN", None)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_scan_pushdown_and_pruning(spark):
    p = plan_of(spark, "agg_group")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = [c.split(":")[0] for c in schema.split(",")]
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        f"column pruning regressed: scan reads {cols}"
    )
    assert p.count("HashAggregate") >= 2, "partial aggregation regressed"


def test_dimension_joins_are_broadcast(spark):
    p = plan_of(spark, "join_inner")
    assert "BroadcastHashJoin" in p, "nation must join as broadcast"
    p2 = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in p2
    # formatted mode prints node headers like "(7) Exchange"; shuffle
    # exchanges are plain Exchange nodes, broadcast ones are BroadcastExchange.
    # ONE shuffle is expected (the final 5-group aggregate); none may come
    # from the joins themselves.
    assert len(re.findall(r"\(\d+\) Exchange\b", p2)) <= 1, (
        "join_broadcast must have NO join-side shuffles (only the final agg)"
    )


def test_topk_group_state_is_bounded(spark):
    p = plan_of(spark, "win_topk_group")
    assert "WindowGroupLimit" in p, (
        "rn<=k filter no longer pushes into the window sort (unbounded state)"
    )


def test_global_topk_avoids_full_sort(spark):
    p = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in p, "global top-k must be heap+merge, not full sort"


def test_projection_scan_pruned(spark):
    p = plan_of(spark, "src_parquet")
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = [c.split(":")[0] for c in schema.split(",")]
    assert sorted(cols) == ["l_quantity", "l_returnflag"], cols
    assert "GreaterThan(l_quantity,40.0)" in p


def test_correlated_subquery_decorrelated(spark):
    """Catalyst must rewrite the correlated scalar subquery into a join,
    not a per-row subquery execution."""
    p = plan_of(spark, "sql_subquery_scalar")
    assert re.search(r"Join|HashJoin", p), "decorrelation regressed"


def test_no_cartesian_in_fact_joins(spark):
    for name in ["join_inner", "join_multikey", "join_theta", "sql_tpch_q5"]:
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, f"{name} degenerated to a cartesian"


def test_quality_rules_single_scan_per_table(spark):
    """All rules of a table must evaluate in ONE scan (conditional aggs),
    the referential check as a broadcast join — N rules must not mean N
    passes over a 100 TB table."""
    p = plan_of(spark, "quality_rules")
    # formatted mode mentions each node in tree AND details: count ids
    n_scans = len(set(re.findall(r"\((\d+)\) Scan parquet", p)))
    assert n_scans == 3, f"expected one scan each (lineitem, orders, customer), got {n_scans}"
    assert "BroadcastHashJoin" in p, "referential check must broadcast the key side"
    # global aggs gather partials via Exchange SinglePartition (1 row per
    # partition — free); what must NOT appear is a data shuffle
    assert "Exchange hashpartitioning" not in p, (
        "quality_rules must not hash-shuffle data (global conditional aggs)"
    )


def test_xbrl_supersede_broadcast_semi(spark):
    """Supersedence winners are decided on the tiny filings table and
    applied to facts via broadcast semi-join — the facts must not shuffle."""
    p = plan_of(spark, "xbrl_supersede")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p), (
        "facts filter must be a broadcast LEFT SEMI join"
    )


def test_tpch_q10_pushdown_and_broadcast(spark):
    """Q10: date-range predicate reaches the orders scan; dimension joins
    broadcast; exactly one shuffle (the groupBy)."""
    p = plan_of(spark, "sql_tpch_q10")
    assert "GreaterThanOrEqual(o_orderdate" in p, "date filter must push to scan"
    assert "BroadcastHashJoin" in p


def test_skew_salted_join_is_sort_merge(spark):
    p = plan_of(spark, "join_skew_salted")
    # The whole point of the salt is spreading a shuffle; a broadcast
    # plan would mean the exercised path is not the one documented.
    assert "SortMergeJoin" in p, "salted join must exercise the shuffle path"
    assert "BroadcastHashJoin" not in p
    # salt must be part of the shuffle key (spreads each hot key N ways)
    assert re.search(r"hashpartitioning\([^)]*salt", p), (
        "salt missing from the join's shuffle partitioning"
    )


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval side of the contamination join is tiny by design (held-out
    benchmarks vs a 100 TB train corpus) — it must arrive by broadcast so
    the train n-gram stream never shuffles for the join."""
    p = plan_of(spark, "decontaminate")
    assert "BroadcastHashJoin" in p, "eval n-gram set must broadcast"


def test_dedup_near_verify_first_has_no_pre_verify_shuffle(spark):
    """The broadcast verify-first kernel: candidate pairs must meet the
    per-doc masks via broadcast joins (the explosion stays in one codegen
    stage); the only hash-shuffles are the token/signature aggregations
    and the final verified-pair distinct."""
    p = plan_of(spark, "dedup_near")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 3, (
        "mask sides (x2) + vid dictionary must all join as broadcast"
    )


def test_sessionize_single_exchange(spark):
    """events_sessionize: both window specs + the final groupBy share the
    user_id partitioning — exactly ONE shuffle in the whole plan."""
    p = plan_of(spark, "events_sessionize")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_rollup_reaggregates_partials_not_raw(spark):
    """rollup_timeseries: the daily resolution must derive from the
    hourly PARTIALS, never a second pass over raw events — the
    hypertable invariant.  The round-9 single-scan explode form makes
    this a STATIC property (the old union-of-branches form needed
    runtime ReusedExchange to dodge the rescan): exactly one events
    scan and an Expand/explode feeding one re-aggregate."""
    df = QUERIES["rollup_timeseries"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]  # AQE echoes both
    assert final.count("FileScan parquet") == 1, final
    assert "Generate explode" in final, final


def test_partitioned_sink_prunes_directories(spark, tmp_path):
    """A year-filtered read over snk_partitioned's layout must carry the
    predicate as a PartitionFilter (directory pruning), not a data filter."""
    import os

    from secdb_spark.catalog import table
    import pyspark.sql.functions as F

    o = table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    out = str(tmp_path)
    o.repartition("o_year").write.mode("overwrite").partitionBy("o_year").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    p = buf.getvalue()
    assert re.search(r"PartitionFilters: \[.*o_year.*1995", p), p
    # one task-output file per partition directory (no small-file explosion)
    years = [d for d in os.listdir(out) if d.startswith("o_year=")]
    assert years, out
    for yd in years:
        files = [f for f in os.listdir(os.path.join(out, yd)) if f.endswith(".parquet")]
        assert len(files) == 1, (yd, files)


def test_funnel_single_event_shuffle(spark):
    """funnel_events: both stage-flag windows and the per-user aggregate
    share the user_id partitioning — exactly one full-data Exchange (the
    second exchange in the plan carries only the 150 per-user flag rows)."""
    p = plan_of(spark, "funnel_events")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges <= 2, p
    # the windows must not introduce their own exchanges
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p


def test_retention_cohort_shuffles_events_once(spark):
    """retention_cohort: cohort and active-week branches must share ONE
    shuffle of the events projection (ReusedExchange at runtime)."""
    df = QUERIES["retention_cohort"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_ewma_single_window_single_shuffle(spark):
    """win_ewma: all K lag terms share one window spec — ONE Window node
    over ONE Exchange (K separate windows would K-plicate the sort)."""
    p = plan_of(spark, "win_ewma")
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_anomaly_zscore_broadcasts_stats(spark):
    """anomaly_zscore: the |types|-row stats side must broadcast; raw
    events shuffle once (the hourly groupBy)."""
    p = plan_of(spark, "anomaly_zscore")
    assert "BroadcastHashJoin" in p, p


def test_fuzzy_join_is_equi_on_block_key(spark):
    """join_fuzzy must hash-join on the block key (brand) — a nested-loop
    cross join would be the O(n^2) disaster the blocking exists to avoid."""
    p = plan_of(spark, "join_fuzzy")
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p
    assert "HashJoin" in p, p


def test_concurrent_intervals_single_shuffle(spark):
    """concurrent_intervals: union + sweep window + max all share the
    user_id partitioning — exactly ONE Exchange over the data."""
    p = plan_of(spark, "concurrent_intervals")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_twap_single_shuffle(spark):
    """twap: the lead() window and the per-user aggregate share one
    user_id Exchange."""
    p = plan_of(spark, "twap")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_scd2_single_shuffle(spark):
    """scd2_history: both window passes share one user_id Exchange."""
    p = plan_of(spark, "scd2_history")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p


def test_histogram_partial_agg(spark):
    """agg_histogram: map-side combine — two HashAggregate levels around
    a bucket-key Exchange; the shuffle moves buckets, not orders."""
    p = plan_of(spark, "agg_histogram")
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 2, p


def test_bm25_broadcasts_model_sides(spark):
    """text_bm25: df and corpus stats are model-sized — both must arrive
    via BroadcastExchange, never a shuffle of the tf side per join."""
    p = plan_of(spark, "text_bm25")
    assert len(re.findall(r"BroadcastExchange", p)) >= 2, p


def test_text_chunk_zero_shuffle(spark):
    """text_chunk: chunking is map-only — no Exchange anywhere."""
    p = plan_of(spark, "text_chunk")
    assert "Exchange" not in p, p


def test_agg_mad_broadcasts_medians(spark):
    """agg_mad: pass-1 medians are |groups| rows — must broadcast back
    onto the fact stream, never shuffle the facts to meet them."""
    p = plan_of(spark, "agg_mad")
    assert "BroadcastHashJoin" in p, p


def test_event_transitions_normalizes_aggregate_not_stream(spark):
    """event_transitions: two Window nodes (lead over the stream, row
    normalization over the |types|^2 aggregate) and the transition count
    must partial-aggregate before its shuffle — the normalization window
    must NOT run over raw events (that would be a second full-stream
    sort)."""
    p = plan_of(spark, "event_transitions")
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p
    assert "partial_count" in p, p
    # the normalization window consumes the aggregate's output columns
    norm = p[p.rindex("Window") :]
    assert "from_type" in norm, p


def test_dpp_prunes_fact_partitions_dynamically(spark):
    """join_dpp: the fact scan's PartitionFilters must carry a
    dynamicpruningexpression (runtime pruning from the dim broadcast)
    and NO static literal year filter — the dim restriction is on a
    column Catalyst cannot propagate."""
    p = plan_of(spark, "join_dpp")
    m = re.search(r"PartitionFilters: \[[^\]]*\]", p)
    assert m and "dynamicpruningexpression" in m.group(0), p
    assert "IN (19" not in m.group(0), m.group(0)


def test_cdc_upsert_single_key_shuffle(spark):
    """cdc_upsert: version explode pipelines with the scan, then both
    windows (row_number + version count) share ONE key shuffle — a second
    Exchange would mean the MERGE kernel re-shuffles the log."""
    p = plan_of(spark, "cdc_upsert")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert "Generate" in p, p  # explode fused before the shuffle


def test_unigram_logprob_single_tokenize_scan(spark):
    """text_unigram_logprob: corpus frequency and grand total re-aggregate
    the tf table — the ADAPTIVE plan must not tokenize the text three
    times.  The documents scan appears once per un-reused branch in the
    static plan; what must hold is that every branch aggregates from tf
    (three HashAggregate pairs) and the freq/tot sides reach the join as
    broadcasts, never shuffling the tf stream to meet them."""
    p = plan_of(spark, "text_unigram_logprob")
    assert "BroadcastExchange" in p, p
    assert p.count("partial_sum") >= 2, p


def test_yoy_growth_broadcasts_dims_and_windows_aggregate(spark):
    """yoy_growth: customer + nation broadcast onto the orders scan (no
    fact shuffle for the joins); the lag window runs AFTER the (nation,
    year) aggregate, so its sort touches |nations|x|years| rows only."""
    p = plan_of(spark, "yoy_growth")
    assert len(re.findall(r"BroadcastExchange", p)) >= 2, p
    # formatted tree numbers nodes bottom-up: the Window's id must exceed
    # every HashAggregate id (window consumes the aggregate, not the scan)
    win = int(re.search(r"\((\d+)\) Window", p).group(1))
    aggs = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", p)]
    assert aggs and win > max(aggs), p


def test_attribution_window_and_agg_share_shuffle(spark):
    """attribution_last_touch: one Exchange on user_id for the window;
    the channel aggregate partial-aggregates map-side afterwards (its
    Exchange moves |channels| rows, acceptable); the events stream must
    not be shuffled twice on user_id."""
    p = plan_of(spark, "attribution_last_touch")
    assert p.count("hashpartitioning(user_id") == 1, p


def test_winsorize_bounds_broadcast_back(spark):
    """winsorize_group: the 3-row bounds table joins the fact scan as a
    broadcast — shuffling the fact to meet 3 rows would be the classic
    scale inversion."""
    p = plan_of(spark, "winsorize_group")
    assert "BroadcastHashJoin" in p, p


def test_running_distinct_single_exchange(spark):
    """win_running_distinct: both windows partition by user_id alone —
    ONE Exchange, two Sorts (the (user, type)-window formulation pays a
    second shuffle; regression here means that formulation crept back)."""
    p = plan_of(spark, "win_running_distinct")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p


def test_rolling_active_users_expands_aggregate_not_events(spark):
    """rolling_active_users: the x7 contribution expansion (Generate) must
    consume the DISTINCT (user, day) aggregate, not the raw event stream —
    bottom-up node ids: Generate AFTER the first HashAggregate."""
    p = plan_of(spark, "rolling_active_users")
    gen = int(re.search(r"\((\d+)\) Generate", p).group(1))
    first_agg = min(int(m) for m in re.findall(r"\((\d+)\) HashAggregate", p))
    assert gen > first_agg, p


def test_join_bucketed_has_no_join_exchange(spark):
    """join_bucketed: write-time co-location + merge hint — the ONLY
    Exchange in the plan is the post-join aggregate's; neither join side
    may shuffle."""
    p = plan_of(spark, "join_bucketed")
    assert "SortMergeJoin" in p, p
    exchanges = re.findall(r"\(\d+\) Exchange\b", p)
    assert len(exchanges) <= 1, p


def test_tfidf_idf_side_broadcasts(spark):
    """tfidf_topk: the vocabulary-bounded idf table must BROADCAST onto
    the tf stream — a hash join would shuffle tf by token and collapse on
    Zipf-hot terms (the text_unigram_logprob lesson, round 4)."""
    p = plan_of(spark, "tfidf_topk")
    assert "BroadcastHashJoin" in p, p
    # the tf->idf join itself must never be a shuffle join (the idf
    # branch's own df count may legitimately exchange partial-aggregated
    # term counts — those are map-side combined and bounded)
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_join_salted_runs_on_salted_shuffle(spark):
    """join_salted: the join must run on the (key, salt)-partitioned
    shuffle path (ShuffledHashJoin), never a broadcast — a broadcast has
    no reducer skew and would silently bypass the strategy the op
    demonstrates."""
    p = plan_of(spark, "join_salted")
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" not in p, p
    assert "_salt" in p, "salt column missing from the join keys"


def test_pii_scrub_is_scan_fused(spark):
    """text_pii_scrub: pure projection — zero Exchanges; the regexp chain
    must fuse into the scan's WholeStageCodegen."""
    p = plan_of(spark, "text_pii_scrub")
    assert not re.findall(r"\(\d+\) Exchange\b", p), p
    assert "codegen id" in p, p


def test_ohlc_single_exchange(spark):
    """ts_ohlc: both row_number windows and the final aggregate share one
    (event_type, bucket) partitioning — exactly one Exchange."""
    p = plan_of(spark, "ts_ohlc")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


def test_minhash_single_exchange(spark):
    """minhash_sig: tokenize + one doc_id aggregate — one Exchange, all
    four signature mins in the same pass."""
    p = plan_of(spark, "minhash_sig")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, p


# --- round-6 batch 2 (warehouse_extras4) -----------------------------------


def test_single_shuffle_window_agg_ops(spark):
    """win_drawdown / events_burst / ts_vwap: the window (or agg) and the
    final aggregate share ONE hash partitioning — exactly one shuffle
    Exchange in the whole plan."""
    for name in ("win_drawdown", "events_burst", "ts_vwap"):
        p = plan_of(spark, name)
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
        assert n_ex == 1, f"{name}: expected 1 shuffle Exchange, plan has {n_ex}"


def test_corpus_ngram_topk_bounded_topk_and_partial_agg(spark):
    p = plan_of(spark, "corpus_ngram_topk")
    assert "TakeOrderedAndProject" in p, "top-k must be heap+merge, not full sort"
    assert p.count("HashAggregate") >= 2, "partial aggregation regressed"


def test_data_skew_report_broadcasts_scalar_total(spark):
    """The 1-row totals side must broadcast onto the key counts; the
    top-k must stay bounded."""
    p = plan_of(spark, "data_skew_report")
    assert "BroadcastExchange" in p
    assert "TakeOrderedAndProject" in p


def test_text_quality_aggregates_are_partial(spark):
    """text_repetition / text_entropy_tokens / text_ttr: every Exchange
    carries partial aggregates (map-side combine before each of the two
    shuffles), never the raw exploded token stream."""
    for name in ("text_repetition", "text_entropy_tokens", "text_ttr"):
        p = plan_of(spark, name)
        assert p.count("HashAggregate") >= 4, (
            f"{name}: two-level partial aggregation regressed"
        )
        assert "Generate" in p, f"{name}: explode should be scan-fused"


# --- round-6 batch 3 (warehouse_extras5) -----------------------------------


def test_custkey_window_ops_single_shuffle(spark):
    """sql_any_all / sql_distinct_on / purchase_gaps: window(s) and any
    following grouped aggregate share ONE o_custkey hash partitioning —
    exactly one shuffle Exchange per plan."""
    for name in ("sql_any_all", "sql_distinct_on", "purchase_gaps"):
        p = plan_of(spark, name)
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
        assert n_ex == 1, f"{name}: expected 1 shuffle Exchange, plan has {n_ex}"


def test_moment_pass_ops_partial_aggregation(spark):
    """agg_corr_matrix / part_xyz_cv / revenue_bridge: the decimal moment
    sums must combine map-side (two-level HashAggregate) — shipping raw
    rows to the reduce side is the 100x-at-scale failure."""
    for name in ("agg_corr_matrix", "part_xyz_cv", "revenue_bridge"):
        p = plan_of(spark, name)
        assert p.count("HashAggregate") >= 2, (
            f"{name}: partial aggregation regressed"
        )


def test_customer_churn_broadcasts_anchor_and_dims(spark):
    """The 1-row anchor and the 25-row nation dim must broadcast; the
    only shuffle keys are o_custkey (last-order agg + customer join) and
    the final n_name rollup."""
    p = plan_of(spark, "customer_churn")
    assert p.count("BroadcastExchange") >= 2, (
        "anchor scalar and nation dim must both broadcast"
    )
    assert "CartesianProduct" not in p, (
        "the scalar anchor cross join must be a BroadcastNestedLoopJoin"
    )


def test_audit_dup_payments_blocks_on_equi_keys(spark):
    """The self-join must hash-partition BOTH sides on (custkey, bucket)
    — a SortMergeJoin/ShuffledHashJoin on the composite key, never a
    cartesian with post-filters (quadratic at scale)."""
    p = plan_of(spark, "audit_dup_payments")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_agg_weighted_median_reuses_flag_exchange(spark):
    """Both windows (cumulative RANGE + partition total) and the closing
    groupBy ride the same l_returnflag partitioning: one shuffle."""
    p = plan_of(spark, "agg_weighted_median")
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_ex == 1, f"expected 1 shuffle Exchange, plan has {n_ex}"


# --- round-6 batch 4 (warehouse_extras6) -----------------------------------


def test_embed_norm_is_scan_fused(spark):
    """The quantized array fold must run inside the scan projection —
    zero Exchanges, no Generate/explode."""
    p = plan_of(spark, "embed_norm")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 0, (
        "embed_norm must be map-only"
    )
    assert "Generate" not in p, "fold must not explode the array"


def test_ts_autocorr_single_event_type_shuffle(spark):
    """Daily pre-agg, lag window and moment rollup all ride event_type/
    (type, day) partitionings with map-side combine before each."""
    p = plan_of(spark, "ts_autocorr")
    assert p.count("HashAggregate") >= 4, "partial aggregation regressed"


def test_mix_temperature_windows_run_on_aggregate(spark):
    """The normalization windows must run AFTER the count-by-source
    aggregate (model-sized input), never over the raw document stream:
    the Window nodes sit above a HashAggregate, and the doc scan reads
    only the source column."""
    p = plan_of(spark, "mix_temperature")
    schema = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    assert "text" not in schema, f"doc scan must prune to source, got {schema}"
    assert p.count("HashAggregate") >= 2


def test_sql_values_inline_broadcasts_the_values_relation(spark):
    """The 4-row VALUES dim must broadcast onto the customer scan (the
    whole point of inline dims at scale)."""
    p = plan_of(spark, "sql_values_inline")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "LocalTableScan" in p


# --- round-6 batch 5 (ml_prep) ---------------------------------------------


def test_feat_onehot_is_scan_fused(spark):
    """One-hot encoding must be a pure projection: zero Exchanges."""
    p = plan_of(spark, "feat_onehot")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 0


def test_feat_scale_apply_is_broadcast(spark):
    """The fitted 5-row moment model must broadcast back onto the scan —
    the apply pass never shuffles the fact side."""
    p = plan_of(spark, "feat_scale")
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 2, "fit pass must combine map-side"


def test_split_tag_is_map_side(spark):
    """The split predicate is scan-fused; only the 3-key audit aggregate
    shuffles."""
    p = plan_of(spark, "split_train_test")
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_ex == 1, f"expected 1 audit-agg Exchange, plan has {n_ex}"


def test_mix_apply_rates_broadcast(spark):
    """Per-source rates (model-sized) broadcast onto the document scan;
    the doc scan prunes to (doc_id, source)."""
    p = plan_of(spark, "mix_apply")
    assert "BroadcastHashJoin" in p
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert any("text" not in s for s in schemas), "doc scan must prune text"


def test_graph_khop_seeds_broadcast(spark):
    """The 20-seed frontier must broadcast into the hop joins."""
    p = plan_of(spark, "graph_khop")
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p


# --- round-6 batch 6 (similarity_extras) -----------------------------------


def test_ann_lsh_exact_signatures_scan_fused(spark):
    """The 8 SRP dot products must compute as zip_with/aggregate folds
    inside the scan — no Generate (explode) anywhere, only the bucket
    rollup shuffles."""
    p = plan_of(spark, "ann_lsh_exact")
    assert "Generate" not in p, "signature must not explode dims x planes"
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_ex <= 2, f"expected only bucket-rollup exchanges, got {n_ex}"


def test_sim_containment_joins_on_term_postings(spark, monkeypatch):
    """Below the all-pairs gate (r13): ONE deliberate broadcast
    nested-loop pass whose join condition fuses the popcount floor —
    no unfiltered cartesian row ever materializes.  Above the gate:
    candidates must form through the term equi-join (posting lists),
    never a cartesian of documents."""
    p = plan_of(spark, "sim_containment")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p and "bit_count" in p, (
        "gated bitmask kernel must fuse the common-terms floor into the "
        "broadcast nested-loop condition"
    )
    above_gates(monkeypatch)
    p2 = plan_of(spark, "sim_containment")
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2


def test_events_type_overlap_single_flag_pass(spark):
    """Pair sums must run over the per-user flag table (one user_id
    aggregate feeding one global aggregate) — never a per-pair
    self-join of the event stream."""
    p = plan_of(spark, "events_type_overlap")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert p.count("HashAggregate") >= 4


# --- round-6 batch 9 (geo_extras) ------------------------------------------


def test_geo_neighbor_join_blocks_on_cells(spark):
    """The radius self-join must be an equi-join on the grid cell id —
    never a cartesian/theta join over all point pairs."""
    p = plan_of(spark, "geo_neighbor_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_geo_grid_density_bounded_topk(spark):
    p = plan_of(spark, "geo_grid_density")
    assert "TakeOrderedAndProject" in p
    assert p.count("HashAggregate") >= 2


# --- round-6 batch 10 (warehouse_extras7) ----------------------------------


def test_win_reset_cumsum_single_user_exchange(spark):
    """The boundary lag, session numbering, and session-scoped running
    sum must all ride ONE user_id hash exchange (session_id is a
    refinement of the same sorted run)."""
    p = plan_of(spark, "win_reset_cumsum")
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_ex == 1, f"expected 1 user_id Exchange, plan has {n_ex}"


def test_orders_linecount_dist_cascaded_partial_agg(spark):
    p = plan_of(spark, "orders_linecount_dist")
    assert p.count("HashAggregate") >= 4, "both aggregates must combine map-side"


# --- round-6 batch 11 (sketch_extras) --------------------------------------


def test_cms_sketch_rows_are_partial_aggregates(spark):
    """Each CMS row is a bounded-key grouped count with map-side
    combine — the sketch IS the partial aggregate."""
    p = plan_of(spark, "cms_sketch")
    assert p.count("HashAggregate") >= 2


def test_bloom_probe_words_broadcast(spark):
    """The packed word table must broadcast into every probe join —
    shipping the filter to the data is the op's value proposition."""
    p = plan_of(spark, "bloom_build")
    assert p.count("BroadcastExchange") >= 3


def test_sample_bottomk_is_heap_merge(spark):
    p = plan_of(spark, "sample_bottomk")
    assert "TakeOrderedAndProject" in p, "bottom-k must be heap+merge"


# --- round-6 batch 13 (ivm_extras) -----------------------------------------


def test_ivm_merge_is_state_sized(spark):
    """The IVM merge re-aggregates (month, count, sum) PARTIALS — the
    union side carries state rows, never raw orders; partial agg on
    both branches."""
    p = plan_of(spark, "ivm_delta_agg")
    assert p.count("HashAggregate") >= 4, "both branch states must pre-aggregate"
    assert "Union" in p


def test_win_topk_ties_bounded_state(spark):
    """rank()<=k must push into the window sort (WindowGroupLimit) —
    bounded per-partition state like the row_number variant."""
    p = plan_of(spark, "win_topk_ties")
    assert "WindowGroupLimit" in p


# --- round-6 batches 14-15 (stats/recsys) ----------------------------------


def test_cf_seeds_broadcast_into_cooccurrence(spark):
    """The top-frequency seed list must broadcast into the basket join
    (the frontier bound); per-seed ranking is WindowGroupLimit."""
    p = plan_of(spark, "cf_item_similarity")
    assert "BroadcastExchange" in p
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_pair_generators_never_cartesian(spark):
    """simhash_pairs / lsh_eval candidate generation must flow through
    blocking equi-joins, never a cartesian of documents."""
    for name in ("simhash_pairs", "lsh_eval"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian appeared"


def test_stats_ops_partial_aggregation(spark):
    """conversion_rate_ci / abtest_ztest moment passes must combine
    map-side."""
    for name in ("conversion_rate_ci", "abtest_ztest"):
        p = plan_of(spark, name)
        assert p.count("HashAggregate") >= 2, f"{name}: partial agg regressed"


def test_fill_forward_and_moving_median_single_exchange(spark):
    """win_fill_forward rides ONE user exchange; win_moving_median's
    window runs over the daily aggregate (two partial-agg levels before
    the window sort)."""
    p = plan_of(spark, "win_fill_forward")
    n_ex = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n_ex == 1, f"win_fill_forward: expected 1 Exchange, got {n_ex}"
    p2 = plan_of(spark, "win_moving_median")
    assert p2.count("HashAggregate") >= 2, "daily pre-agg must combine map-side"


# --- round-7 plan pins ------------------------------------------------------

def test_matryoshka_is_map_only(spark):
    """embed_matryoshka_truncate is a scan-fused fold: NO Exchange of any
    kind may appear — at 100 TB this op must cost exactly one read."""
    p = plan_of(spark, "embed_matryoshka_truncate")
    assert "Exchange" not in p, "map-only op grew a shuffle"


def test_quality_gate_partial_agg_single_shuffle(spark):
    """doc_quality_gate: one tokenize pass -> map-side partial aggregate
    -> ONE shuffle on the source key."""
    p = plan_of(spark, "doc_quality_gate")
    assert p.count("HashAggregate") >= 2, "partial aggregation regressed"
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, (
        "doc_quality_gate must shuffle exactly once (the source agg)"
    )


def test_fertility_partial_agg_single_shuffle(spark):
    p = plan_of(spark, "token_fertility_by_lang")
    assert p.count("HashAggregate") >= 2
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_brand_return_rate_broadcasts_part(spark):
    p = plan_of(spark, "brand_return_rate")
    assert "BroadcastHashJoin" in p, "part dim must broadcast"
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, (
        "only the brand aggregate may shuffle"
    )


def test_nation_tax_rate_broadcasts_supplier(spark):
    p = plan_of(spark, "nation_tax_rate")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_pq_codes_broadcast_and_single_shuffle(spark):
    """embed_pq_codes: the 8 sub-centroids broadcast; the only shuffle is
    the final argmin groupBy on vec_id."""
    p = plan_of(spark, "embed_pq_codes")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_source_vocab_overlap_no_cartesian(spark):
    """Candidates must form only through the term-postings equi-join —
    a CartesianProduct here is the |sources|x|sources|x|vocab| blowup."""
    p = plan_of(spark, "source_vocab_overlap")
    assert "CartesianProduct" not in p


def test_round7_batch20_25_no_cartesian_pairs(spark):
    """The new pairwise generators (JS divergence, dup matrix, Theil-Sen
    day pairs, kNN reciprocity) must pair through equi-joins — a
    CartesianProduct is the all-pairs blowup their docstrings rule out."""
    for name in (
        "source_js_divergence",
        "cross_source_dup_matrix",
        "knn_reciprocity",
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian appeared"


def test_spearman_midranks_partial_agg_and_no_row_window(spark):
    """spearman_corr: the moment aggregate must combine map-side, and no
    window may run over row-sized input (the midrank spine is the only
    windowed frame, and it is distinct-value-sized)."""
    p = plan_of(spark, "spearman_corr")
    assert p.count("HashAggregate") >= 2, "partial aggregation regressed"
    assert "CartesianProduct" not in p


def test_audit_round_prices_single_shuffle(spark):
    """One combinable aggregate over the scan — exactly one Exchange."""
    p = plan_of(spark, "audit_round_prices")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 1


def test_term_burstiness_is_take_ordered(spark):
    """The top-k must be an ORDER-BY-complete TakeOrderedAndProject,
    never a global Sort + bare Limit."""
    p = plan_of(spark, "term_burstiness")
    assert "TakeOrderedAndProject" in p


def test_stopword_coverage_head_list_broadcast(spark):
    """The k-row head list must re-enter as a broadcast — a shuffle join
    against the 50-row frame would shuffle the vocabulary for nothing."""
    p = plan_of(spark, "corpus_stopword_coverage")
    assert "BroadcastHashJoin" in p


def test_graph_kcore_no_cartesian_and_partial_agg(spark):
    """Each peel round is degree-count + semi-join filtering; no round
    may degenerate into a cartesian."""
    p = plan_of(spark, "graph_kcore")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_asof_forward_single_user_shuffle(spark):
    """join_asof_forward: the union-tag kernel needs exactly one shuffle
    (user_id) — a second data-sized Exchange means the frame flip
    introduced a re-sort."""
    p = plan_of(spark, "join_asof_forward")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 1


def test_round7_batch32_35_no_cartesian(spark):
    """Batches 32-35: every pairing op must stay on equi/banded joins —
    snaive day-shift self-joins, LSH sweep band buckets, reciprocity
    pair fold, GROUPS-frame emulation."""
    for name in (
        "forecast_snaive_mase",
        "lsh_band_sweep",
        "trade_reciprocity",
        "win_groups_frame",
        "abtest_cuped",
    ):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian appeared"


def test_win_groups_frame_bounded_exchanges(spark):
    """dense_rank and the rank-RANGE frame must share the (priority,
    month) shuffle — at most the scan exchange plus one window exchange."""
    p = plan_of(spark, "win_groups_frame")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2


def test_win_exclude_current_two_exchanges_max(spark):
    """Daily pre-aggregate (event_type, day) then the event_type window:
    two data shuffles ceiling, both calendar/model-bounded."""
    p = plan_of(spark, "win_exclude_current")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 3
    assert "CartesianProduct" not in p


def test_audit_benford2_total_reenters_broadcast(spark):
    """The one-row grand total must re-enter as a broadcast, and the
    digit aggregate must combine map-side."""
    p = plan_of(spark, "audit_benford2")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert p.count("HashAggregate") >= 2


def test_abtest_srm_partial_agg(spark):
    """Distinct-users + variant counts must combine map-side."""
    p = plan_of(spark, "abtest_srm")
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p


def test_stat_levene_medians_broadcast(spark):
    """The 5-row group medians must re-join the fact scan as a
    broadcast; a shuffle join on the 5-value key would funnel."""
    p = plan_of(spark, "stat_levene")
    assert "BroadcastHashJoin" in p


def test_quality_band_mix_freq_broadcast(spark):
    """The vocabulary-frequency side must broadcast into tf (the
    text_unigram_logprob economics: no token-keyed shuffle of tf)."""
    p = plan_of(spark, "quality_band_mix")
    assert "BroadcastHashJoin" in p


def test_trade_reciprocity_dims_broadcast(spark):
    """All four dimension joins of the flow star must be broadcasts;
    the only data-sized Exchange is the fact-key join + flow groupBy."""
    p = plan_of(spark, "trade_reciprocity")
    assert p.count("BroadcastHashJoin") >= 4


def test_ts_pacf_partial_agg(spark):
    """All 18 lag moments must come from ONE map-side-combinable
    aggregate over the lagged daily frame."""
    p = plan_of(spark, "ts_pacf")
    assert p.count("HashAggregate") >= 2
    assert "CartesianProduct" not in p


def test_parquet_stats_audit_is_distributed_footer_read(spark):
    """The footer read must fan out through MapInPandas (never a
    driver-side loop materializing stats), then fold combinable."""
    p = plan_of(spark, "src_parquet_stats_audit")
    assert "MapInPandas" in p
    assert p.count("HashAggregate") >= 2


def test_join_hint_merge_is_sort_merge(spark):
    """The MERGE hint must survive into the physical plan: a
    SortMergeJoin on the fact-fact key, NOT a broadcast pick."""
    p = plan_of(spark, "join_hint_merge")
    assert "SortMergeJoin" in p, "merge hint did not pin SMJ"


def test_dedup_savings_single_text_scan(spark):
    """Two branches (docs + keeper agg) may each scan the base table —
    formatted explain prints each scan node twice, so ceiling is 4; a
    fifth scan means a third pass appeared.  Join must stay equi."""
    p = plan_of(spark, "dedup_savings_report")
    assert p.count("Scan parquet") <= 4
    assert "CartesianProduct" not in p


def test_weekend_lift_partial_agg(spark):
    """Both the distinct-days and the per-type conditional aggregates
    must combine map-side."""
    p = plan_of(spark, "weekend_lift")
    assert p.count("HashAggregate") >= 2


def test_grouped_range_prefix_sum_result_pins(spark):
    """Regression guard for the Spark 4.1 checkpoint bug (SCALE.md §54):
    checkpointing grouped_range_prefix_sum's result on a LocalRelation
    input used to raise INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, forcing the
    result-pin retraction.  Round 9's _offsets/totals pinning removed
    the offending subtree and the result pin is RESTORED — this test
    reproduces the historical trigger shape end-to-end (kernel result +
    a downstream consumer fan-out) and fails loudly if a Spark change
    resurrects the bug (in which case: retract the result pin again and
    re-read §54)."""
    from secdb_spark.operators._global_order import grouped_range_prefix_sum

    df = spark.createDataFrame(
        [("a", float(i % 7), 1.0) for i in range(40)]
        + [("b", float(i % 5), 2.0) for i in range(40)],
        "grp string, k double, v double",
    )
    res = grouped_range_prefix_sum(df, ["grp"], "k", "v")
    # two consumers over the (now pinned) result — the fan-out §54 cared about
    total = res.groupBy("grp").count().collect()
    probe = res.filter("_cum > 0").count()
    assert probe > 0 and len(total) == 2

    # round-10 variant of the same bug class: a BARE alias of the key in
    # the caller's Project (api.weighted_median's adapter shape) used to
    # push the original alias exprId into the offsets subtree and fail
    # the result checkpoint the same way; the kernel's same-type cast on
    # the grouped key keeps the alias non-redundant and the shape safe.
    from pyspark.sql import functions as F

    t = df.select(
        "grp", F.col("k").alias("kk"), F.col("v").alias("vv")
    )
    res2 = grouped_range_prefix_sum(t, ["grp"], "kk", "vv")
    assert res2.filter("_cum > 0").count() == probe
