"""Operator registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers here as:
    name -> spark_fn(spark, sf_dir) -> DataFrame      (the implementation)
    name -> oracle SQL string (DuckDB-runnable)       (the correctness oracle)

Ops without an exact SQL oracle (R/D classes: randomized, approximate,
streaming) register with oracle=None and get the driver's rows-only check.

Cross-engine determinism conventions (SURVEY §4.4) every registered pair
must follow:
  1. every double aggregate/derived value wrapped in round(x, 4) BOTH sides
  2. events.ts is µs-truncated both sides (catalog.py / DuckDB native read)
  3. window ORDER BY is tie-safe (append a unique key)
  4. no bare LIMIT — only ORDER-BY-complete top-k
  5. collect_list/set wrapped in sort_array; oracle uses list(x ORDER BY x)
  6. integer SUMs cast to BIGINT both sides (DuckDB sum(int) is HUGEINT)
  7. quantized-LONG operands widen to DECIMAL(38,0) BEFORE any product
     (x*x in LONG wraps silently above |x| ~3.03e9 in non-ANSI Spark and
     x^4 above ~55e3, while DuckDB raises — the r10 judge sweep; the
     closing num/den products stay decimal too, one IEEE division at
     the end)
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (query, oracle) pair under an op-id."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _QUERIES:
            raise ValueError(f"duplicate op-id: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle.strip()
        return fn

    return deco


# Driver certification.  The external driver checks only the FIRST 50
# entries of all_queries() per round and records them in
# CORRECTNESS_r<round>.json at the repo root, so ops without a green
# record at their current class must be emitted first.  The certified sets
# are derived from those files at import time, so they can never drift
# from what the driver actually recorded.


def _exact_green(row) -> bool:
    """A hash-match row: the only green an exact-oracle op can hold."""
    return isinstance(row, dict) and bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def _green(row) -> bool:
    """Any green row: a hash match, or err == "no_oracle" (the driver's
    record of a clean rows-only run for an R/D-class op).  A bare name (a
    legacy list-shaped payload) counts as green.  A red row certifies
    nothing: the op re-enters the queue after its fix."""
    if not isinstance(row, dict):
        return True
    return row.get("err") == "no_oracle" or _exact_green(row)


def _load_correctness() -> list[tuple[int, dict]]:
    """Every CORRECTNESS_r<round>.json as (round, {name: row}).  The files
    come from outside the program: unreadable ones, and ones whose name or
    payload has an unknown shape, are skipped rather than breaking the
    package at import time."""
    root = Path(__file__).resolve().parent.parent
    out: list[tuple[int, dict]] = []
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(f.stem.split("_r", 1)[1])
            rows = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(rows, list):
            rows = {n: None for n in rows if isinstance(n, str)}
        if isinstance(rows, dict):
            out.append((rnd, rows))
    return out


def _certified_sets(
    records: list[tuple[int, dict]],
) -> tuple[frozenset[str], frozenset[str]]:
    """(names with any green row, names with a hash-match row)."""
    rows = [(n, row) for _, file_rows in records for n, row in file_rows.items()]
    return (
        frozenset(n for n, row in rows if _green(row)),
        frozenset(n for n, row in rows if _exact_green(row)),
    )


_CORRECTNESS = _load_correctness()
_DRIVER_CERTIFIED, _DRIVER_EXACT_CERTIFIED = _certified_sets(_CORRECTNESS)


# Ops changed after their last green driver record, keyed to the round of
# the change: an oracle text or output contract rewrite, or a restructured
# Spark implementation.  The old record certified the old pair, so the op
# requeues until a CORRECTNESS file from that round or later holds a green
# row for it.  Add an entry in the commit that changes an already-certified
# op; remove it once that post-change green lands.  A rows-only -> exact
# upgrade needs no entry: certified_at_current_class already requeues it.
_RECERT_ROUND: dict[str, int] = {
    # round 15: the op became a binding of the kernel secdb_spark.api
    # re-exports (one body for the op and the composable API)
    "dedup_exact": 15,
    "events_sessionize": 15,
    "funnel_events": 15,
    "retention_cohort": 15,
    "anomaly_zscore": 15,
    "twap": 15,
    "scd2_history": 15,
    "win_ewma": 15,
    "win_drawdown": 15,
    "win_streak": 15,
    "win_fill_forward": 15,
    "win_reset_cumsum": 15,
    "win_moving_median": 15,
    "win_running_distinct": 15,
    "win_topk_ties": 15,
    "rolling_active_users": 15,
    "events_burst": 15,
    "attribution_last_touch": 15,
    "conversion_window": 15,
    "funnel_latency": 15,
    "session_bounce_rate": 15,
    "events_dispersion": 15,
    "event_gap_hist": 15,
    "users_cumulative": 15,
    "ts_vwap": 15,
    "ts_autocorr": 15,
    "ts_cusum": 15,
    "ts_rsi": 15,
    "ts_rolling_corr": 15,
    "ts_ar1_fit": 15,
    "ts_trend_slope": 15,
    "ts_ols_forecast": 15,
    "ts_drawdown_duration": 15,
    "ts_adf_stat": 15,
    "ts_kendall_tau": 15,
    "agg_gini": 15,
    "agg_hhi": 15,
    "agg_geomean": 15,
    "agg_skew_kurt": 15,
    "agg_theil": 15,
    "agg_mode_exact": 15,
    "agg_histogram": 15,
    "agg_weighted_percentile": 15,
    "agg_regression": 15,
    "stat_binom_test": 15,
    "stat_fisher_exact": 15,
    "stat_welch_ttest": 15,
    "stat_jarque_bera": 15,
    "stat_bartlett": 15,
}


def _recert_pending(name: str) -> bool:
    """True while a _RECERT_ROUND op lacks a green record taken in or
    after the round it changed."""
    rnd = _RECERT_ROUND.get(name)
    if rnd is None:
        return False
    return not any(
        file_rnd >= rnd and name in rows and _green(rows[name])
        for file_rnd, rows in _CORRECTNESS
    )


def certified_at_current_class(name: str) -> bool:
    """True iff the driver already holds a green record AT THE OP'S
    CURRENT CLASS: exact-oracle ops need a hash-match record; rows-only
    ops any green record.  An op that gained an oracle after a rows-only
    green is NOT settled, nor is a _RECERT_ROUND op without its
    post-change green."""
    if _recert_pending(name):
        return False
    if name in _ORACLES:
        return name in _DRIVER_EXACT_CERTIFIED
    return name in _DRIVER_CERTIFIED


def _certification_order(names) -> list[str]:
    """Never-certified exact-oracle ops, then never-certified rows-only
    ops, then ops that hold a green record but not at their current class
    (recert-pending or rows-only -> exact upgrades), then settled ops;
    each group in registration order.  Recerts are housekeeping and queue
    behind first-time coverage in the driver's 50-slot window."""

    def group(name: str) -> int:
        if certified_at_current_class(name):
            return 3
        if name in _DRIVER_CERTIFIED:
            return 2
        return 0 if name in _ORACLES else 1

    return sorted(names, key=group)


def all_queries() -> dict[str, SparkQuery]:
    _load_operators()
    return {n: _QUERIES[n] for n in _certification_order(_QUERIES)}


def all_oracles() -> dict[str, str]:
    _load_operators()
    return {n: _ORACLES[n] for n in _certification_order(_ORACLES)}


_loaded = False


def _load_operators() -> None:
    global _loaded
    if _loaded:
        return
    # Import for side effect: each module registers its operators.
    from .operators import (  # noqa: F401
        aggregations,
        corpus_extras,
        corpus_extras2,
        curation_extras,
        curation_extras2,
        econ_extras,
        edgar_feed,
        embed_extras,
        eval_extras,
        functions_scalar,
        geo_extras,
        ivm_extras,
        joins,
        layout_extras,
        llm_pipeline,
        markov_extras,
        ml_prep,
        mm_extras,
        pipeline_extras,
        projections,
        recsys_extras,
        sets_sorts,
        similarity_extras,
        sketch_extras,
        sources_sinks,
        sources_sinks2,
        sql_surface,
        stats_extras,
        stats_extras2,
        stats_extras3,
        streaming,
        text_analysis,
        timeseries,
        udfs,
        variance_extras,
        warehouse_extras,
        warehouse_extras2,
        warehouse_extras3,
        warehouse_extras4,
        warehouse_extras5,
        warehouse_extras6,
        warehouse_extras7,
        warehouse_extras8,
        warehouse_extras9,
        warehouse_extras10,
        warehouse_extras11,
        warehouse_extras12,
        warehouse_extras13,
        warehouse_extras14,
        warehouse_extras15,
        warehouse_extras16,
        warehouse_extras17,
        warehouse_extras18,
        warehouse_extras19,
        warehouse_extras20,
        warehouse_extras21,
        warehouse_extras22,
        warehouse_extras23,
        warehouse_extras24,
        warehouse_extras25,
        warehouse_extras26,
        warehouse_extras27,
        warehouse_extras28,
        warehouse_extras29,
        warehouse_extras30,
        warehouse_extras31,
        warehouse_extras32,
        warehouse_extras33,
        warehouse_extras34,
        warehouse_extras35,
        warehouse_extras36,
        warehouse_extras37,
        warehouse_extras38,
        warehouse_extras39,
        warehouse_extras40,
        windows,
        xbrl_analytics,
        xbrl_analytics2,
    )

    _loaded = True
