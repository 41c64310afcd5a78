"""Round-7 additions, batch 28 — rolling regression, heavy-user
concentration, key-gap auditing, opening-template detection.

Reference semantics: SURVEY §2 extension policy (mount empty).
ts_rolling_slope extends the per-day-aggregate family with windowed
OLS moments; heavy_user_concentration is the exact-percentile
concentration report built on the value-spine cumsum (no global user
sort); key_gap_audit finds holes in a surrogate-key sequence with a
block-local kernel (never a key-ordered global window);
doc_opening_diversity is the within-source template detector
(boilerplate openings) a curation pass runs before dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import r4

DEC6 = "decimal(38,6)"
DEC12 = "decimal(38,12)"

ROLL_W = 7  # trailing window (days) for the rolling slope

TS_ANCHOR = "2024-01-01"


# ---------------------------------------------------------------------------
# ts_rolling_slope — trailing-W-day OLS slope per type
# ---------------------------------------------------------------------------

@register(
    "ts_rolling_slope",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '{TS_ANCHOR}', date_trunc('day', ts))
               AS di,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, di,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(CAST(di AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sx,
             CAST(sum(CAST(x AS DECIMAL(38,12))) OVER w AS DOUBLE) AS sy,
             CAST(sum(CAST(di * x AS DECIMAL(38,12))) OVER w AS DOUBLE)
               AS sxy,
             CAST(sum(CAST(CAST(di AS DOUBLE) * di AS DECIMAL(38,12)))
                  OVER w AS DOUBLE) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   RANGE BETWEEN {ROLL_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, di,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
             AS slope_{ROLL_W}d
    FROM m WHERE n = {ROLL_W}
    """,
)
def ts_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLL_W}-day OLS slope of the per-type daily value
    series, per day — the momentum indicator behind "is this metric
    turning?" dashboards (ts_trend_slope fits once; this slides).  All
    four regression moments accumulate in ONE RANGE window over the
    per-day aggregate (DECIMAL-quantized, so frame sums are exact and
    order-free); the slope is a shared IEEE tree per row.  Windows
    with fewer than {ROLL_W} days (the warm-up edge) are dropped, not
    padded — a partial-window slope is a different statistic.
    Calendar-bounded frame over model-sized input."""
    ev = table(spark, sf_dir, "events")
    anchor = F.lit(TS_ANCHOR).cast("timestamp")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", F.col("ts")), anchor).alias("di"),
    ).agg(F.sum(F.col("value").cast(DEC6)).cast("double").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-(ROLL_W - 1), 0)
    )
    di_d = F.col("di").cast("double")
    m = daily.select(
        "event_type", "di",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum(F.col("di").cast(DEC12)).over(w).cast("double").alias("sx"),
        F.sum(F.col("x").cast(DEC12)).over(w).cast("double").alias("sy"),
        F.sum((F.col("di") * F.col("x")).cast(DEC12)).over(w)
        .cast("double").alias("sxy"),
        F.sum((di_d * F.col("di")).cast(DEC12)).over(w)
        .cast("double").alias("sxx"),
    )
    return m.filter(F.col("n") == ROLL_W).select(
        "event_type", "di",
        r4(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias(f"slope_{ROLL_W}d"),
    )


# ---------------------------------------------------------------------------
# heavy_user_concentration — share of events from the exact top percentile
# ---------------------------------------------------------------------------

HEAVY_PCT = 99  # users at or above the exact P99 of per-user event counts


@register(
    "heavy_user_concentration",
    oracle=f"""
    WITH uc AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), cv AS (
      SELECT c, CAST(count(*) AS BIGINT) AS users FROM uc GROUP BY 1
    ), cum AS (
      SELECT c, users,
             CAST(sum(users) OVER (ORDER BY c) AS BIGINT) AS cw,
             (SELECT CAST(sum(users) AS BIGINT) FROM cv) AS nu
      FROM cv
    ), thr AS (
      SELECT min(c) AS t FROM cum
      WHERE cw > CAST(floor(nu * {HEAVY_PCT} / 100.0) AS BIGINT)
    )
    SELECT (SELECT CAST(sum(users) AS BIGINT) FROM cv) AS n_users,
           (SELECT t FROM thr) AS p{HEAVY_PCT}_threshold,
           CAST(sum(CASE WHEN uc.c >= thr.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_heavy,
           round(CAST(sum(CASE WHEN uc.c >= thr.t THEN uc.c ELSE 0 END)
                      AS DOUBLE)
                 / sum(uc.c), 4) AS heavy_event_share
    FROM uc, thr
    """,
)
def heavy_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the event stream comes from the top 1% of users?
    The exact P{HEAVY_PCT} of per-user event counts is found on the
    VALUE SPINE (distinct activity levels + bucketed cumsum — never a
    global sort of users), the threshold re-enters as a one-row
    broadcast, and the share is one combinable aggregate — the
    concentration number that decides whether per-user state (session
    windows, rate limits) needs skew handling.  Ties at the threshold
    count as heavy (>=), matching discrete-percentile semantics."""
    ev = table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cv = uc.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("users"))
    cum = grouped_range_prefix_sum(
        cv, [], "c", "users", out="_cw",
        # r14 small-path opt-in (guide §1.2): cv is one row per distinct
        # activity level <= users <= events footer rows.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "events"),
    )
    nu = cv.agg(F.sum("users").cast("long").alias("nu"))
    thr = (
        cum.crossJoin(F.broadcast(nu))
        .filter(
            F.col("_cw").cast("long")
            > F.floor(F.col("nu") * HEAVY_PCT / 100.0).cast("long")
        )
        .agg(F.min("c").cast("long").alias("t"))
    )
    j = uc.crossJoin(F.broadcast(thr))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.max("t").cast("long").alias(f"p{HEAVY_PCT}_threshold"),
        F.sum(F.when(F.col("c") >= F.col("t"), 1).otherwise(0))
        .cast("long").alias("n_heavy"),
        r4(
            F.sum(
                F.when(F.col("c") >= F.col("t"), F.col("c")).otherwise(0)
            ).cast("double") / F.sum("c")
        ).alias("heavy_event_share"),
    )


# ---------------------------------------------------------------------------
# key_gap_audit — holes in a surrogate-key sequence, block-local kernel
# ---------------------------------------------------------------------------

KEY_BLOCK = 4096


@register(
    "key_gap_audit",
    oracle=f"""
    WITH k AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
    ), blk AS (
      SELECT key, key // {KEY_BLOCK} AS b,
             key - lag(key) OVER (PARTITION BY key // {KEY_BLOCK}
                                  ORDER BY key) - 1 AS in_gap
      FROM k
    ), per_block AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n,
             CAST(min(key) AS BIGINT) AS kmin,
             CAST(max(key) AS BIGINT) AS kmax,
             CAST(max(coalesce(in_gap, 0)) AS BIGINT) AS max_in_gap,
             CAST(sum(coalesce(in_gap, 0)) AS BIGINT) AS gap_keys
      FROM blk GROUP BY 1
    ), x AS (
      SELECT b, n, kmin, kmax, max_in_gap, gap_keys,
             kmin - lag(kmax) OVER (ORDER BY b) - 1 AS cross_gap
      FROM per_block
    )
    SELECT CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(n) AS BIGINT) AS n_keys,
           CAST(min(kmin) AS BIGINT) AS key_min,
           CAST(max(kmax) AS BIGINT) AS key_max,
           CAST(max(kmax) - min(kmin) + 1 - sum(n) AS BIGINT)
             AS missing_keys,
           CAST(greatest(max(max_in_gap), max(coalesce(cross_gap, 0)))
                AS BIGINT) AS largest_gap
    FROM x
    """,
)
def key_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holes in the order-key sequence: how many keys are missing from
    [min, max], and the largest contiguous hole — the audit that
    catches dropped feed batches and deleted ranges.  The kernel never
    sorts the key space globally: keys bucket into {KEY_BLOCK}-wide
    blocks, in-block gaps come from a window bounded by block width,
    and cross-block gaps from a lag over the per-block aggregate
    (block-count-sized).  missing_keys falls out of arithmetic
    (range − count), needing no gap enumeration at all; largest_gap is
    the max over in-block and boundary gaps.  Works unchanged on any
    integer surrogate key at any scale."""
    k = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key")
    ).distinct()
    blk = k.withColumn("b", F.expr(f"key div {KEY_BLOCK}"))
    wb = Window.partitionBy("b").orderBy("key")
    blk = blk.withColumn(
        "in_gap", F.col("key") - F.lag("key").over(wb) - 1
    )
    per_block = blk.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("key").cast("long").alias("kmin"),
        F.max("key").cast("long").alias("kmax"),
        F.max(F.coalesce(F.col("in_gap"), F.lit(0))).cast("long")
        .alias("max_in_gap"),
        F.sum(F.coalesce(F.col("in_gap"), F.lit(0))).cast("long")
        .alias("gap_keys"),
    )
    wx = Window.orderBy("b")
    x = per_block.withColumn(
        "cross_gap", F.col("kmin") - F.lag("kmax").over(wx) - 1
    )
    return x.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("n").cast("long").alias("n_keys"),
        F.min("kmin").cast("long").alias("key_min"),
        F.max("kmax").cast("long").alias("key_max"),
        (
            F.max("kmax") - F.min("kmin") + 1 - F.sum("n")
        ).cast("long").alias("missing_keys"),
        F.greatest(
            F.max("max_in_gap"),
            F.max(F.coalesce(F.col("cross_gap"), F.lit(0))),
        ).cast("long").alias("largest_gap"),
    )


# ---------------------------------------------------------------------------
# doc_opening_diversity — template detection via opening-prefix variety
# ---------------------------------------------------------------------------

OPEN_WORDS = 5


@register(
    "doc_opening_diversity",
    oracle=f"""
    WITH d AS (
      SELECT source,
             array_to_string(list_slice(string_split(lower(text), ' '),
                                        1, {OPEN_WORDS}), ' ') AS opening
      FROM documents
    ), oc AS (
      SELECT source, opening, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY 1, 2
    ), agg AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS distinct_openings,
             CAST(max(c) AS BIGINT) AS top_c
      FROM oc GROUP BY 1
    )
    SELECT source, n_docs, distinct_openings,
           round(CAST(distinct_openings AS DOUBLE) / n_docs, 4)
             AS opening_diversity,
           round(CAST(top_c AS DOUBLE) / n_docs, 4) AS top_opening_share
    FROM agg
    """,
)
def doc_opening_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection via opening variety: per source, how many
    DISTINCT {OPEN_WORDS}-word openings its documents use, the
    diversity ratio, and the share of the single most common opening —
    a source where many docs start identically is form letters /
    scraped templates, exactly the docs boilerplate removal targets
    (cross_source_dup_matrix found these prefixes colliding ACROSS
    sources; this op measures the within-source collapse).  One
    scan-fused prefix extraction, two cascaded combinable aggregates —
    the opening domain is bounded by doc count, and only the first
    groupBy touches data."""
    d = table(spark, sf_dir, "documents").select(
        "source",
        F.array_join(
            F.slice(F.split(F.lower(F.col("text")), " "), 1, OPEN_WORDS),
            " ",
        ).alias("opening"),
    )
    oc = d.groupBy("source", "opening").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = oc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("distinct_openings"),
        F.max("c").cast("long").alias("top_c"),
    )
    return agg.select(
        "source", "n_docs", "distinct_openings",
        r4(
            F.col("distinct_openings").cast("double") / F.col("n_docs")
        ).alias("opening_diversity"),
        r4(F.col("top_c").cast("double") / F.col("n_docs")).alias(
            "top_opening_share"
        ),
    )
