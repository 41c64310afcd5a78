"""§2.E — Window functions.

Reference semantics: SQLite window SQL (mount empty — SURVEY §2.E).
Spark-first notes: a window = one shuffle on the partition keys + an
in-partition sort; windows sharing (partitionBy, orderBy) reuse one
Exchange+Sort (verified in plans below — define one Window spec and hang
every function off it). Determinism: every ORDER BY carries a unique key
(§4.4 rule 3); windowed SUMs use the decimal trick because DuckDB
evaluates frames with a segment tree (different FP association order than
Spark's running accumulation).

Scale: per-partition sort spills via UnsafeExternalSorter; a single giant
partition key is the risk — for per-user windows over 100 TB of events,
pre-bucket users by day (composite partition key) if one user exceeds
executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import (
    GLOBAL_WINDOW_GATE,
    bucketed_global_rank,
    ntile_from_rank,
)
from ._helpers import DEC


@register(
    "win_rownum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    """,
)
def win_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row numbering per customer (tie-safe: orderkey appended)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select("o_orderkey", "o_custkey", F.row_number().over(w).alias("rn"))


@register(
    "win_rank",
    oracle="""
    SELECT o_orderkey, o_custkey,
           rank()       OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rnk,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS drnk
    FROM orders
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with real ties (same order date) — rank values are
    deterministic under ties even without a tie-break key."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "win_ntile",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
    FROM orders
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing over a global ordering (tie-safe).

    Dual kernel (dispatch on the orders parquet-footer row count — no
    Spark job): below the gate, the plain global ntile window; above it,
    `_global_order`'s bucketed global rank + `ntile_from_rank` — this is
    a FACT-table global window, the one case where the single-partition
    funnel hits raw data rather than an aggregate, so the gate matters
    most here.  The total row count comes from the same parquet footers
    (exact, no extra job)."""
    o = table(spark, sf_dir, "orders")
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "orders"):
        n = F.lit(catalog.table_rows(sf_dir, "orders")).cast("long")
        ranked = bucketed_global_rank(
            o.select("o_orderkey", "o_totalprice"),
            "o_totalprice",
            ["o_orderkey"],
            out="_r",
        )
        return ranked.select(
            "o_orderkey", ntile_from_rank(F.col("_r"), n, 4).alias("quartile")
        )
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


@register(
    "win_dist",
    oracle="""
    SELECT o_orderkey,
           percent_rank() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS pct_rank,
           cume_dist()    OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS cume
    FROM orders
    """,
)
def win_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist — exact rational values (k/n in double) are
    identical across engines, no rounding needed."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           epoch_us(ts) - epoch_us(lag(ts, 1)  OVER w) AS gap_from_prev_us,
           epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS gap_to_next_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE q_lag_asof: inter-event gap per user via lag/lead.
    Perf: ts is projected to epoch-µs ONCE before the window so lag/lead
    shuffle+sort+offset plain longs (ordering by the µs long is equivalent
    to ordering by ts — same total order)."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("us") - F.lag("us", 1).over(w)).alias("gap_from_prev_us"),
        (F.lead("us", 1).over(w) - F.col("us")).alias("gap_to_next_us"),
    )


@register(
    "win_running",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM orders
    """,
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer (decimal-exact windowed sum)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


@register(
    "win_moving",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
             / count(*) OVER w AS moving_avg_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of event value per user (exact sum/count form
    so both engines divide identical doubles)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast(DEC)).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg_value"),
    )


@register(
    "win_range_frame",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           count(*) OVER w AS n_in_band,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS band_total
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame by VALUE (all orders within $10k below current price).
    RANGE frames are tie-safe by definition (peers share a frame), so the
    value ordering alone is deterministic."""
    # r14 PREFIX-SUM RESTRUCTURE (guide §1.2 "the distributed
    # algorithm"): Spark's sliding RANGE frame re-accumulates the whole
    # frame every time its bounds move — O(rows x frame_size) inside 3
    # status partitions (~1k-row average band at sf0.1 => ~150M decimal
    # adds on 3 tasks; measured 7.7 s of exec, the slowest warm op in
    # the registry).  The band aggregate is a difference of two PREFIX
    # aggregates, and prefix frames (UNBOUNDED PRECEDING .. CURRENT ROW)
    # are O(rows) incremental.  So:
    #   1. contract to the distinct (status, price) spine with per-value
    #      count + exact DECIMAL(38,6) sum;
    #   2. one ROWS cumulative window over the spine => cum_c / cum_s
    #      (decimal addition is associative-exact, so the cumulative of
    #      per-value sums equals the direct cumulative);
    #   3. band lower bound via the union-probe as-of trick: each spine
    #      value p emits a probe row at v = p - 10000 (the identical
    #      IEEE double the RANGE frame boundary evaluates in both
    #      engines); probes sort BEFORE data rows at equal v (tag 0 < 1)
    #      so last(ignorenulls) at a probe reads the cumulative over
    #      values STRICTLY below p - 10000 — rows AT the boundary stay
    #      in the band, matching RANGE 10000 PRECEDING inclusivity;
    #   4. band = cum(p) - cum(<p-10000) in bigint / DECIMAL(38,6) —
    #      exact arithmetic, so values (and the final double cast) are
    #      bit-identical to the sliding frame's;
    #   5. join the per-value bands back to the rows on
    #      (status, price) — RANGE peers share a frame, so per-value IS
    #      per-row.
    # Scale: every stage is a model-sized hash shuffle or an O(rows)
    # window; nothing is quadratic in the band width.
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    g = o.groupBy("o_orderstatus", "o_totalprice").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("s"),
    )
    wcum = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g2 = g.select(
        "o_orderstatus",
        "o_totalprice",
        F.sum("c").over(wcum).alias("cum_c"),
        F.sum("s").over(wcum).alias("cum_s"),
    )
    null_c = F.lit(None).cast("bigint")
    null_s = F.lit(None).cast(DEC)
    # one explode emits each spine value's data row AND its probe row
    # from a single pass (a union of two g2 consumers would recompute
    # the spine subtree twice — Catalyst has no cross-DAG CSE — and
    # re-scan orders a third time; caught by the plan audit's multiscan
    # gate).
    spine = g2.select(
        "o_orderstatus",
        F.explode(
            F.array(
                F.struct(
                    F.col("o_totalprice").alias("v"),
                    F.lit(1).alias("tag"),
                    F.col("cum_c").alias("mark_c"),
                    F.col("cum_s").alias("mark_s"),
                    F.lit(None).cast("double").alias("p"),
                    null_c.alias("own_c"),
                    null_s.alias("own_s"),
                ),
                F.struct(
                    (F.col("o_totalprice") - F.lit(10000.0)).alias("v"),
                    F.lit(0).alias("tag"),
                    null_c.alias("mark_c"),
                    null_s.alias("mark_s"),
                    F.col("o_totalprice").alias("p"),
                    F.col("cum_c").alias("own_c"),
                    F.col("cum_s").alias("own_s"),
                ),
            )
        ).alias("x"),
    ).select("o_orderstatus", "x.*")
    wlow = (
        Window.partitionBy("o_orderstatus")
        .orderBy("v", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    band = (
        spine
        .select(
            "o_orderstatus",
            "p",
            "own_c",
            "own_s",
            "tag",
            F.last("mark_c", ignorenulls=True).over(wlow).alias("low_c"),
            F.last("mark_s", ignorenulls=True).over(wlow).alias("low_s"),
        )
        .filter(F.col("tag") == 0)
        .select(
            "o_orderstatus",
            F.col("p").alias("o_totalprice"),
            (F.col("own_c") - F.coalesce("low_c", F.lit(0))).alias(
                "n_in_band"
            ),
            (F.col("own_s") - F.coalesce("low_s", F.lit(0).cast(DEC)))
            .cast("double")
            .alias("band_total"),
        )
    )
    # Inner equi-join: a NULL status or price would drop the row, which the
    # native RANGE frame keeps.  The corpus cannot hold one: TPC-H
    # declares both columns NOT NULL, and the test data has none.
    return o.join(band, ["o_orderstatus", "o_totalprice"]).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "n_in_band",
        "band_total",
    )


@register(
    "win_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN CURRENT ROW
                                              AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last order per customer; last_value needs the frame extended
    to partition end (the default frame stops at CURRENT ROW)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_to_end = w.rowsBetween(0, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_to_end).alias("last_order"),
    )


@register(
    "win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE q_window_topk: top-3 orders per customer. Catalyst pushes
    the rn<=3 filter into the window sort (WindowGroupLimit in 4.x), so
    per-partition state is bounded at k — the scalable top-k-per-group."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


EWMA_ALPHA = 0.5
EWMA_K = 5  # bounded lookback — state is K values, not the full history


def _ewma_sql_terms() -> tuple[str, str]:
    num = " + ".join(
        f"CASE WHEN lag(value, {i}) OVER w IS NOT NULL "
        f"THEN {EWMA_ALPHA**i!r} * lag(value, {i}) OVER w ELSE 0 END"
        for i in range(EWMA_K)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {i}) OVER w IS NOT NULL "
        f"THEN {EWMA_ALPHA**i!r} ELSE 0 END"
        for i in range(EWMA_K)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_sql_terms()


def ewma(
    df: DataFrame,
    val_col: str,
    order_cols: list[str],
    by: list[str] | None = None,
    alpha: float = 0.5,
    k: int = 5,
) -> DataFrame:
    """Bounded-lookback exponentially-weighted moving average of ANY
    value column (win_ewma's algebra with columns, alpha and the
    lookback K parameterized).  The infinite recursion
    ewma_t = a*x_t + (1-a)*ewma_{t-1} is not window-expressible without
    per-row recursion; the bounded-K form weights lag i by (1-a)^i —
    the recursion's own decay, renormalized at partition heads — as an
    exact K-term lag expression.  (At a=0.5 this equals win_ewma's
    oracle weighting 0.5^i; for other alphas the recursion basis is the
    correct one — a^i would INVERT the decay.)  All K lags share ONE
    window spec, so Catalyst plans a single Window node over a single
    `by` shuffle+sort with per-row state of K doubles; truncation error
    is bounded at (1-a)^K of total weight.  With by=None the window is
    the whole frame in ONE partition: pass `by` for a stream.  Pass
    tie-breaking order_cols (e.g. [ts, id]) — a non-deterministic sort
    makes the smoothing non-reproducible.  Returns the input rows + `ewma`
    (round 4)."""
    by = by or []
    beta = 1.0 - alpha
    w = Window.partitionBy(*by).orderBy(*order_cols)
    num = sum(
        (
            F.when(
                F.lag(val_col, i).over(w).isNotNull(),
                F.lit(beta**i) * F.lag(val_col, i).over(w),
            ).otherwise(F.lit(0.0))
            for i in range(k)
        ),
        start=F.lit(0.0),
    )
    den = sum(
        (
            F.when(
                F.lag(val_col, i).over(w).isNotNull(), F.lit(beta**i)
            ).otherwise(F.lit(0.0))
            for i in range(k)
        ),
        start=F.lit(0.0),
    )
    return df.withColumn("ewma", F.round(num / den, 4))


@register(
    "win_ewma",
    oracle=f"""
    SELECT event_id, user_id, value,
           round(({_EWMA_NUM}) / ({_EWMA_DEN}), 4) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lookback exponentially-weighted moving average per user —
    the smoothing primitive of monitoring/feature pipelines: the `ewma`
    kernel over each user's (epoch-µs, event_id)-ordered values.  At
    α=0.5 the kernel's recursion weights (1-α)^i equal the oracle's α^i.
    K bounds the truncation error at (1-α)·α^K ≈ 1.6 % of weight for
    α=0.5, K=5."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return ewma(
        ev, "value", ["us", "event_id"], by=["user_id"],
        alpha=EWMA_ALPHA, k=EWMA_K,
    ).select("event_id", "user_id", "value", "ewma")
