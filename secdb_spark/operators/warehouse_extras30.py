"""Round-7 additions, batch 36 — churn/winback split, brand-nation
affinity lift, order-to-ship latency percentiles.

Reference semantics: SURVEY §2 extension policy (mount empty).
winback_rate closes the lifecycle loop customer_churn/purchase_gaps
opened: long gaps classified into winbacks vs terminal churn.
brand_nation_lift is the market-basket lift matrix at the (customer
nation × part brand) grain.  ship_lag_percentiles runs the certified
grouped discrete-percentile kernel on the order→ship fulfillment lag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import pin, r4

#: a customer is churned / a gap is a churn episode past this many days.
CHURN_GAP_DAYS = 180

#: discrete percentiles reported by ship_lag_percentiles (num, den).
LAG_PS = [(1, 2), (9, 10), (99, 100)]


# ---------------------------------------------------------------------------
# winback_rate — churn episodes vs winbacks per nation
# ---------------------------------------------------------------------------

@register(
    "winback_rate",
    oracle=f"""
    WITH cust_orders AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             lag(CAST(o_orderdate AS DATE))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS prev_d
      FROM orders
    ), horizon AS (
      SELECT max(CAST(o_orderdate AS DATE)) AS max_d FROM orders
    ), per_cust AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN prev_d IS NOT NULL
                           AND datediff('day', prev_d, d) > {CHURN_GAP_DAYS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_winbacks,
             max(d) AS last_d
      FROM cust_orders GROUP BY 1
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(p.n_winbacks) AS BIGINT) AS n_winbacks,
           CAST(sum(CASE WHEN datediff('day', p.last_d, h.max_d)
                              > {CHURN_GAP_DAYS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned_now,
           round(CAST(sum(p.n_winbacks) AS DOUBLE)
                 / nullif(sum(p.n_winbacks)
                          + sum(CASE WHEN datediff('day', p.last_d, h.max_d)
                                          > {CHURN_GAP_DAYS}
                                     THEN 1 ELSE 0 END), 0), 4)
             AS winback_rate
    FROM per_cust p
    JOIN customer c ON p.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN horizon h
    GROUP BY 1
    """,
)
def winback_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winback vs terminal churn: every gap > {CHURN_GAP_DAYS} days
    between a customer's consecutive orders is a churn episode that DID
    end (a winback — the next order closes it); a last order more than
    {CHURN_GAP_DAYS} days before the corpus horizon is churn that has
    NOT ended.  winback_rate = winbacks / (winbacks + churned-now) — the
    resurrection odds a retention team actually faces, the number
    customer_churn (point-in-time flag) and purchase_gaps (gap
    distribution) both stop short of.  One customer-partitioned lag
    window (the natural key — no skew), one per-customer reduction,
    broadcast customer→nation dims, one-row horizon re-entering as a
    broadcast."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    co = o.select(
        "o_custkey",
        d.alias("d"),
        F.lag(d).over(w).alias("prev_d"),
    )
    horizon = o.agg(F.max(d).alias("max_d"))
    per_cust = co.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("prev_d").isNotNull()
                & (F.datediff("d", "prev_d") > CHURN_GAP_DAYS),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_winbacks"),
        F.max("d").alias("last_d"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    churned = F.when(
        F.datediff("max_d", "last_d") > CHURN_GAP_DAYS, 1
    ).otherwise(0)
    agg = (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .crossJoin(F.broadcast(horizon))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("n_winbacks").cast("long").alias("n_winbacks"),
            F.sum(churned).cast("long").alias("n_churned_now"),
        )
    )
    return agg.select(
        "nation",
        "n_customers",
        "n_winbacks",
        "n_churned_now",
        r4(
            F.col("n_winbacks").cast("double")
            / F.nullif(
                (F.col("n_winbacks") + F.col("n_churned_now")).cast("double"),
                F.lit(0.0),
            )
        ).alias("winback_rate"),
    )


# ---------------------------------------------------------------------------
# brand_nation_lift — brand × customer-nation affinity lift
# ---------------------------------------------------------------------------

@register(
    "brand_nation_lift",
    oracle="""
    WITH cell AS (
      SELECT n.n_name AS nation, p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), margins AS (
      SELECT nation, CAST(sum(n) AS BIGINT) AS n_nation FROM cell GROUP BY 1
    ), brands AS (
      SELECT brand, CAST(sum(n) AS BIGINT) AS n_brand FROM cell GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS grand FROM cell
    )
    SELECT c.nation, c.brand, c.n AS n_lines,
           round(CAST(c.n AS DOUBLE) * t.grand
                 / (CAST(m.n_nation AS DOUBLE) * b.n_brand), 4) AS lift
    FROM cell c
    JOIN margins m ON c.nation = m.nation
    JOIN brands b ON c.brand = b.brand
    CROSS JOIN tot t
    """,
)
def brand_nation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand × customer-nation affinity lift —
    P(nation, brand) / (P(nation)·P(brand)), the market-basket lift at
    the geography grain: >1 means the brand over-indexes in that nation
    (assortment/localization signal the flat trade_matrix can't see).
    One fact-star pass (orders joined on the fact key; customer /
    nation / part as BROADCAST dims) feeds a |nations×brands|-row cell
    aggregate; margins and the grand total RE-AGGREGATE the cell table
    (model-sized) and re-enter as broadcasts.  The cell table is PINNED
    (eager localCheckpoint): Catalyst does NOT reuse the aggregate
    exchange across its four consumers (plan-audit, SCALE.md §50 — the
    un-pinned form executed the fact-star join 4x, 20 scans), so the
    one fact pass the docstring promises needs the materialization.
    Counts are exact ints; lift is one mirrored double expression."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cell = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cell = pin(cell)
    margins = cell.groupBy("nation").agg(
        F.sum("n").cast("long").alias("n_nation")
    )
    brands = cell.groupBy("brand").agg(
        F.sum("n").cast("long").alias("n_brand")
    )
    tot = cell.agg(F.sum("n").cast("long").alias("grand"))
    return (
        cell.join(F.broadcast(margins), "nation")
        .join(F.broadcast(brands), "brand")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "brand",
            F.col("n").alias("n_lines"),
            r4(
                F.col("n").cast("double") * F.col("grand")
                / (F.col("n_nation").cast("double") * F.col("n_brand"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# ship_lag_percentiles — order→ship latency, exact discrete percentiles
# ---------------------------------------------------------------------------

@register(
    "ship_lag_percentiles",
    oracle=f"""
    WITH lags AS (
      SELECT l.l_returnflag AS flag,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT flag AS l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(quantile_disc(lag_days, 0.50) AS BIGINT) AS p50_days,
           CAST(quantile_disc(lag_days, 0.90) AS BIGINT) AS p90_days,
           CAST(quantile_disc(lag_days, 0.99) AS BIGINT) AS p99_days
    FROM lags GROUP BY 1
    """,
)
def ship_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship fulfillment latency percentiles (p50/p90/p99 days) per
    return flag — the SLA tail view of the fulfillment pipeline; exact
    DISCRETE percentiles, never approx, because p99 SLAs are contracts.
    The lag lands from one fact-key join (lineitem→orders), then the
    certified agg_percentile_disc kernel takes over: aggregate to
    distinct (flag, lag_days) counts — lag values are calendar-bounded,
    so this is model-sized — bucketed grouped prefix sum, rank
    ceil(p·n) picks (DuckDB's probe-verified quantile_disc rule).  No
    per-flag window ever touches fact rows."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff("sd", "od").alias("lag_days"),
    )
    cum = grouped_range_prefix_sum(
        lags.withColumn("one", F.lit(1)), ["flag"], "lag_days", "one",
        out="_cum",
        # r14 small-path opt-in (guide §1.2): one lag row per lineitem
        # (1:1 fact-key join), lineitem footer rows bound the input.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "lineitem"),
    )
    tot = cum.groupBy("flag").agg(F.sum("_v").cast("long").alias("n"))
    j = cum.join(F.broadcast(tot), "flag")
    picks = []
    for num, den in LAG_PS:
        thr = F.floor(
            (F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den)
        ).cast("long")
        label = {(1, 2): "p50", (9, 10): "p90", (99, 100): "p99"}[(num, den)]
        picks.append(
            F.min(
                F.when(F.col("_cum") >= thr, F.col("lag_days"))
            ).cast("long").alias(f"{label}_days")
        )
    return j.groupBy(F.col("flag").alias("l_returnflag")).agg(
        F.first(F.col("n")).alias("n_lines"), *picks
    ).select(
        "l_returnflag",
        F.col("n_lines").cast("long").alias("n_lines"),
        "p50_days", "p90_days", "p99_days",
    )
