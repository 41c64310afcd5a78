"""Round-7 additions, batch 19 — exponential-arrival goodness of fit,
greedy budget selection, business-day arithmetic.

Reference semantics: SURVEY §2 extension policy (mount empty).
gap_expfit_ks extends the integer-ECDF family with a parametric model
CDF; greedy_budget_pick puts the bucketed DESC prefix-sum kernel on a
new domain (knapsack-by-density); fn_business_days is pure anchored
integer calendar arithmetic (no engine weekday-numbering dependence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import (
    GLOBAL_WINDOW_GATE,
    bucketed_prefix_sum,
    grouped_range_prefix_sum,
)
from ._helpers import pin, r4

# ---------------------------------------------------------------------------
# gap_expfit_ks — exponential fit + KS goodness-of-fit on event gaps
# ---------------------------------------------------------------------------

@register(
    "gap_expfit_ks",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(floor((epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY epoch_us(ts), event_id))
                        / 1000000) AS BIGINT) AS gap_s
      FROM events
    ), d AS (
      SELECT event_type, gap_s, CAST(count(*) AS BIGINT) AS c
      FROM g WHERE gap_s IS NOT NULL AND gap_s > 0
      GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * gap_s) AS BIGINT) AS s
      FROM d GROUP BY event_type
    ), cum AS (
      SELECT d.event_type, d.gap_s, d.c, tot.n, tot.s,
             CAST(sum(d.c) OVER (PARTITION BY d.event_type
                                 ORDER BY d.gap_s) AS BIGINT) AS cw
      FROM d JOIN tot ON d.event_type = tot.event_type
    ), dev AS (
      SELECT event_type, n, s,
             greatest(
               abs(CAST(cw AS DOUBLE) / n
                   - (1 - exp(-(CAST(n AS DOUBLE) / s) * gap_s))),
               abs(CAST(cw - c AS DOUBLE) / n
                   - (1 - exp(-(CAST(n AS DOUBLE) / s) * gap_s)))
             ) AS dv
      FROM cum
    )
    SELECT event_type, max(n) AS n_gaps,
           round(CAST(max(n) AS DOUBLE) / max(s) * 1000000, 4)
             AS lambda_per_megasec,
           round(max(dv), 4) AS ks_d
    FROM dev GROUP BY event_type
    """,
)
def gap_expfit_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the per-user arrival process memoryless?  Fit Exp(λ) to the
    positive inter-event gaps per type (MLE λ = n/Σgap — exact integer
    moments) and report the one-sample Kolmogorov-Smirnov D against the
    fitted CDF, evaluated at BOTH step sides of the empirical CDF (the
    continuous-model rule: sup over F(v)−ECDF(v⁻) and ECDF(v)−F(v)).
    The ECDF side is exact rational (integer cumsum over the
    distinct-gap aggregate via the grouped bucketed kernel — types are
    the low-cardinality funnel); the model side 1−e^(−λv) is one shared
    IEEE tree, so the compared doubles are bit-identical cross-engine.
    A large ks_d flags bursty (non-Poisson) behavior — events_burst's
    hypothesis made into a test statistic."""
    ev = table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    wl = Window.partitionBy("user_id", "event_type").orderBy(
        "us", "event_id"
    )
    g = (
        ev.withColumn(
            "gap_s",
            F.floor((F.col("us") - F.lag("us").over(wl)) / 1000000).cast(
                "long"
            ),
        )
        .filter(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0))
        .select("event_type", "gap_s")
    )
    d = g.groupBy("event_type", "gap_s").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = d.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("gap_s")).cast("long").alias("s"),
    )
    cum = grouped_range_prefix_sum(
        d, ["event_type"], "gap_s", "c", out="_cum",
        # r14 small-path opt-in (guide §1.2): d is <= one row per event
        # (distinct (type, gap) spine), events footer bounds it.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "events"),
    ).withColumn("cw", F.col("_cum").cast("long"))
    j = (
        d.join(cum.select("event_type", "gap_s", "cw"), ["event_type", "gap_s"])
        .join(F.broadcast(tot), "event_type")
    )
    model = 1 - F.exp(
        -(F.col("n").cast("double") / F.col("s")) * F.col("gap_s")
    )
    dv = F.greatest(
        F.abs(F.col("cw").cast("double") / F.col("n") - model),
        F.abs((F.col("cw") - F.col("c")).cast("double") / F.col("n") - model),
    )
    dev = j.select("event_type", "n", "s", dv.alias("dv"))
    return dev.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        r4(
            F.max("n").cast("double") / F.max("s") * 1000000
        ).alias("lambda_per_megasec"),
        r4(F.max("dv")).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# greedy_budget_pick — knapsack-by-density on the DESC prefix-sum kernel
# ---------------------------------------------------------------------------

BUDGET_PCT = 10  # spend up to 10% of the total catalog cost


@register(
    "greedy_budget_pick",
    oracle=f"""
    WITH v AS (
      SELECT p.p_partkey,
             CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS cost,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount))
                           AS BIGINT)) AS BIGINT) AS value
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), b AS (
      SELECT CAST(sum(cost) * {BUDGET_PCT} / 100 AS BIGINT) AS budget
      FROM v
    ), o AS (
      SELECT v.p_partkey, v.cost, v.value,
             CAST(value AS DOUBLE) / cost AS density,
             CAST(sum(v.cost) OVER (
               ORDER BY CAST(value AS DOUBLE) / cost DESC, v.p_partkey)
               AS BIGINT) AS cum_cost,
             b.budget
      FROM v, b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_picked,
           CAST(sum(cost) AS BIGINT) AS total_cost,
           CAST(sum(value) AS BIGINT) AS total_value,
           max(budget) AS budget
    FROM o WHERE cum_cost <= budget
    """,
)
def greedy_budget_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy fractional-knapsack prefix: rank parts by realized revenue
    per catalog-cost cent (density), take them in order until the
    {BUDGET_PCT}%-of-catalog budget is spent — the assortment/buyback
    allocation every merchandiser runs, and a new domain for the
    bucketed DESC prefix-sum kernel: the running cost over the
    density-ordered catalog never funnels through one task.  Cost and
    value are exact integers; the density ordering key is one shared
    IEEE division with a partkey tiebreak, so the picked set is
    identical cross-engine; the budget is an exact integer scalar
    broadcast."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias(
            "cost"
        ),
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("long").alias("rev"),
    )
    # pinned: v feeds the budget scalar, the density projection, AND —
    # through the un-grouped bucketed kernel — three more consumers
    # (approxQuantile/local/totals); un-pinned the revenue join ran 4x
    # (plan-audit, SCALE.md §50).
    v = pin(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", "cost")
        .agg(F.sum("rev").cast("long").alias("value"))
    )
    b = v.agg(
        (F.sum("cost") * BUDGET_PCT / 100).cast("long").alias("budget")
    )
    dens = v.withColumn(
        "density", F.col("value").cast("double") / F.col("cost")
    )
    cum = bucketed_prefix_sum(
        dens, "density", ["p_partkey"], "cost", desc=True, out="cum_cost"
    )
    picked = cum.crossJoin(F.broadcast(b)).filter(
        F.col("cum_cost").cast("long") <= F.col("budget")
    )
    return picked.agg(
        F.count(F.lit(1)).alias("n_picked"),
        F.sum("cost").cast("long").alias("total_cost"),
        F.sum("value").cast("long").alias("total_value"),
        F.max("budget").alias("budget"),
    )


# ---------------------------------------------------------------------------
# fn_business_days — weekday-count lead times, engine-neutral arithmetic
# ---------------------------------------------------------------------------

# Monday anchor: 1995-01-02 was a Monday.
BD_ANCHOR = "1995-01-02"


@register(
    "fn_business_days",
    oracle=f"""
    WITH f AS (
      SELECT o.o_orderpriority,
             datediff('day', TIMESTAMP '{BD_ANCHOR}', o.o_orderdate) AS a,
             datediff('day', TIMESTAMP '{BD_ANCHOR}', l.l_shipdate) AS b
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), bd AS (
      SELECT o_orderpriority,
             (CAST(floor(CAST(b AS DOUBLE) / 7) AS BIGINT) * 5
                + least(((b % 7) + 7) % 7, 5))
             - (CAST(floor(CAST(a AS DOUBLE) / 7) AS BIGINT) * 5
                + least(((a % 7) + 7) % 7, 5)) AS busdays
      FROM f
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(busdays) AS DOUBLE) / count(*), 4)
             AS avg_busdays,
           CAST(max(busdays) AS BIGINT) AS max_busdays
    FROM bd GROUP BY o_orderpriority
    """,
)
def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon-Fri) order-to-ship lead time per priority —
    calendar arithmetic every SLA report needs, done WITHOUT any engine
    weekday function: with day numbers anchored to a known Monday, the
    count of business days before day x is f(x) = (x floordiv 7)*5 +
    min(x posmod 7, 5) (indices 0-4 in each week are Mon-Fri; the
    positive mod keeps pre-anchor dates exact), and the lead time is
    f(ship) − f(order) — sign-symmetric for the corpus's
    ship-before-order rows — pure
    integer arithmetic, immune to the Sunday-1 vs Monday-1 numbering
    split between engines.  One co-partitioned join + one combinable
    aggregate."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    anchor = F.lit(BD_ANCHOR).cast("timestamp")

    def busday_index(col):
        d = F.datediff(col, anchor)
        return (
            F.floor(d / 7) * 5 + F.least(F.pmod(d, F.lit(7)), F.lit(5))
        ).cast("long")

    f = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        (
            busday_index(F.col("l_shipdate"))
            - busday_index(F.col("o_orderdate"))
        ).alias("busdays"),
    )
    return f.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        r4(
            F.sum("busdays").cast("double") / F.count(F.lit(1))
        ).alias("avg_busdays"),
        F.max("busdays").cast("long").alias("max_busdays"),
    )
