"""Round-7 additions, batch 38 — as-of join certified against a NATIVE
implementation, decile gains table, part sourcing breadth.

Reference semantics: SURVEY §2 extension policy (mount empty).
join_asof_native re-certifies the union-tag as-of kernel against DuckDB's
built-in `ASOF JOIN` operator — an independent native implementation, the
strongest differential this suite can buy (the win_exclude_current
pattern: emulation on one side, engine-native semantics on the other).
decile_lift_table is the model-eval gains table built WITHOUT a global
NTILE window (value-spine thresholds instead).  part_sourcing_breadth
distributes parts by how many supplier nations serve them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import r4


# ---------------------------------------------------------------------------
# join_asof_native — union-tag as-of kernel vs DuckDB's native ASOF JOIN
# ---------------------------------------------------------------------------

@register(
    "join_asof_native",
    oracle="""
    WITH views AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ), purchases AS (
      SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT v.event_id, v.user_id,
           CAST(v.ts AS TIMESTAMP) AS ts,
           CAST(p.ts AS TIMESTAMP) AS last_purchase_ts,
           CAST(CASE WHEN p.ts IS NOT NULL
                     THEN (epoch_us(v.ts) - epoch_us(p.ts)) // 1000000
                END AS BIGINT) AS secs_since_purchase
    FROM views v ASOF LEFT JOIN purchases p
      ON v.user_id = p.user_id AND v.ts >= p.ts
    """,
)
def join_asof_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join — each view event picks the SAME USER's most
    recent purchase at-or-before it — certified against DuckDB's
    **native `ASOF JOIN` operator**, not a hand-written correlated
    subquery: the two sides share no code or algorithm, so a hash match
    certifies the SEMANTICS of the union-tag kernel (join_asof's plan
    shape) against an independent engine-native implementation.

    Kernel: union both streams tagged (purchases sort BEFORE views on
    ts ties, because >= includes equality), one user_id-partitioned
    window carries last(purchase_ts, ignoreNulls) forward — ONE shuffle
    on the natural user key, no range join, no per-row probe.  The
    right side pre-collapses to DISTINCT (user, ts) so ties inside the
    purchase stream cannot make the match ambiguous."""
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .distinct()
    )
    tagged = views.select(
        "user_id", "ts", F.lit(1).alias("tag"), "event_id",
        F.lit(None).cast("timestamp").alias("p_ts"),
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(0).alias("tag"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "last_purchase_ts", F.last("p_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("tag") == 1).select(
        "event_id",
        "user_id",
        "ts",
        "last_purchase_ts",
        F.when(
            F.col("last_purchase_ts").isNotNull(),
            F.floor(
                (
                    F.unix_micros("ts") - F.unix_micros("last_purchase_ts")
                ) / 1_000_000
            ),
        ).cast("long").alias("secs_since_purchase"),
    )


# ---------------------------------------------------------------------------
# decile_lift_table — gains table without a global NTILE window
# ---------------------------------------------------------------------------

def _decile_case_sql() -> str:
    # decile = 1 + number of thresholds strictly below the spend
    terms = " + ".join(
        f"CASE WHEN s > thr[{k}] THEN 1 ELSE 0 END" for k in range(1, 10)
    )
    return f"1 + {terms}"


@register(
    "decile_lift_table",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS s
      FROM orders GROUP BY 1
    ), thr AS (
      SELECT quantile_disc(s, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS thr
      FROM spend
    ), assigned AS (
      SELECT CAST({_decile_case_sql()} AS BIGINT) AS decile, s
      FROM spend CROSS JOIN thr
    ), per_decile AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(s) AS BIGINT) AS spend_cents
      FROM assigned GROUP BY 1
    )
    SELECT decile, n_customers, spend_cents,
           round(CAST(spend_cents AS DOUBLE) / sum(spend_cents) OVER (), 4)
             AS spend_share,
           round(CAST(sum(spend_cents) OVER (ORDER BY decile DESC)
                      AS DOUBLE) / sum(spend_cents) OVER (), 4)
             AS cum_share_top_down,
           round((CAST(sum(spend_cents) OVER (ORDER BY decile DESC)
                       AS DOUBLE) / sum(spend_cents) OVER ())
                 / (CAST(sum(n_customers) OVER (ORDER BY decile DESC)
                         AS DOUBLE) / sum(n_customers) OVER ()), 4)
             AS lift
    FROM per_decile
    """,
)
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table — rank customers into spend deciles and
    report each decile's share, the top-down cumulative share, and the
    lift over random targeting (the model-eval artifact every response
    model ships with).  Deciles come from VALUE THRESHOLDS (the 9
    quantile_disc cuts, rank = ceil(p·n)) computed on the distinct-spend
    spine via the grouped prefix-sum kernel — NEVER a global NTILE
    window over customers (the win_ntile scale trap; ties share a
    decile by value, documented).  The 9-value threshold row re-enters
    as a broadcast; final gains math runs on the 10-row decile table."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        ).cast("long").alias("s")
    )
    cum = grouped_range_prefix_sum(
        spend.withColumn("g", F.lit(1)).withColumn("one", F.lit(1)),
        ["g"], "s", "one", out="_cum",
        # r14 small-path opt-in (guide §1.2): one spend row per customer
        # with an order <= orders footer rows.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "orders"),
    )
    tot = cum.agg(F.sum("_v").cast("long").alias("n"))
    j = cum.crossJoin(F.broadcast(tot))
    picks = [
        F.min(
            F.when(
                F.col("_cum")
                >= F.floor(
                    (F.lit(k) * F.col("n") + 9) / F.lit(10)
                ).cast("long"),
                F.col("s"),
            )
        ).alias(f"thr{k}")
        for k in range(1, 10)
    ]
    thr = j.agg(*picks)
    decile = (
        F.lit(1)
        + sum(
            F.when(F.col("s") > F.col(f"thr{k}"), 1).otherwise(0)
            for k in range(1, 10)
        )
    ).cast("long")
    per_decile = (
        spend.crossJoin(F.broadcast(thr))
        .groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("s").cast("long").alias("spend_cents"),
        )
    )
    wdesc = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_spend = F.sum("spend_cents").over(wdesc).cast("double")
    tot_spend = F.sum("spend_cents").over(wall).cast("double")
    cum_cust = F.sum("n_customers").over(wdesc).cast("double")
    tot_cust = F.sum("n_customers").over(wall).cast("double")
    return per_decile.select(
        "decile",
        "n_customers",
        "spend_cents",
        r4(F.col("spend_cents").cast("double") / tot_spend)
        .alias("spend_share"),
        r4(cum_spend / tot_spend).alias("cum_share_top_down"),
        r4((cum_spend / tot_spend) / (cum_cust / tot_cust)).alias("lift"),
    )


# ---------------------------------------------------------------------------
# part_sourcing_breadth — how many supplier nations serve each part
# ---------------------------------------------------------------------------

@register(
    "part_sourcing_breadth",
    oracle="""
    WITH breadth AS (
      SELECT l.l_partkey,
             CAST(count(DISTINCT s.s_nationkey) AS BIGINT) AS n_nations
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1
    )
    SELECT n_nations,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 4)
             AS share_of_parts
    FROM breadth GROUP BY 1
    """,
)
def part_sourcing_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain resilience distribution: for every traded part,
    how many DISTINCT supplier nations have actually shipped it, then
    the histogram over parts — the single-sourced tail (n_nations = 1)
    is the supply-risk register.  Supplier joins the fact scan as a
    BROADCAST dim; the two cascaded aggregates (distinct nations per
    part via the (part, nation) pre-distinct, then the bounded-domain
    histogram) both combine map-side; the final share window runs over
    ≤|nations| rows."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    breadth = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select("l_partkey", "s_nationkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
    )
    hist = breadth.groupBy("n_nations").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "n_nations",
        "n_parts",
        r4(
            F.col("n_parts").cast("double") / F.sum("n_parts").over(wall)
        ).alias("share_of_parts"),
    )
