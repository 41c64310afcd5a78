"""Round-7 additions, batch 17 — Sharpe ratios, per-group GOF chi2,
reorder-interval percentiles, session depth, interval-RANGE SQL windows,
order-count distributions, per-source duplicate rates.

Reference semantics: SURVEY §2 extension policy (mount empty).  The
chi2 and return-moment terms follow the e6 / DECIMAL(38,12)
quantize-then-sum discipline; percentiles ride the grouped bucketed
prefix-sum kernel; everything else is combinable aggregates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import pin, r4

DEC12 = "decimal(38,12)"
SQRT365 = repr(math.sqrt(365.0))


# ---------------------------------------------------------------------------
# ts_sharpe — annualized Sharpe ratio of daily returns per event type
# ---------------------------------------------------------------------------

@register(
    "ts_sharpe",
    oracle=f"""
    WITH f AS (
      SELECT event_type, date_trunc('day', ts) AS day, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), daily AS (
      SELECT event_type, day, value AS close FROM f WHERE rn = 1
    ), r AS (
      SELECT event_type,
             round(close / lag(close) OVER (PARTITION BY event_type
                                            ORDER BY day) - 1, 6) AS ret
      FROM daily
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(ret AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(sum(CAST(ret * ret AS DECIMAL(38,12))) AS DOUBLE) AS sq
      FROM r WHERE ret IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           round(s / n * 10000, 4) AS mean_ret_bp,
           round((s / n)
                 / sqrt((sq - s * s / n) / (n - 1)) * {SQRT365}, 4)
             AS sharpe_ann
    FROM m
    """,
)
def ts_sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio of the per-type daily close returns —
    the risk-adjusted companion to ts_rsi/ts_bollinger.  Returns round
    to 6 places FIRST (identical doubles both engines), then the two
    moments quantize to DECIMAL(38,12) before their exact sums; mean,
    stddev, and the sqrt(365) annualization are one shared IEEE tree
    with a repr-literal constant.  All windows run over the
    calendar-bounded daily series."""
    ev = table(spark, sf_dir, "events")
    wf = Window.partitionBy(
        "event_type", F.date_trunc("day", F.col("ts"))
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    daily = (
        ev.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("value").alias("close"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    r = daily.select(
        "event_type",
        F.round(F.col("close") / F.lag("close").over(w) - 1, 6).alias("ret"),
    ).filter(F.col("ret").isNotNull())
    n = F.count(F.lit(1))
    s = F.sum(F.col("ret").cast(DEC12)).cast("double")
    sq = F.sum((F.col("ret") * F.col("ret")).cast(DEC12)).cast("double")
    m = r.groupBy("event_type").agg(
        n.cast("long").alias("n"), s.alias("s"), sq.alias("sq")
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(
        (F.col("sq") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        r4(mean * 10000).alias("mean_ret_bp"),
        r4(mean / std * float(SQRT365)).alias("sharpe_ann"),
    )


# ---------------------------------------------------------------------------
# brand_size_chi2 — per-brand goodness-of-fit of the size distribution
# ---------------------------------------------------------------------------

@register(
    "brand_size_chi2",
    oracle="""
    WITH cells AS (
      SELECT p_brand AS brand, p_size AS sz,
             CAST(count(*) AS BIGINT) AS o
      FROM part GROUP BY 1, 2
    ), szm AS (SELECT sz, CAST(sum(o) AS BIGINT) AS cs FROM cells GROUP BY sz),
    brm AS (SELECT brand, CAST(sum(o) AS BIGINT) AS nb FROM cells GROUP BY brand),
    nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    spine AS (
      SELECT brm.brand, brm.nb, szm.sz, szm.cs FROM brm CROSS JOIN szm
    ), terms AS (
      SELECT spine.brand, spine.nb,
             CAST(floor(
               (coalesce(c.o, 0)
                - CAST(spine.nb AS DOUBLE) * spine.cs / nn.n)
               * (coalesce(c.o, 0)
                  - CAST(spine.nb AS DOUBLE) * spine.cs / nn.n)
               / (CAST(spine.nb AS DOUBLE) * spine.cs / nn.n)
               * 1000000 + 0.5) AS BIGINT) AS tq
      FROM spine
      LEFT JOIN cells c ON c.brand = spine.brand AND c.sz = spine.sz
      CROSS JOIN nn
    )
    SELECT brand, max(nb) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(tq) AS DOUBLE) / 1000000, 4) AS chi2
    FROM terms GROUP BY brand
    """,
)
def brand_size_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand chi-square goodness of fit of the part-size
    distribution against the corpus-wide size mix — the per-group GOF
    twin of chi2_independence (a brand with a huge chi2 specializes in
    certain sizes).  The cell spine is brands x sizes WITH ZERO-FILLED
    observed counts (a brand missing a popular size IS the signal — the
    same full-spine lesson as source_length_ks); each (o-e)^2/e term
    quantizes half-up to an e6 integer so the sum is order-free.  All
    frames are model-sized aggregates of the part dim."""
    # pinned: the brand x size cross-tab feeds both margins, the grand
    # total, and the spine join (plan-audit, SCALE.md §50).
    cells = pin(table(spark, sf_dir, "part").groupBy(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("sz")
    ).agg(F.count(F.lit(1)).alias("o")))
    szm = cells.groupBy("sz").agg(F.sum("o").cast("long").alias("cs"))
    brm = cells.groupBy("brand").agg(F.sum("o").cast("long").alias("nb"))
    nn = cells.agg(F.sum("o").cast("long").alias("n"))
    spine = brm.crossJoin(F.broadcast(szm))
    e = F.col("nb").cast("double") * F.col("cs") / F.col("n")
    o = F.coalesce(F.col("o"), F.lit(0))
    tq = F.floor((o - e) * (o - e) / e * 1000000 + 0.5).cast("long")
    terms = (
        spine.join(cells, ["brand", "sz"], "left")
        .crossJoin(F.broadcast(nn))
        .select("brand", "nb", tq.alias("tq"))
    )
    return terms.groupBy("brand").agg(
        F.max("nb").alias("n_parts"),
        F.count(F.lit(1)).alias("n_cells"),
        r4(F.sum("tq").cast("double") / 1000000).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# reorder_interval_percentiles — discrete percentiles of reorder gaps
# ---------------------------------------------------------------------------

RIP_PS = ((1, 4), (1, 2), (3, 4), (9, 10))


@register(
    "reorder_interval_percentiles",
    oracle=f"""
    WITH g AS (
      SELECT datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate,
                                                      o_orderkey),
                      o_orderdate) AS gap
      FROM orders
    ), d AS (SELECT gap FROM g WHERE gap IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n,
           {", ".join(
               f"quantile_disc(gap, {num}.0/{den})"
               f" AS p{int(num * 100 // den)}"
               for num, den in RIP_PS)}
    FROM d
    """,
)
def reorder_interval_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete percentiles (p25/p50/p75/p90) of the customer reorder
    interval in days — purchase_gaps' per-customer series reduced to the
    inventory-planning distribution summary.  The lag runs per customer
    (high-cardinality, scale-safe); the global ORDER BY gap goes through
    the bucketed prefix-sum kernel over the distinct-gap aggregate
    (agg_percentile_disc's exact integer rank rule: value at
    ceil(p·n)), so no data-sized window anywhere and zero FP in the
    pick."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    cum = grouped_range_prefix_sum(
        g.withColumn("one", F.lit(1)), [], "gap", "one", out="_cum",
        # r14 small-path opt-in (guide §1.2): one gap row per order at
        # most, so the orders footer row count bounds the kernel input.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "orders"),
    )
    tot = cum.agg(F.sum("_v").cast("long").alias("n"))
    j = cum.crossJoin(F.broadcast(tot))
    picks = []
    for num, den in RIP_PS:
        threshold = F.floor(
            (F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den)
        ).cast("long")
        picks.append(
            F.min(
                F.when(F.col("_cum") >= threshold, F.col("gap"))
            ).alias(f"p{int(num * 100 // den)}")
        )
    return j.agg(F.max("n").alias("n"), *picks)


# ---------------------------------------------------------------------------
# session_depth_dist — events-per-session histogram
# ---------------------------------------------------------------------------

SD_GAP_US = 30 * 60 * 1_000_000


@register(
    "session_depth_dist",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ), g AS (
      SELECT user_id, us, event_id,
             CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id)
                       > {SD_GAP_US}
                   OR lag(us) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ), s AS (
      SELECT user_id,
             CAST(sum(new_s) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS BIGINT) AS sid
      FROM g
    ), per AS (
      SELECT user_id, sid, CAST(count(*) AS BIGINT) AS depth
      FROM s GROUP BY user_id, sid
    ), h AS (
      SELECT least(10, depth) AS depth_bucket,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM per GROUP BY 1
    )
    SELECT depth_bucket, n_sessions,
           round(CAST(n_sessions AS DOUBLE)
                 / sum(n_sessions) OVER (), 4) AS share
    FROM h
    """,
)
def session_depth_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events-per-session histogram (depths capped at 10+) with shares —
    orders_linecount_dist's fan-out profile applied to sessions; the
    1-event bar IS session_bounce_rate's numerator, pinned here across
    the whole depth distribution.  One user_id shuffle carries the lag,
    session cumsum, and per-session count; the histogram is model-sized
    and the share window runs over it (allowlisted)."""
    ev = table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    wl = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(wl)
    new_s = F.when(
        prev.isNull() | ((F.col("us") - prev) > SD_GAP_US), 1
    ).otherwise(0)
    sid = (
        F.sum(new_s).over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    ).cast("long")
    per = (
        ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).alias("depth"))
    )
    h = per.groupBy(
        F.least(F.lit(10), F.col("depth")).cast("long").alias("depth_bucket")
    ).agg(F.count(F.lit(1)).alias("n_sessions"))
    wt = Window.partitionBy()
    return h.select(
        "depth_bucket",
        "n_sessions",
        r4(
            F.col("n_sessions").cast("double")
            / F.sum("n_sessions").over(wt)
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# customer_order_count_dist — orders-per-customer histogram
# ---------------------------------------------------------------------------

@register(
    "customer_order_count_dist",
    oracle="""
    WITH per AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ), h AS (
      SELECT least(20, n_orders) AS orders_bucket,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM per GROUP BY 1
    )
    SELECT orders_bucket, n_customers,
           round(CAST(n_customers AS DOUBLE)
                 / sum(n_customers) OVER (), 4) AS share
    FROM h
    """,
)
def customer_order_count_dist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orders-per-customer histogram (capped at 20+): the one-and-done
    share (bucket 1) against the loyalty tail — the shape behind
    customer_churn's point estimate.  Two cascaded combinable
    aggregates; the share window runs over the ≤20-row histogram."""
    per = table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    h = per.groupBy(
        F.least(F.lit(20), F.col("n_orders")).cast("long").alias(
            "orders_bucket"
        )
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    wt = Window.partitionBy()
    return h.select(
        "orders_bucket",
        "n_customers",
        r4(
            F.col("n_customers").cast("double")
            / F.sum("n_customers").over(wt)
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# source_dup_rate — exact-duplicate share per source
# ---------------------------------------------------------------------------

@register(
    "source_dup_rate",
    oracle="""
    WITH sig AS (
      SELECT source, doc_id, md5(text) AS h FROM documents
    ), freq AS (
      SELECT h, CAST(count(*) AS BIGINT) AS c FROM sig GROUP BY h
    )
    SELECT sig.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE freq.c >= 2) AS BIGINT) AS n_dup,
           round(CAST(count(*) FILTER (WHERE freq.c >= 2) AS DOUBLE)
                 / count(*), 4) AS dup_rate
    FROM sig JOIN freq ON sig.h = freq.h
    GROUP BY sig.source
    """,
)
def source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate share per source: the fraction of a source's
    documents whose md5 appears >= 2 times ANYWHERE in the corpus — the
    per-feed contamination scorecard a crawler dashboard shows (a feed
    at 0.9 is re-serving another feed's pages).  dedup_exact's
    hash-frequency shape plus one equi-join back on the 16-byte digest
    key; both aggregates combinable, the join shuffles 32-byte rows."""
    sig = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.md5("text").alias("h")
    )
    freq = sig.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    j = sig.join(freq, "h")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("c") >= 2, 1)).alias("n_dup"),
        r4(
            F.count(F.when(F.col("c") >= 2, 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )
