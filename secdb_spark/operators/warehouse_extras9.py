"""Round-7 additions, batch 9 — oscillators, change-points, gap
histograms, rank shifts, supply concentration, backlog aging.

Reference semantics: SURVEY §2 extension policy (mount empty) — six more
classic warehouse/monitoring shapes, each held to the package's scale
discipline: windows only over calendar-bounded daily series or
model-sized aggregates (the allowlisted classes), everything else
map-side-combinable aggregates with broadcast scalars/dims, and every
order-sensitive sum on the exact DECIMAL / quantized-integer paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import pin, DEC, dsum, r4

# ---------------------------------------------------------------------------
# ts_stochastic — stochastic oscillator %K / %D on the daily close
# ---------------------------------------------------------------------------

STOCH_DAYS = 14  # lookback window for the low/high channel


@register(
    "ts_stochastic",
    oracle=f"""
    WITH f AS (
      SELECT event_type, date_trunc('day', ts) AS day, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), daily AS (
      SELECT event_type, day,
             datediff('day', TIMESTAMP '2024-01-01', day) AS di,
             value AS close
      FROM f WHERE rn = 1
    ), chan AS (
      SELECT event_type, day, close,
             min(close) OVER (PARTITION BY event_type ORDER BY di
                              RANGE BETWEEN {STOCH_DAYS - 1} PRECEDING
                              AND CURRENT ROW) AS lo,
             max(close) OVER (PARTITION BY event_type ORDER BY di
                              RANGE BETWEEN {STOCH_DAYS - 1} PRECEDING
                              AND CURRENT ROW) AS hi,
             di
      FROM daily
    ), k AS (
      SELECT event_type, day, di, close,
             CASE WHEN hi > lo
                  THEN round((close - lo) / (hi - lo), 4) END AS pct_k
      FROM chan
    )
    SELECT event_type, day, close, pct_k,
           CASE WHEN lag(pct_k, 2) OVER w IS NOT NULL
                 AND lag(pct_k, 1) OVER w IS NOT NULL
                 AND pct_k IS NOT NULL
                THEN round((pct_k + lag(pct_k, 1) OVER w
                            + lag(pct_k, 2) OVER w) / 3, 4) END AS pct_d
    FROM k
    WINDOW w AS (PARTITION BY event_type ORDER BY di)
    """,
)
def ts_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator on the per-type daily close: %K = (close -
    {STOCH_DAYS}-day low) / ({STOCH_DAYS}-day high - low), %D = 3-day
    smoothing of %K.  The close is the tie-safe last tick of the day
    ((ts, event_id) total order); every window runs over the
    calendar-bounded daily series (allowlisted: |days|x|types| rows at
    any corpus scale) — the tick-level work is one combinable
    row_number+filter per (type, day).  The channel uses a RANGE frame
    on integer day index, so calendar gaps shorten the lookback exactly
    like a trading calendar.  %D is the explicit left-associated
    three-term mean of the ALREADY-ROUNDED %K values (lag trees, not a
    windowed avg — windowed sliding aggregates are free to re-associate
    floats, the explicit tree is bit-stable cross-engine), NULL until
    three %K values exist."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wf = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.withColumn("day", day)
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "day",
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("timestamp")).alias(
                "di"
            ),
            F.col("value").alias("close"),
        )
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-(STOCH_DAYS - 1), 0)
    )
    chan = daily.withColumn("lo", F.min("close").over(wc)).withColumn(
        "hi", F.max("close").over(wc)
    )
    k = chan.withColumn(
        "pct_k",
        F.when(
            F.col("hi") > F.col("lo"),
            r4((F.col("close") - F.col("lo")) / (F.col("hi") - F.col("lo"))),
        ),
    )
    wd = Window.partitionBy("event_type").orderBy("di")
    l1, l2 = F.lag("pct_k", 1).over(wd), F.lag("pct_k", 2).over(wd)
    return k.select(
        "event_type",
        "day",
        "close",
        "pct_k",
        F.when(
            l2.isNotNull() & l1.isNotNull() & F.col("pct_k").isNotNull(),
            r4((F.col("pct_k") + l1 + l2) / 3),
        ).alias("pct_d"),
    )


# ---------------------------------------------------------------------------
# ts_cusum — cumulative-deviation change-point scan on daily volumes
# ---------------------------------------------------------------------------

def cusum(
    df: DataFrame,
    val_col: str,
    order_col: str,
    by: list[str],
) -> DataFrame:
    """Cumulative-deviation change-point scan over ANY pre-bucketed
    integer series (ts_cusum's algebra with columns parameterized): the
    running sum of (value - overall mean) peaks where the rate regime
    shifts.  Entirely exact integer arithmetic — the deviation cusum at
    step t is (n*cum_t - t*total)/n, so the scan maximizes the integer
    |n*cum_t - t*total| and only the reported peak_dev divides at the
    end.  Peak ties resolve to the earliest order key.  Pass ONE row
    per (by, order_col) with integer values.  Returns
    (by..., n_points, peak_at, peak_dev).

    Scale: windows run over the pre-bucketed series; the argmax join
    broadcasts the |groups|-row max frame."""
    series = pin(
        df.select(
            *by, F.col(order_col).alias("_o"), F.col(val_col).alias("_c")
        )
    )
    tot = series.groupBy(*by).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_c").cast("long").alias("_total"),
    )
    w = (
        Window.partitionBy(*by)
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        series.withColumn("_cumc", F.sum("_c").over(w).cast("long"))
        .withColumn(
            "_idx",
            F.row_number().over(Window.partitionBy(*by).orderBy("_o")),
        )
        .join(F.broadcast(tot), list(by))
        .withColumn(
            "_ex",
            F.abs(
                F.col("_n") * F.col("_cumc") - F.col("_idx") * F.col("_total")
            ),
        )
    )
    cum = pin(cum)
    m = cum.groupBy(*by).agg(F.max("_ex").alias("_mex"))
    mj = m.select(*[F.col(g).alias(f"_m_{g}") for g in by], "_mex")
    jc = F.col("_ex") == F.col("_mex")
    for g in by:
        jc = jc & (F.col(g) == F.col(f"_m_{g}"))
    return (
        cum.join(F.broadcast(mj), jc)
        .groupBy(*by)
        .agg(
            F.max("_n").alias("n_points"),
            F.min("_o").alias("peak_at"),
            r4(F.max("_mex").cast("double") / F.max("_n")).alias("peak_dev"),
        )
    )


@register(
    "ts_cusum",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ), cum AS (
      SELECT d.event_type, d.day, t.n_days, t.total,
             abs(t.n_days * CAST(sum(d.c) OVER (PARTITION BY d.event_type
                                                ORDER BY d.day) AS BIGINT)
                 - row_number() OVER (PARTITION BY d.event_type
                                      ORDER BY d.day) * t.total) AS ex
      FROM daily d JOIN tot t ON d.event_type = t.event_type
    ), m AS (
      SELECT event_type, max(ex) AS mex FROM cum GROUP BY 1
    )
    SELECT c.event_type, max(c.n_days) AS n_days,
           min(c.day) AS peak_day,
           round(CAST(max(m.mex) AS DOUBLE) / max(c.n_days), 4) AS peak_dev
    FROM cum c JOIN m ON c.event_type = m.event_type AND c.ex = m.mex
    GROUP BY c.event_type
    """,
)
def ts_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-deviation change-point scan per event type over the
    daily count series — the `cusum` kernel; the tick-level work is one
    combinable count, the windows run over the calendar-bounded daily
    aggregate."""
    daily = table(spark, sf_dir, "events").groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    return cusum(daily, "c", "day", by=["event_type"]).select(
        "event_type",
        F.col("n_points").alias("n_days"),
        F.col("peak_at").alias("peak_day"),
        "peak_dev",
    )


# ---------------------------------------------------------------------------
# event_gap_hist — log2-bucketed inter-event-gap histogram per type
# ---------------------------------------------------------------------------

def gap_hist(
    df: DataFrame,
    by: list[str],
    stream_cols: list[str],
    time_col: str,
    tie_cols: list[str] | None = None,
    unit: int = 1_000_000,
) -> DataFrame:
    """Log2-bucketed histogram of the inter-event gap per stream,
    rolled up per group (event_gap_hist's algebra with columns
    parameterized) — the burstiness / session-boundary profile behind
    sessionize-threshold tuning.  The gap divides by `unit` (micros ->
    seconds by default); the bucket is floor(log2(gap)) + 1 computed
    EXACTLY as the bit length of the integer gap (no float log; <= 0
    gaps take bucket 0).  `stream_cols` define the lag partitioning
    (high-cardinality, scale-safe); `by` defines the reported rollup.
    Returns (by..., bucket, n, share).

    Scale: the lag runs per stream; the histogram is one combinable
    aggregate on |by| x ~40 bucket keys; the final share divides exact
    counts over the model-sized aggregate."""
    tie_cols = tie_cols or []
    wl = Window.partitionBy(*stream_cols).orderBy(time_col, *tie_cols)
    g = df.withColumn(
        "_gap",
        F.floor(
            (F.col(time_col) - F.lag(time_col).over(wl)) / unit
        ).cast("long"),
    ).filter(F.col("_gap").isNotNull())
    b = g.withColumn(
        "bucket",
        F.when(F.col("_gap") <= 0, 0)
        .otherwise(F.length(F.bin(F.col("_gap"))))
        .cast("int"),
    )
    h = b.groupBy(*by, "bucket").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy(*by)
    return h.select(
        *by,
        "bucket",
        "n",
        r4(F.col("n").cast("double") / F.sum("n").over(wt)).alias("share"),
    )


@register(
    "event_gap_hist",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(floor((epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY epoch_us(ts), event_id))
                        / 1000000) AS BIGINT) AS gap_s
      FROM events
    ), b AS (
      SELECT event_type,
             CASE WHEN gap_s <= 0 THEN 0
                  ELSE CAST(length(bin(gap_s)) AS INT) END AS bucket
      FROM g WHERE gap_s IS NOT NULL
    ), h AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY 1, 2
    )
    SELECT event_type, bucket, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY event_type), 4) AS share
    FROM h
    """,
)
def event_gap_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of the inter-event gap (seconds) per
    (user, type) stream, aggregated per type — the `gap_hist` kernel
    over epoch-µs, lag ties broken by event_id."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return gap_hist(
        ev, ["event_type"], ["user_id", "event_type"], "us",
        tie_cols=["event_id"], unit=1_000_000,
    )


# ---------------------------------------------------------------------------
# brand_rank_shift — brand revenue league table, first vs second half
# ---------------------------------------------------------------------------

RANK_SPLIT = "1998-07-01"


@register(
    "brand_rank_shift",
    oracle=f"""
    WITH r AS (
      SELECT p.p_brand,
             sum(CASE WHEN l.l_shipdate < TIMESTAMP '{RANK_SPLIT}'
                      THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                AS DECIMAL(38,6)) END) AS rev1,
             sum(CASE WHEN l.l_shipdate >= TIMESTAMP '{RANK_SPLIT}'
                      THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                AS DECIMAL(38,6)) END) AS rev2
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand,
           round(CAST(rev1 AS DOUBLE), 4) AS rev_h1,
           round(CAST(rev2 AS DOUBLE), 4) AS rev_h2,
           CAST(row_number() OVER (ORDER BY rev1 DESC, p_brand) AS INT)
             AS rank_h1,
           CAST(row_number() OVER (ORDER BY rev2 DESC, p_brand) AS INT)
             AS rank_h2,
           CAST(row_number() OVER (ORDER BY rev1 DESC, p_brand) AS INT)
             - CAST(row_number() OVER (ORDER BY rev2 DESC, p_brand) AS INT)
             AS shift
    FROM r
    """,
)
def brand_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue league table across the two halves of the corpus
    date range (split {RANK_SPLIT}): revenue, rank within each half, and
    the rank shift — the 'movers and shakers' report.  One broadcast
    part join + one combinable conditional-decimal aggregate per brand;
    the ranking windows run over the |brands|-row aggregate (model-sized,
    allowlisted) and order by the EXACT decimal revenue with a brand
    tiebreak, so ranks are hash-stable cross-engine.  shift > 0 means
    the brand climbed in the second half."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
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
    w1 = Window.orderBy(F.col("rev1").desc(), F.col("p_brand"))
    w2 = Window.orderBy(F.col("rev2").desc(), F.col("p_brand"))
    rk1 = F.row_number().over(w1).cast("int")
    rk2 = F.row_number().over(w2).cast("int")
    return r.select(
        "p_brand",
        r4(F.col("rev1").cast("double")).alias("rev_h1"),
        r4(F.col("rev2").cast("double")).alias("rev_h2"),
        rk1.alias("rank_h1"),
        rk2.alias("rank_h2"),
        (rk1 - rk2).alias("shift"),
    )


# ---------------------------------------------------------------------------
# part_supplier_concentration — per-part supply-base concentration
# ---------------------------------------------------------------------------

@register(
    "part_supplier_concentration",
    oracle="""
    WITH s AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(q) AS BIGINT) AS total_q100,
           round(CAST(max(q) AS DOUBLE) / sum(q), 4) AS top_share,
           round(CAST(sum(q * q) AS DOUBLE)
                 / (CAST(sum(q) AS DOUBLE) * sum(q)), 4) AS hhi
    FROM s GROUP BY l_partkey
    """,
)
def part_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supply-base concentration per part: supplier count, top-supplier
    share of shipped quantity, and the Herfindahl index over supplier
    shares — the single-source-risk screen.  Two cascaded combinable
    aggregates ((part, supplier) quantity, then per-part moments); HHI
    = sum(q_s^2) / total^2 keeps both sums exact integers (quantity
    quantized e2) and divides once at the end.  Overflow bound: q^2 <
    2^63 holds to ~3e9 quantity-cents per (part, supplier) pair; past
    that the square-sum widens to DECIMAL(38,0) with the same shape."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("q100"),
    )
    s = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q100").cast("long").alias("q")
    )
    return s.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").cast("long").alias("total_q100"),
        r4(F.max("q").cast("double") / F.sum("q")).alias("top_share"),
        r4(
            F.sum(F.col("q") * F.col("q")).cast("double")
            / (F.sum("q").cast("double") * F.sum("q"))
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# order_priority_aging — open-order backlog aging buckets
# ---------------------------------------------------------------------------

@register(
    "order_priority_aging",
    oracle="""
    WITH m AS (SELECT max(o_orderdate) AS maxd FROM orders),
    b AS (
      SELECT o_orderpriority,
             CASE WHEN datediff('day', o_orderdate, m.maxd) <= 30
                    THEN '0-30'
                  WHEN datediff('day', o_orderdate, m.maxd) <= 90
                    THEN '31-90'
                  WHEN datediff('day', o_orderdate, m.maxd) <= 365
                    THEN '91-365'
                  ELSE '365+' END AS age_bucket,
             o_totalprice
      FROM orders, m WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority, age_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
                 4) AS open_value
    FROM b GROUP BY 1, 2
    """,
)
def order_priority_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order ('O' status) backlog aged into 0-30 / 31-90 / 91-365 /
    365+ day buckets relative to the corpus max order date, per order
    priority — the operations review's aging matrix.  The reference date
    is a one-row aggregate broadcast into the bucketing expression
    (scalar cross join); the rest is one combinable aggregate on the
    |priorities| x 4 bucket key with the exact-decimal value sum.  Age
    is exact integer day arithmetic."""
    o = table(spark, sf_dir, "orders")
    m = o.agg(F.max("o_orderdate").alias("maxd"))
    age = F.datediff(F.col("maxd"), F.col("o_orderdate"))
    bucket = (
        F.when(age <= 30, "0-30")
        .when(age <= 90, "31-90")
        .when(age <= 365, "91-365")
        .otherwise("365+")
    )
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(m))
        .select(
            "o_orderpriority",
            bucket.alias("age_bucket"),
            "o_totalprice",
        )
        .groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r4(dsum(F.col("o_totalprice"))).alias("open_value"),
        )
    )
