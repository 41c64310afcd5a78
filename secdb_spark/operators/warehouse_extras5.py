"""Round-6 additions, batch 3 — SURVEY §2.Q: quantified-subquery and
DISTINCT ON SQL-surface parity, a one-pass pairwise correlation matrix
from decimal moment sums, tie-safe weighted medians via RANGE-frame
cumulative weights, Bollinger volatility bands, new-vs-returning customer
decomposition, a monthly revenue bridge (gross -> discount -> tax
waterfall), recency-based churn classification, a duplicate-payment
audit self-join, inter-purchase gap statistics, and XYZ inventory
classification on exact integer coefficient-of-variation bounds.

Design rules as everywhere in this package: one declarative DataFrame
plan per op (Catalyst owns the physical strategy), broadcast what is
model-sized, shuffle only on the op's natural key, every float that
reaches the driver either integer-quantized or produced by an identical
single-IEEE-op expression tree in both engines (registry.py header lists
the six determinism conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import r4, sql_dsum

D0 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# sql_any_all — quantified comparison subqueries (>= ALL / > ANY)
# ---------------------------------------------------------------------------

@register(
    "sql_any_all",
    oracle="""
    SELECT o.o_custkey, o.o_orderkey, o.o_totalprice,
           (o.o_totalprice > ANY (
              SELECT o3.o_totalprice FROM orders o3
              WHERE o3.o_custkey = o.o_custkey AND o3.o_orderkey <> o.o_orderkey
           )) AS beats_some_sibling
    FROM orders o
    WHERE o.o_totalprice >= ALL (
      SELECT o2.o_totalprice FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def sql_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified-comparison subquery surface (`>= ALL` / `> ANY`): each
    customer's maximal order(s), flagged with whether they strictly beat
    at least one sibling order.  The reference grammar (and DuckDB)
    supports ANY/ALL natively; Spark SQL does not parse quantified
    comparisons, so the engine expresses the IDENTICAL relational
    semantics with per-key extrema — `>= ALL (S)` == `x >= max(S)` and
    `> ANY (S)` == `x > min(S)` over non-empty S — computed in ONE
    window pass over the customer partition (DuckDB's decorrelator
    rewrites the subqueries to the same aggregate-and-join shape).

    Ties: `>= ALL` admits every co-maximal order — both engines return
    all of them, no arbitrary pick.  `beats_some_sibling` is false for a
    single-order customer (empty S: `> ANY` is vacuously false) and
    false when all sibling orders tie the maximum; min-over-others is
    evaluated as min-excluding-self via the two-smallest trick (if the
    row holds the partition minimum, the sibling minimum is the second
    smallest) so no self-join is needed.

    Scale: one hash-shuffle on o_custkey shared by both window
    aggregates; output is ~|customers| rows.  No correlated per-row
    subquery execution anywhere — at 100 TB the plan is a single
    exchange plus a window, same as any grouped extremum."""
    w = Window.partitionBy("o_custkey")
    mx = F.max("o_totalprice").over(w)
    mn = F.min("o_totalprice").over(w)
    n = F.count(F.lit(1)).over(w)
    # second-smallest price in the partition (for min-excluding-self)
    rnk = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    )
    second = F.max(F.when(rnk == 2, F.col("o_totalprice"))).over(w)
    min_other = F.when(F.col("o_totalprice") == mn, second).otherwise(mn)
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            mx.alias("cust_max"),
            (n > 1).alias("has_sibling"),
            min_other.alias("min_other"),
        )
        .filter(F.col("o_totalprice") >= F.col("cust_max"))
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            (
                F.col("has_sibling")
                & (F.col("o_totalprice") > F.col("min_other"))
            ).alias("beats_some_sibling"),
        )
    )


# ---------------------------------------------------------------------------
# sql_distinct_on — DISTINCT ON (latest row per key) surface parity
# ---------------------------------------------------------------------------

@register(
    "sql_distinct_on",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
    """,
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT DISTINCT ON (key) ... ORDER BY key, ord` parity — the
    Postgres/DuckDB idiom for "latest row per key".  Spark has no
    DISTINCT ON; the canonical rewrite is a row_number window filtered
    to 1, which Catalyst executes as one hash-shuffle on the key + a
    partition-local sort — exactly the physical plan DuckDB produces
    for DISTINCT ON.  The ORDER BY is tie-safe (o_orderkey desc breaks
    same-day ties) so both engines pick the identical row.

    Scale: one exchange on o_custkey; the window retains only rank 1 per
    key, and AQE coalesces the post-filter partitions.  Never collect-
    and-dedup on the driver."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# agg_corr_matrix — pairwise Pearson correlations from one moment pass
# ---------------------------------------------------------------------------

_QX = "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)"
_QY = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
_QZ = "CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)"


def _sql_corr(sa: str, sb: str, sab: str, saa: str, sbb: str) -> str:
    num = f"(CAST(n AS DECIMAL(38,0)) * {sab} - CAST({sa} AS DECIMAL(38,0)) * {sb})"
    da = f"(CAST(n AS DECIMAL(38,0)) * {saa} - CAST({sa} AS DECIMAL(38,0)) * {sa})"
    db = f"(CAST(n AS DECIMAL(38,0)) * {sbb} - CAST({sb} AS DECIMAL(38,0)) * {sb})"
    return (
        f"round(CAST({num} AS DOUBLE) / "
        f"sqrt(CAST({da} AS DOUBLE) * CAST({db} AS DOUBLE)), 4)"
    )


@register(
    "agg_corr_matrix",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, count(*) AS n,
             sum(CAST({_QX} AS DECIMAL(38,0))) AS sx,
             sum(CAST({_QY} AS DECIMAL(38,0))) AS sy,
             sum(CAST({_QZ} AS DECIMAL(38,0))) AS sz,
             sum(CAST({_QX} * {_QX} AS DECIMAL(38,0))) AS sxx,
             sum(CAST({_QY} * {_QY} AS DECIMAL(38,0))) AS syy,
             sum(CAST({_QZ} * {_QZ} AS DECIMAL(38,0))) AS szz,
             sum(CAST({_QX} * {_QY} AS DECIMAL(38,0))) AS sxy,
             sum(CAST({_QX} * {_QZ} AS DECIMAL(38,0))) AS sxz,
             sum(CAST({_QY} * {_QZ} AS DECIMAL(38,0))) AS syz
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           {_sql_corr('sx', 'sy', 'sxy', 'sxx', 'syy')} AS corr_qty_price,
           {_sql_corr('sx', 'sz', 'sxz', 'sxx', 'szz')} AS corr_qty_disc,
           {_sql_corr('sy', 'sz', 'syz', 'syy', 'szz')} AS corr_price_disc
    FROM s
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (quantity/price/discount per
    return flag) from ONE pass of ten summable moments — the profiling
    primitive behind feature-correlation screens.  Inputs quantize to
    exact fixed-point bigints (scale factors cancel in r); the moment
    sums accumulate in DECIMAL(38,0) (same overflow reasoning as
    agg_regression: Σy² crosses int64 just above sf0.1 under ANSI mode).
    Each correlation closes as num/sqrt(da·db) with the products taken
    in double AFTER the exact decimal differences — 3 IEEE ops, written
    identically in both engines, unlike the engines' float-accumulated
    corr() built-ins which are partition-order dependent.

    Scale: a single groupBy with ten decimal sums — all map-side
    combinable, one exchange on the 3-value flag key.  The full k×k
    matrix for k measures is k(k+3)/2 sums in the same single pass;
    headroom: DECIMAL(38,0) holds n·Σy² up to ~1e12 rows/group at these
    quantization scales."""
    li = table(spark, sf_dir, "lineitem")
    # operands widen to DECIMAL BEFORE the multiply: LONG products wrap
    # silently above |quantized| ~3.03e9 (r10 judge sweep)
    x = F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").cast(D0)
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").cast(D0)
    z = F.floor(F.col("l_discount") * 10000 + 0.5).cast("long").cast(D0)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(z * z).alias("szz"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"),
    )

    def corr(sa: str, sb: str, sab: str, saa: str, sbb: str):
        nd = F.col("n").cast(D0)
        num = nd * F.col(sab) - F.col(sa).cast(D0) * F.col(sb)
        da = nd * F.col(saa) - F.col(sa).cast(D0) * F.col(sa)
        db = nd * F.col(sbb) - F.col(sb).cast(D0) * F.col(sb)
        return r4(
            num.cast("double") / F.sqrt(da.cast("double") * db.cast("double"))
        )

    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        corr("sx", "sy", "sxy", "sxx", "syy").alias("corr_qty_price"),
        corr("sx", "sz", "sxz", "sxx", "szz").alias("corr_qty_disc"),
        corr("sy", "sz", "syz", "syy", "szz").alias("corr_price_disc"),
    )


# ---------------------------------------------------------------------------
# agg_weighted_median — RANGE-frame cumulative weights (tie-safe by design)
# ---------------------------------------------------------------------------

@register(
    "agg_weighted_median",
    oracle="""
    WITH t AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
      FROM lineitem
    ), c AS (
      SELECT l_returnflag, price, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             sum(w) OVER (PARTITION BY l_returnflag) AS totw
      FROM t
    )
    SELECT l_returnflag,
           min(CASE WHEN 2 * cumw >= totw THEN price END) AS w_median_price,
           CAST(max(totw) AS BIGINT) AS total_weight
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (price weighted by quantity, per return flag) —
    the lower weighted median: smallest price whose cumulative weight
    reaches half the total.  The cumulative sum uses a RANGE frame
    ordered by price alone, so all equal-price rows are frame peers and
    cumw is a pure function of the price VALUE — order-independent by
    construction, no tiebreak key needed (a ROWS frame here would make
    cumw depend on the engine's tie order and break cross-engine
    equality).  Weights are exact bigints (TPC-H quantities are
    integral), so the 2·cumw ≥ totw crossing is integer arithmetic.

    Scale: l_returnflag has THREE values, so the window partitioning
    funnels the whole fact table through three tasks — the 16x probe
    measured this shape super-linear (17.95x at 16x data; SCALE.md §25).
    Dual kernel on the lineitem footer row count: above the gate,
    `_global_order.grouped_range_prefix_sum` — pre-aggregate to distinct
    (flag, price) (peers-included RANGE semantics BY CONSTRUCTION, one
    map-side-combinable shuffle), bucketize prices, local cumsum per
    (flag, bucket), tiny broadcast offsets — no low-cardinality funnel
    anywhere; the crossing-point min then rides the bucketed frame."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("w"),
    )
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "lineitem"):
        cum = grouped_range_prefix_sum(
            li, ["l_returnflag"], "price", "w", out="_cum"
        )
        tot = cum.groupBy("l_returnflag").agg(F.sum("_v").alias("totw"))
        return (
            cum.join(F.broadcast(tot), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(
                F.min(
                    F.when(2 * F.col("_cum") >= F.col("totw"), F.col("price"))
                ).alias("w_median_price"),
                F.max("totw").cast("long").alias("total_weight"),
            )
        )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wall).alias("totw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price"))).alias(
            "w_median_price"
        ),
        F.max("totw").cast("long").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# ts_bollinger — moving mean ± 2σ volatility bands on the daily series
# ---------------------------------------------------------------------------

BOLL_DAYS = 7  # trailing frame width in rows (days are distinct per type)
BOLL_K = 2     # band half-width in standard deviations


@register(
    "ts_bollinger",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS v
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, day, v,
             count(*) OVER fr AS n,
             sum(CAST(v AS DECIMAL(38,0))) OVER fr AS s,
             sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))) OVER fr
               AS sq
      FROM daily
      WINDOW fr AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {BOLL_DAYS - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day,
           round((CAST(s AS DOUBLE) / n) / 10000, 4) AS ma,
           round(((CAST(s AS DOUBLE) / n) - {BOLL_K} *
                  (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sq
                             - s * s AS DOUBLE)) / n)) / 10000, 4) AS lower,
           round(((CAST(s AS DOUBLE) / n) + {BOLL_K} *
                  (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sq
                             - s * s AS DOUBLE)) / n)) / 10000, 4) AS upper
    FROM w
    """,
)
def ts_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the daily value series per event type:
    {BOLL_DAYS}-day trailing moving average ± {BOLL_K} population
    standard deviations — the volatility-envelope screen.  Daily sums
    are 1e4-fixed-point bigints; the windowed moment sums accumulate in
    DECIMAL(38,0) so n·Σv² − (Σv)² is EXACT (≥ 0 by Cauchy-Schwarz, so
    sqrt never sees a negative rounding residue — a float accumulation
    cannot guarantee that).  The closing expression is the identical
    IEEE tree both sides: s→double, /n, sqrt(exact diff→double)/n,
    ±k·σ, /1e4, round 4.

    Scale: the pre-aggregation collapses events to one row per (type,
    day) — ~10^3 rows per type-year — so the ROWS window runs over the
    aggregate, not the raw stream; one exchange on event_type for both
    the groupBy and the window (same key, ReusedExchange).  Days are
    distinct within a partition, making the ROWS frame deterministic."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("v"))
    fr = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(BOLL_DAYS - 1), Window.currentRow)
    )
    vd = F.col("v").cast(D0)
    w = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum(vd).over(fr).alias("s"),
        F.sum(vd * vd).over(fr).alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = (
        F.sqrt(
            (F.col("n").cast(D0) * F.col("sq") - F.col("s") * F.col("s")).cast(
                "double"
            )
        )
        / F.col("n")
    )
    return w.select(
        "event_type",
        "day",
        r4(mean / 10000).alias("ma"),
        r4((mean - BOLL_K * sd) / 10000).alias("lower"),
        r4((mean + BOLL_K * sd) / 10000).alias("upper"),
    )


# ---------------------------------------------------------------------------
# new_vs_returning — monthly customer-base decomposition
# ---------------------------------------------------------------------------

@register(
    "new_vs_returning",
    oracle=f"""
    WITH f AS (
      SELECT o_custkey, o_orderdate, o_totalprice,
             date_trunc('month', o_orderdate) AS month,
             date_trunc('month', min(o_orderdate)
                        OVER (PARTITION BY o_custkey)) AS first_month
      FROM orders
    )
    SELECT CAST(month AS TIMESTAMP) AS month,
           CAST(count(DISTINCT CASE WHEN month = first_month
                                    THEN o_custkey END) AS BIGINT) AS n_new,
           CAST(count(DISTINCT CASE WHEN month <> first_month
                                    THEN o_custkey END) AS BIGINT)
             AS n_returning,
           round({sql_dsum("CASE WHEN month = first_month THEN o_totalprice ELSE 0 END")}, 4)
             AS rev_new,
           round({sql_dsum("CASE WHEN month <> first_month THEN o_totalprice ELSE 0 END")}, 4)
             AS rev_returning
    FROM f GROUP BY month
    """,
)
def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly new-vs-returning decomposition: a customer is "new" in the
    month of their first-ever order, "returning" in any later month —
    the growth-accounting split every subscription/commerce warehouse
    reports.  First-order month comes from a window min over the
    customer partition (no join, no second scan); the monthly rollup
    then counts distinct customers and splits revenue by the flag in a
    single grouped pass with deterministic decimal sums.

    Scale: shuffle 1 on o_custkey (window min), shuffle 2 on month
    (rollup) — both unavoidable key changes.  count(DISTINCT) expands to
    the standard two-level partial aggregate; at extreme cardinality the
    approx_count_distinct swap is one line.  Output is |months| rows."""
    o = table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate")
    first_month = F.date_trunc(
        "month", F.min("o_orderdate").over(Window.partitionBy("o_custkey"))
    )
    f = o.select(
        "o_custkey",
        "o_totalprice",
        month.alias("month"),
        first_month.alias("first_month"),
    )
    is_new = F.col("month") == F.col("first_month")
    dec = "decimal(38,6)"
    return f.groupBy("month").agg(
        F.count_distinct(F.when(is_new, F.col("o_custkey"))).alias("n_new"),
        F.count_distinct(F.when(~is_new, F.col("o_custkey"))).alias(
            "n_returning"
        ),
        r4(
            F.sum(
                F.when(is_new, F.col("o_totalprice")).otherwise(0.0).cast(dec)
            ).cast("double")
        ).alias("rev_new"),
        r4(
            F.sum(
                F.when(~is_new, F.col("o_totalprice")).otherwise(0.0).cast(dec)
            ).cast("double")
        ).alias("rev_returning"),
    )


# ---------------------------------------------------------------------------
# revenue_bridge — monthly gross -> discount -> net -> tax waterfall
# ---------------------------------------------------------------------------

@register(
    "revenue_bridge",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', l_shipdate) AS month,
             sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS gross,
             sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
               AS discount_amt,
             sum(CAST(l_extendedprice * (1 - l_discount) * l_tax
                      AS DECIMAL(38,6))) AS tax_amt
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(month AS TIMESTAMP) AS month,
           CAST(round(gross, 4) AS DOUBLE) AS gross,
           CAST(round(discount_amt, 4) AS DOUBLE) AS discount_amt,
           CAST(round(gross - discount_amt, 4) AS DOUBLE) AS net,
           CAST(round(tax_amt, 4) AS DOUBLE) AS tax_amt,
           CAST(round((gross - discount_amt) + tax_amt, 4) AS DOUBLE)
             AS billed
    FROM m
    """,
)
def revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue bridge: gross extended price, the discount given
    away, net after discount, tax on the net, and the billed total —
    the waterfall decomposition (TPC-H Q1's charge expression exploded
    into its audit components so each step of gross→billed is a visible
    column).  Every component is an order-independent decimal sum of an
    identical per-row IEEE product, and the bridge arithmetic (net,
    billed) stays in EXACT decimal through the final round: the sum of
    4-dp-scale figures can land precisely on a .00005 half boundary,
    where Spark (BigDecimal of the shortest decimal rep, HALF_UP) and
    DuckDB (true binary value) round a DOUBLE differently, while decimal
    half-up rounding is identical in both engines (hit at sf0.01:
    billed 39731122.02575).  So the bridge ties out bit-for-bit AND
    arithmetically: net = gross − discount_amt and billed = net +
    tax_amt hold as published, which is the point of a bridge report.

    Scale: one scan, one exchange on ship-month (~84 values) with full
    map-side partial aggregation; all four sums share the pass."""
    li = table(spark, sf_dir, "lineitem")
    dec = "decimal(38,6)"
    ep = F.col("l_extendedprice")
    m = li.groupBy(F.date_trunc("month", "l_shipdate").alias("month")).agg(
        F.sum(ep.cast(dec)).alias("gross"),
        F.sum((ep * F.col("l_discount")).cast(dec)).alias("discount_amt"),
        F.sum(
            (ep * (F.lit(1) - F.col("l_discount")) * F.col("l_tax")).cast(dec)
        ).alias("tax_amt"),
    )

    def dround(col):
        return F.round(col, 4).cast("double")

    return m.select(
        "month",
        dround(F.col("gross")).alias("gross"),
        dround(F.col("discount_amt")).alias("discount_amt"),
        dround(F.col("gross") - F.col("discount_amt")).alias("net"),
        dround(F.col("tax_amt")).alias("tax_amt"),
        dround(
            (F.col("gross") - F.col("discount_amt")) + F.col("tax_amt")
        ).alias("billed"),
    )


# ---------------------------------------------------------------------------
# customer_churn — recency classification against the corpus anchor date
# ---------------------------------------------------------------------------

CHURN_DAYS = 90


@register(
    "customer_churn",
    oracle=f"""
    WITH anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
    last AS (
      SELECT o_custkey, max(o_orderdate) AS last_order FROM orders GROUP BY 1
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (
             WHERE datediff('day', CAST(last_order AS DATE),
                            CAST((SELECT anchor FROM anchor) AS DATE))
                   > {CHURN_DAYS}) AS BIGINT) AS n_churned,
           round(CAST(count(*) FILTER (
             WHERE datediff('day', CAST(last_order AS DATE),
                            CAST((SELECT anchor FROM anchor) AS DATE))
                   > {CHURN_DAYS}) AS DOUBLE) / count(*), 4) AS churn_rate
    FROM last
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def customer_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-based churn per nation: a customer has churned when their
    last order is more than {CHURN_DAYS} days before the corpus anchor
    (the newest order date — the standard convention for a static
    snapshot, so the metric is reproducible rather than wall-clock
    dependent).  The anchor is a 1-row aggregate broadcast into the
    per-customer recency stream; day arithmetic is integer datediff, so
    the classification has no float boundary.

    Scale: last-order is one exchange on o_custkey; the anchor is a
    scalar (BroadcastExchange, no second scan shuffle); customer joins
    on the same custkey partitioning and the 25-nation dim broadcasts.
    Churn output is 25 rows."""
    o = table(spark, sf_dir, "orders")
    last = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_order"))
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    churned = (
        F.datediff(F.col("anchor").cast("date"), F.col("last_order").cast("date"))
        > CHURN_DAYS
    )
    return (
        last.crossJoin(F.broadcast(anchor))
        .join(cust, last.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(churned, 1).otherwise(0))
            .cast("long")
            .alias("n_churned"),
            r4(
                F.sum(F.when(churned, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("churn_rate"),
        )
    )


# ---------------------------------------------------------------------------
# audit_dup_payments — same-bucket amount + date-band self-join audit
# ---------------------------------------------------------------------------

DUP_BUCKET = 10_000  # totalprice bucket width (same-bucket = "similar amount")
DUP_DAYS = 90        # date proximity band


@register(
    "audit_dup_payments",
    oracle=f"""
    SELECT a.o_custkey,
           a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
           CAST(floor(a.o_totalprice / {DUP_BUCKET}) AS BIGINT)
             AS amount_bucket,
           CAST(abs(datediff('day', CAST(a.o_orderdate AS DATE),
                             CAST(b.o_orderdate AS DATE))) AS BIGINT)
             AS day_gap
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND floor(a.o_totalprice / {DUP_BUCKET})
         = floor(b.o_totalprice / {DUP_BUCKET})
     AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', CAST(a.o_orderdate AS DATE),
                      CAST(b.o_orderdate AS DATE))) <= {DUP_DAYS}
    """,
)
def audit_dup_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: pairs of orders by the SAME customer in
    the SAME {DUP_BUCKET}-wide amount bucket within {DUP_DAYS} days —
    the classic AP-audit screen for double-billed invoices.  Bucket
    equality (not |Δprice|<ε) is the spec: it makes the blocking key an
    exact equi-join column, which is what lets the audit scale.  The
    residual date-band predicate and the orderkey ordering (canonical
    pair, no self-matches, no mirrored duplicates) evaluate as integer
    post-join filters.

    Scale: the self-join blocks on (custkey, amount_bucket) — a proper
    equi-key Catalyst hash-partitions BOTH sides on, so candidate pairs
    form only inside customer×bucket cells (per-customer order counts
    are tens, never the 10^8 global row count).  An all-pairs date-only
    formulation would be quadratic; this one is linear in matches."""
    o = table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey_a"),
        F.floor(F.col("o_totalprice") / DUP_BUCKET).alias("bucket"),
        F.col("o_orderdate").cast("date").alias("date_a"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey_b"),
        F.floor(F.col("o_totalprice") / DUP_BUCKET).alias("bucket"),
        F.col("o_orderdate").cast("date").alias("date_b"),
    )
    gap = F.abs(F.datediff(F.col("date_a"), F.col("date_b")))
    return (
        a.join(b, ["custkey", "bucket"])
        .filter(
            (F.col("orderkey_a") < F.col("orderkey_b")) & (gap <= DUP_DAYS)
        )
        .select(
            F.col("custkey").alias("o_custkey"),
            "orderkey_a",
            "orderkey_b",
            F.col("bucket").cast("long").alias("amount_bucket"),
            gap.cast("long").alias("day_gap"),
        )
    )


# ---------------------------------------------------------------------------
# purchase_gaps — inter-order gap statistics per customer
# ---------------------------------------------------------------------------

@register(
    "purchase_gaps",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             datediff('day',
                      CAST(lag(o_orderdate) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS DATE),
                      CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           round(CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / count(gap), 4)
             AS avg_gap_days,
           CAST(max(gap) AS BIGINT) AS max_gap_days,
           round(quantile_cont(gap, 0.5), 4) AS median_gap_days
    FROM g GROUP BY o_custkey
    HAVING count(gap) >= 1
    """,
)
def purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap profile per customer: count, mean, max, and
    interpolated median of the day gaps between consecutive orders —
    the recency-cadence feature behind replenishment and churn models.
    Consecutive = sorted by (date, orderkey); because the date sequence
    is SORTED, the multiset of gaps is invariant to how same-day ties
    order internally (equal dates contribute 0 either way), so the lag
    is deterministic cross-engine.  Gaps are integer days; the mean is
    one exact bigint division and the median interpolates two ints
    ((a+b)/2 — exact in binary), so no quantization is needed.

    Scale: one exchange on o_custkey shared by the lag window and the
    grouped statistics (same key → ReusedExchange).  Output is one row
    per repeat customer."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate")).over(w).cast("date"),
        ).alias("gap"),
    )
    return (
        g.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("gap").alias("n_gaps"),
            r4(F.sum("gap").cast("long").cast("double") / F.count("gap")).alias(
                "avg_gap_days"
            ),
            F.max("gap").cast("long").alias("max_gap_days"),
            r4(F.median("gap")).alias("median_gap_days"),
        )
        .filter(F.col("n_gaps") >= 1)
    )


# ---------------------------------------------------------------------------
# part_xyz_cv — XYZ demand-variability classes on exact integer bounds
# ---------------------------------------------------------------------------

@register(
    "part_xyz_cv",
    oracle="""
    WITH monthly AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS month,
             sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
    ), s AS (
      SELECT l_partkey, count(*) AS n,
             sum(CAST(qty AS DECIMAL(38,0))) AS sx,
             sum(CAST(qty AS DECIMAL(38,0)) * CAST(qty AS DECIMAL(38,0)))
               AS sxx
      FROM monthly GROUP BY 1
    ), cls AS (
      SELECT l_partkey,
             CASE WHEN 4 * (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)
                       < sx * sx THEN 'X'
                  WHEN (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)
                       < sx * sx THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM s
    )
    SELECT p_brand, xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM cls JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, xyz_class
    """,
)
def part_xyz_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the companion axis to
    part_abc_pareto's ABC value axis): per part, the coefficient of
    variation of monthly shipped quantity buckets demand as X (steady,
    cv < 0.5), Y (variable, cv < 1.0) or Z (erratic) — the standard
    inventory-planning segmentation.  The class boundaries evaluate as
    EXACT integer inequalities: cv² = (n·Σq² − (Σq)²)/(Σq)², so cv < t
    ⟺ (n·Σq² − (Σq)²) < t²·(Σq)², and with t ∈ {0.5, 1} both sides are
    decimal integers — no float ever touches a classification boundary,
    which is what makes the class counts hash-stable cross-engine.

    Scale: monthly pre-aggregation (partkey×month exchange) collapses
    the fact stream, the per-part moment pass rides a partkey exchange,
    and the part dim broadcasts for the brand rollup.  Single-month
    parts get cv = 0 → X, the conventional treatment."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("month")
    ).agg(F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("qty"))
    qd = F.col("qty").cast(D0)
    s = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).alias("sx"),
        F.sum(qd * qd).alias("sxx"),
    )
    num = F.col("n").cast(D0) * F.col("sxx") - F.col("sx") * F.col("sx")
    sx2 = F.col("sx") * F.col("sx")
    cls = s.select(
        "l_partkey",
        F.when(4 * num < sx2, F.lit("X"))
        .when(num < sx2, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        cls.join(F.broadcast(p), cls.l_partkey == p.p_partkey)
        .groupBy("p_brand", "xyz_class")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
