"""Round-7 additions, batch 15 — Theil inequality, dominant-period
detection, time-decay attribution, source quota capping, linear
gap interpolation.

Reference semantics: SURVEY §2 extension policy (mount empty).
Determinism notes per op; the time-decay weights are powers of two, so
even their FLOAT sums are exact (dyadic rationals within 53 bits) — but
the credits divide first, so they quantize to DECIMAL(38,12) like every
other order-sensitive float sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import grouped_bucketed_topk
from ._helpers import pin, r4

DEC12 = "decimal(38,12)"


# ---------------------------------------------------------------------------
# agg_theil — Theil T inequality index of customer revenue per nation
# ---------------------------------------------------------------------------

def theil(
    df: DataFrame,
    val_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Theil T inequality index of ANY positive integer-valued column
    per group (agg_theil's algebra with columns parameterized) — the
    decomposable cousin of gini (Theil sums across subgroups; Gini does
    not): T = sum(x*ln(x))/X + ln(n/X) with X = sum(x).  Pass x in
    exact integer units; the x*ln(x) terms quantize to DECIMAL(38,12)
    before the exact (shuffle-order-free) sum and the closing
    expression is one shared IEEE tree (round 4).  T = 0 is perfect
    equality; ln(n) the maximum.  Returns (by..., n, theil).

    Scale shape: one fully map-side-combinable aggregate — no window,
    no second pass."""
    by = by or []
    dec12 = "decimal(38,12)"
    n = F.count(F.lit(1))
    big_x = F.sum(val_col)
    s = F.sum(
        (F.col(val_col) * F.log(F.col(val_col).cast("double"))).cast(dec12)
    ).cast("double")
    return df.groupBy(*by).agg(
        n.cast("long").alias("n"),
        r4(s / big_x + F.log(n.cast("double") / big_x)).alias("theil"),
    )


@register(
    "agg_theil",
    oracle="""
    WITH cr AS (
      SELECT c.c_nationkey AS nation, o.o_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(CAST(x * ln(CAST(x AS DOUBLE))
                               AS DECIMAL(38,12))) AS DOUBLE)
                   / sum(x)
                 + ln(CAST(count(*) AS DOUBLE) / sum(x)), 4) AS theil
    FROM cr GROUP BY nation
    """,
)
def agg_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue within each nation
    — the `theil` kernel on one combinable per-customer cent aggregate.
    Customers with no orders are outside the population by construction
    (inner join)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("v"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nation")
    )
    cr = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("nation", "o_custkey")
        .agg(F.sum("v").cast("long").alias("x"))
    )
    return theil(cr, "x", by=["nation"]).withColumnRenamed("n", "n_customers")


# ---------------------------------------------------------------------------
# ts_dominant_period — ACF-argmax seasonality detection per event type
# ---------------------------------------------------------------------------

MAX_LAG = 10


@register(
    "ts_dominant_period",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '2024-01-01',
                      date_trunc('day', ts)) AS di,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type, a.di - b.di AS lag,
             a.c AS x, b.c AS y
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type
       AND a.di - b.di BETWEEN 1 AND {MAX_LAG}
    ), m AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1, 2
    ), acf AS (
      SELECT event_type, lag, n,
             round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / sqrt((CAST(n AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy
                             - CAST(sy AS DOUBLE) * sy)), 4) AS r
      FROM m
    )
    SELECT event_type, CAST(lag AS BIGINT) AS best_lag,
           CAST(n AS BIGINT) AS n_pairs, r AS acf
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY r DESC, lag) AS rn
          FROM acf)
    WHERE rn = 1
    """,
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant seasonality period per event type: the lag in 1..{MAX_LAG}
    days whose autocorrelation of the daily-count series is highest
    (ts_autocorr generalized from lag-1 to an ACF argmax — a best_lag of
    7 is the weekly cycle).  The lag self-join runs on the
    calendar-bounded daily aggregate (|days| x {MAX_LAG} pair rows per
    type, model-sized); correlations come from five exact integer
    moments; the argmax is tie-safed toward the SHORTEST lag on the
    ALREADY-ROUNDED r (identical doubles both engines, so the rounding
    cannot straddle engines)."""
    daily = table(spark, sf_dir, "events").groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("di"),
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.select(
        "event_type", F.col("di").alias("dia"), F.col("c").alias("x")
    )
    b = daily.select(
        "event_type", F.col("di").alias("dib"), F.col("c").alias("y")
    )
    pairs = a.join(b, "event_type").filter(
        (F.col("dia") - F.col("dib")).between(1, MAX_LAG)
    ).select(
        "event_type", (F.col("dia") - F.col("dib")).alias("lag"), "x", "y"
    )
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = r4(
        (n.cast("double") * F.col("sxy") - sx.cast("double") * sy)
        / F.sqrt(
            (n.cast("double") * F.col("sxx") - sx.cast("double") * sx)
            * (n.cast("double") * F.col("syy") - sy.cast("double") * sy)
        )
    )
    acf = m.select("event_type", "lag", "n", r.alias("r"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("r").desc(), F.col("lag")
    )
    return (
        acf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("lag").cast("long").alias("best_lag"),
            F.col("n").cast("long").alias("n_pairs"),
            F.col("r").alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# attribution_time_decay — exponentially-decayed multi-touch credit
# ---------------------------------------------------------------------------

ATTR_WINDOW_DAYS = 7


@register(
    "attribution_time_decay",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pus, value
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, event_type, event_id AS tid, epoch_us(ts) AS tus
      FROM events WHERE event_type IN ('view', 'click')
    ), touch AS (
      SELECT p.pid, p.value, t.event_type,
             CAST(power(2, {ATTR_WINDOW_DAYS}
                           - CAST(floor((p.pus - t.tus) / 86400000000)
                                  AS BIGINT)) AS BIGINT) AS w
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.tus < p.pus
       AND p.pus - t.tus < {ATTR_WINDOW_DAYS} * 86400000000
    ), wsum AS (
      SELECT pid, CAST(sum(w) AS BIGINT) AS wp
      FROM touch GROUP BY pid
    ), credit AS (
      SELECT touch.event_type,
             touch.value * touch.w / wsum.wp AS cr
      FROM touch JOIN wsum ON touch.pid = wsum.pid
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(CAST(cr AS DECIMAL(38,12))) AS DOUBLE), 4)
             AS credited_value
    FROM credit GROUP BY event_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: each purchase's value splits
    over the user's view/click touches in the prior {ATTR_WINDOW_DAYS}
    days with weight 2^(-age_days) — the ad-tech standard between
    last-touch (attribution_last_touch) and linear credit.  Weights are
    the INTEGER 2^(window - age) (exact, no float pow drift); each
    credit value·w/W divides in a shared IEEE tree and quantizes to
    DECIMAL(38,12) before the per-channel exact sum.  The touch join is
    user-co-partitioned with a bounded time predicate (per-user
    volumes); the weight normalizer is a combinable per-purchase
    aggregate joined back on the purchase id."""
    ev = table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("us").alias("pus"),
        "value",
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_type",
        F.col("us").alias("tus"),
    )
    day_us = 86400000000
    age = F.floor((F.col("pus") - F.col("tus")) / day_us).cast("long")
    touch = (
        p.join(t, "user_id")
        .filter(
            (F.col("tus") < F.col("pus"))
            & (F.col("pus") - F.col("tus") < ATTR_WINDOW_DAYS * day_us)
        )
        .select(
            "pid",
            "value",
            "event_type",
            F.pow(F.lit(2), ATTR_WINDOW_DAYS - age).cast("long").alias("w"),
        )
    )
    # pinned: touch feeds the normalizer + the credit join (plan-audit,
    # SCALE.md §50; un-pinned the purchase-touch join ran twice).
    touch = pin(touch)
    wsum = touch.groupBy("pid").agg(F.sum("w").cast("long").alias("wp"))
    credit = touch.join(wsum, "pid").select(
        "event_type",
        (F.col("value") * F.col("w") / F.col("wp")).alias("cr"),
    )
    return credit.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        r4(F.sum(F.col("cr").cast(DEC12)).cast("double")).alias(
            "credited_value"
        ),
    )


# ---------------------------------------------------------------------------
# mix_source_cap — deterministic per-source quota sampling
# ---------------------------------------------------------------------------

SOURCE_CAP = 20
CAP_SALT = "cap:"


@register(
    "mix_source_cap",
    oracle=f"""
    SELECT source, doc_id, CAST(rk AS INT) AS rk
    FROM (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('{CAP_SALT}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk
      FROM documents
    )
    WHERE rk <= {SOURCE_CAP}
    """,
)
def mix_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep at most {SOURCE_CAP} documents per
    source in deterministic md5 order — the mixing step that stops one
    crawl from dominating a training corpus, reproducible across runs
    and engines (no rand()).  Dispatches to `grouped_bucketed_topk`:
    sources are exactly the low-cardinality funnel the kernel exists
    for, so the corpus never squeezes through |sources| tasks; the
    final rank window sees ~cap + one bucket width per source.  The
    kernel's bucketizer needs a NUMERIC key, so the split key is the
    first 60 md5 bits as a long — lexicographic order of fixed-width
    lowercase hex equals numeric order, and the full digest plus doc_id
    ride as tie columns, so the total order is exactly the oracle's
    (md5, doc_id)."""
    d = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5(
            F.concat(F.lit(CAP_SALT), F.col("doc_id").cast("string"))
        ).alias("h"),
    ).withColumn(
        "hn",
        F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast("long"),
    )
    # pinned: the hashed key frame feeds the top-k kernel's three
    # internal consumers (plan-audit, SCALE.md §50).
    d = pin(d)
    top = grouped_bucketed_topk(
        d, ["source"], "hn", ["h", "doc_id"], SOURCE_CAP, out="rk"
    )
    return top.select("source", "doc_id", F.col("rk").cast("int").alias("rk"))


# ---------------------------------------------------------------------------
# gapfill_interpolate — linear interpolation over calendar gaps
# ---------------------------------------------------------------------------

@register(
    "gapfill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             datediff('day', TIMESTAMP '2024-01-01',
                      date_trunc('day', ts)) AS di,
             round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*), 4) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), bounds AS (
      SELECT min(di) AS lo, max(di) AS hi FROM daily
    ), spine AS (
      SELECT d.event_type, s.di
      FROM (SELECT DISTINCT event_type FROM daily) d,
           (SELECT unnest(range(bounds.lo, bounds.hi + 1)) AS di
            FROM bounds) s
    ), joined AS (
      SELECT spine.event_type, spine.di, daily.v
      FROM spine LEFT JOIN daily
        ON spine.event_type = daily.event_type AND spine.di = daily.di
    ), ctx AS (
      SELECT event_type, di, v,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS)
               OVER wp AS pd,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN di END IGNORE NULLS)
               OVER wn AS nd
      FROM joined
      WINDOW wp AS (PARTITION BY event_type ORDER BY di
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY event_type ORDER BY di
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, CAST(di AS BIGINT) AS di,
           v IS NOT NULL AS observed,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (di - pd) / (nd - pd)
             ELSE coalesce(pv, nv) END, 4) AS filled
    FROM ctx
    """,
)
def gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with LINEAR interpolation — rollup_gapfill's
    LOCF upgraded to the two-sided estimate a monitoring dashboard
    draws: missing days take pv + (nv-pv)·(d-pd)/(nd-pd) between the
    nearest observed neighbors (edges fall back to the known side).
    The daily means are exact-decimal aggregates ROUNDED FIRST, so the
    interpolation tree consumes identical doubles in both engines; the
    spine is the min..max day range crossed with the type list
    (calendar-bounded, allowlisted windows); interpolation positions
    are exact integer day arithmetic."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("di"),
    ).agg(
        r4(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("v")
    )
    # pinned: daily feeds bounds + the type spine + the fill join
    # (plan-audit, SCALE.md §50).
    daily = pin(daily)
    bounds = daily.agg(F.min("di").alias("lo"), F.max("di").alias("hi"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("di"),
        )
    )
    joined = spine.join(daily, ["event_type", "di"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_di = F.when(F.col("v").isNotNull(), F.col("di"))
    ctx = (
        joined.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pd", F.last(known_di, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nd", F.first(known_di, ignorenulls=True).over(wn))
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("di") - F.col("pd")
    ) / (F.col("nd") - F.col("pd"))
    return ctx.select(
        "event_type",
        F.col("di").cast("long").alias("di"),
        F.col("v").isNotNull().alias("observed"),
        r4(
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(
                F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
            )
            .otherwise(F.coalesce(F.col("pv"), F.col("nv")))
        ).alias("filled"),
    )


# ---------------------------------------------------------------------------
# source_length_ks — per-source KS drift of doc-length distributions
# ---------------------------------------------------------------------------

@register(
    "source_length_ks",
    oracle="""
    WITH d AS (
      SELECT source, n_chars AS v FROM documents
    ), sc AS (
      SELECT source, v, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY 1, 2
    ), tot AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY v
    ), ns AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sc GROUP BY source
    ), nn AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_all FROM sc
    ), spine AS (
      SELECT ns.source, ns.n_s, tot.v, tot.ct FROM ns CROSS JOIN tot
    ), w AS (
      SELECT spine.source, spine.v,
             coalesce(sc.c, 0) * (nn.n_all - spine.n_s)
               - (spine.ct - coalesce(sc.c, 0)) * spine.n_s AS wt,
             spine.n_s, nn.n_all
      FROM spine
      LEFT JOIN sc ON sc.source = spine.source AND sc.v = spine.v
      CROSS JOIN nn
    ), cum AS (
      SELECT source, n_s, n_all,
             CAST(sum(wt) OVER (PARTITION BY source ORDER BY v)
                  AS BIGINT) AS cw
      FROM w
    )
    SELECT source, max(n_s) AS n_docs,
           round(CAST(max(abs(cw)) AS DOUBLE)
                 / (CAST(max(n_s) AS DOUBLE)
                    * (max(n_all) - max(n_s))), 4) AS d
    FROM cum GROUP BY source
    """,
)
def source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: the two-sample Kolmogorov-Smirnov
    D between each source's doc-length distribution and the REST of the
    corpus — the data-drift monitor a curation pipeline runs per
    ingestion feed (a source whose lengths diverge hard is a scraper
    change).  stat_ks_2samp's integer-ECDF trick generalized to every
    group at once: for source s at value v the signed weight is
    c_s·(N−n_s) − (c_rest)·n_s, the per-source cumsum runs through the
    GROUPED bucketed prefix-sum kernel (sources are low-cardinality —
    exactly the funnel case), and D = max|cum| / (n_s·(N−n_s)) stays an
    exact rational until the final round.  The per-source step function
    must be evaluated on the FULL corpus value spine (a source misses
    ECDF steps at values only other sources have), so the weight frame
    is sources x distinct-values — bounded by the length-value domain,
    not the corpus — with zero-filled source counts."""
    from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum

    d = table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("v")
    )
    sc = d.groupBy("source", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = sc.groupBy("v").agg(F.sum("c").cast("long").alias("ct"))
    ns = sc.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    nn = sc.agg(F.sum("c").cast("long").alias("n_all"))
    spine = ns.crossJoin(tot)
    w = (
        spine.join(sc, ["source", "v"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "wt",
            F.col("c") * (F.col("n_all") - F.col("n_s"))
            - (F.col("ct") - F.col("c")) * F.col("n_s"),
        )
    )
    cum = grouped_range_prefix_sum(
        w,
        ["source"],
        "v",
        "wt",
        out="_cum",
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "documents"),
    )
    m = cum.groupBy("source").agg(
        F.max(F.abs(F.col("_cum").cast("long"))).alias("dmax")
    )
    out = m.join(F.broadcast(ns), "source").crossJoin(F.broadcast(nn))
    return out.select(
        "source",
        F.col("n_s").alias("n_docs"),
        r4(
            F.col("dmax").cast("double")
            / (F.col("n_s").cast("double") * (F.col("n_all") - F.col("n_s")))
        ).alias("d"),
    )
