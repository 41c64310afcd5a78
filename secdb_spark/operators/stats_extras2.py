"""Round-7 additions, batch 7 — rank/ECDF two-sample tests.

Reference semantics: SURVEY §2 extension policy (mount empty) — the
classical nonparametric two-sample tests (Mann-Whitney U, two-sample
Kolmogorov-Smirnov) plus Welch's unequal-variance t, each over the
`events.value` distributions of two event types.  These are THE
experiment-analysis queries a warehouse answers after an A/B split, and
each is a showcase for the package's exact-arithmetic discipline:

- value carries exactly 2 decimal digits, so `v100 = floor(v*100+0.5)`
  is a lossless integer key; every rank, tie count, and ECDF step is
  integer arithmetic from there.
- the global ORDER BY value that ranks/ECDFs need runs over the
  DISTINCT-value aggregate through `_global_order.grouped_range_prefix_sum`
  (group = [] — the bucketed two-pass cumsum), so no data-sized rows ever
  funnel through a single-partition window (SURVEY §6 anti-pattern).
- the final z / D / t statistics are IEEE doubles built from exact
  integers through expression trees written identically on both engines,
  then round(,4) (§4.4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import r4

# ---------------------------------------------------------------------------
# stat_mannwhitney — Mann-Whitney U (rank-sum) test, tie-corrected
# ---------------------------------------------------------------------------

MW_A, MW_B = "click", "purchase"


@register(
    "stat_mannwhitney",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             CASE WHEN event_type = '{MW_A}' THEN 1 ELSE 0 END AS i1,
             CASE WHEN event_type = '{MW_B}' THEN 1 ELSE 0 END AS i2
      FROM events WHERE event_type IN ('{MW_A}', '{MW_B}')
    ), d AS (
      SELECT v, CAST(sum(i1) AS BIGINT) AS c1, CAST(sum(i2) AS BIGINT) AS c2
      FROM s GROUP BY v
    ), c AS (
      SELECT v, c1, c2, c1 + c2 AS t,
             CAST(sum(c1 + c2) OVER (ORDER BY v) AS BIGINT) AS cum
      FROM d
    ), a AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1x2,
             CAST(sum(t * t * t - t) AS BIGINT) AS ties
      FROM c
    )
    SELECT n1, n2,
           CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1,
           round(
             (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * n2 / 2)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                    * ((n1 + n2 + 1)
                       - CAST(ties AS DOUBLE)
                         / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
             4) AS z
    FROM a
    """,
)
def stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between the '{MW_A}' and '{MW_B}' value
    distributions, with the textbook tie correction.  Average ranks never
    materialize as floats: for a tied value with combined count t and
    exclusive prefix cum_before, 2*avg_rank = 2*cum_before + t + 1 =
    2*cum - t + 1 — so 2*R1 is an exact BIGINT sum, U1 = (2*R1 -
    n1*(n1+1))/2, and only the final z divides/sqrt's (identical IEEE
    trees both engines).  The ORDER BY value prefix count runs over the
    DISTINCT-value aggregate via the bucketed two-pass kernel — the
    windowed volume is distinct-value-sized and never single-partition.
    Overflow bounds: c1*cum < n² and t³ both stay under 2^63 up to ~2e6
    rows per distinct value and ~3e9 pair rows; past that the sums move
    to DECIMAL(38,0) with the same shape."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(MW_A, MW_B))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            F.when(F.col("event_type") == MW_A, 1).otherwise(0).alias("i1"),
            F.when(F.col("event_type") == MW_B, 1).otherwise(0).alias("i2"),
        )
    )
    d = ev.groupBy("v").agg(
        F.sum("i1").cast("long").alias("c1"),
        F.sum("i2").cast("long").alias("c2"),
    )
    cum = grouped_range_prefix_sum(
        d.withColumn("t", F.col("c1") + F.col("c2")),
        [],
        "v",
        "t",
        out="_cum",
        # r14 small-path opt-in (guide §1.2): d is <= one row per event,
        # so the events footer row count bounds the kernel input.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "events"),
    ).withColumn("cum", F.col("_cum").cast("long"))
    # kernel re-aggregates to (v, _v=sum(t)); c1/t recovered via join back
    c = d.join(cum.select("v", "cum"), "v").withColumn(
        "t", F.col("c1") + F.col("c2")
    )
    a = c.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("cum") - F.col("t") + 1)
        ).cast("long").alias("r1x2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("long").alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1 = (F.col("r1x2") - n1 * (n1 + 1)).cast("double") / 2
    mu = n1.cast("double") * n2 / 2
    tie_frac = F.col("ties").cast("double") / (
        (n1 + n2).cast("double") * (n1 + n2 - 1)
    )
    var = n1.cast("double") * n2 / 12 * ((n1 + n2 + 1) - tie_frac)
    return a.select(
        "n1", "n2", u1.alias("u1"), r4((u1 - mu) / F.sqrt(var)).alias("z")
    )


# ---------------------------------------------------------------------------
# stat_ks_2samp — two-sample Kolmogorov-Smirnov D, exact rational
# ---------------------------------------------------------------------------

KS_A, KS_B = "view", "error"


@register(
    "stat_ks_2samp",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
             CASE WHEN event_type = '{KS_A}' THEN 1 ELSE 0 END AS i1,
             CASE WHEN event_type = '{KS_B}' THEN 1 ELSE 0 END AS i2
      FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
    ), d AS (
      SELECT v, CAST(sum(i1) AS BIGINT) AS c1, CAST(sum(i2) AS BIGINT) AS c2
      FROM s GROUP BY v
    ), n AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM d
    ), c AS (
      SELECT CAST(sum(c1 * n.n2 - c2 * n.n1) OVER (ORDER BY v) AS BIGINT)
               AS cum,
             n.n1 AS n1, n.n2 AS n2
      FROM d, n
    ), m AS (
      SELECT max(abs(cum)) AS dmax, max(n1) AS n1, max(n2) AS n2 FROM c
    )
    SELECT n1, n2,
           round(CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 4) AS d,
           round(CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
                 * sqrt(CAST(n1 AS DOUBLE) * n2
                        / CAST(n1 + n2 AS DOUBLE)), 4) AS c_stat
    FROM m
    """,
)
def stat_ks_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov between the '{KS_A}' and '{KS_B}'
    value distributions.  The ECDF difference at value v is
    cum(c1)/n1 - cum(c2)/n2 = cum(c1*n2 - c2*n1) / (n1*n2): one signed
    integer weight per distinct value, one bucketed global prefix sum,
    and D = max|cum| / (n1*n2) — the supremum is exact rational before
    the final two rounded doubles (D and the scaled statistic
    c = D*sqrt(n1*n2/(n1+n2))).  n1/n2 are one-row aggregates broadcast
    into the weight expression (scalar cross join, model-sized).  Same
    distinct-value pre-aggregate + bucketed-cumsum scale shape as
    stat_mannwhitney; weight products stay under 2^63 to ~3e9 rows per
    side."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(KS_A, KS_B))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            F.when(F.col("event_type") == KS_A, 1).otherwise(0).alias("i1"),
            F.when(F.col("event_type") == KS_B, 1).otherwise(0).alias("i2"),
        )
    )
    d = ev.groupBy("v").agg(
        F.sum("i1").cast("long").alias("c1"),
        F.sum("i2").cast("long").alias("c2"),
    )
    n = d.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    weighted = d.crossJoin(F.broadcast(n)).withColumn(
        "w", F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
    )
    cum = grouped_range_prefix_sum(
        weighted, [], "v", "w", out="_cum",
        # r14 small-path opt-in: same events-footer bound as above.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "events"),
    )
    m = cum.agg(
        F.max(F.abs(F.col("_cum").cast("long"))).alias("dmax")
    ).crossJoin(F.broadcast(n))
    dexpr = F.col("dmax").cast("double") / (
        F.col("n1").cast("double") * F.col("n2")
    )
    return m.select(
        "n1",
        "n2",
        r4(dexpr).alias("d"),
        r4(
            dexpr
            * F.sqrt(
                F.col("n1").cast("double")
                * F.col("n2")
                / (F.col("n1") + F.col("n2")).cast("double")
            )
        ).alias("c_stat"),
    )


# ---------------------------------------------------------------------------
# stat_welch_ttest — Welch's unequal-variance t with Satterthwaite df
# ---------------------------------------------------------------------------

WT_A, WT_B = "view", "purchase"


def welch_ttest(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    val_col: str,
    scale: int = 2,
) -> DataFrame:
    """Welch's unequal-variance t-test between two named groups of ANY
    value column (stat_welch_ttest's algebra with columns and groups
    parameterized), with the Welch-Satterthwaite degrees of freedom.
    One combinable global aggregate — conditional integer moments at
    `scale` fixed-point digits, no join, no window; the t and df
    expressions are pure IEEE trees over six exact integers (the
    quantization factor cancels in t and df; only mean_diff divides
    back to original units).  Sum-of-squares bound: 2^63 — widen the
    moment casts to DECIMAL(38,0) past ~1e9 rows of 1e4-sized values.
    Returns one row (n1, n2, mean_diff, t, df), round 4."""
    ev = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(group_col).alias("_g"),
        F.floor(F.col(val_col) * (10**scale) + 0.5).cast("long").alias("_vc"),
    )
    is1 = F.col("_g") == group_a
    is2 = F.col("_g") == group_b
    vc = F.col("_vc")
    a = ev.agg(
        F.count(F.when(is1, 1)).alias("n1"),
        F.count(F.when(is2, 1)).alias("n2"),
        F.sum(F.when(is1, vc)).cast("long").alias("_s1"),
        F.sum(F.when(is2, vc)).cast("long").alias("_s2"),
        F.sum(F.when(is1, vc * vc)).cast("long").alias("_q1"),
        F.sum(F.when(is2, vc * vc)).cast("long").alias("_q2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2 = F.col("_s1"), F.col("_s2")
    q1, q2 = F.col("_q1"), F.col("_q2")
    vt1 = (q1.cast("double") - s1.cast("double") * s1 / n1) / (n1 - 1) / n1
    vt2 = (q2.cast("double") - s2.cast("double") * s2 / n2) / (n2 - 1) / n2
    mdiff = s1.cast("double") / n1 - s2.cast("double") / n2
    se2 = vt1 + vt2
    return a.select(
        "n1",
        "n2",
        r4(mdiff / (10**scale)).alias("mean_diff"),
        r4(mdiff / F.sqrt(se2)).alias("t"),
        r4(se2 * se2 / (vt1 * vt1 / (n1 - 1) + vt2 * vt2 / (n2 - 1))).alias(
            "df"
        ),
    )


@register(
    "stat_welch_ttest",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events WHERE event_type IN ('{WT_A}', '{WT_B}')
    ), a AS (
      SELECT
        CAST(count(*) FILTER (WHERE event_type = '{WT_A}') AS BIGINT) AS n1,
        CAST(count(*) FILTER (WHERE event_type = '{WT_B}') AS BIGINT) AS n2,
        CAST(sum(vc) FILTER (WHERE event_type = '{WT_A}') AS BIGINT) AS s1,
        CAST(sum(vc) FILTER (WHERE event_type = '{WT_B}') AS BIGINT) AS s2,
        CAST(sum(vc * vc) FILTER (WHERE event_type = '{WT_A}') AS BIGINT) AS q1,
        CAST(sum(vc * vc) FILTER (WHERE event_type = '{WT_B}') AS BIGINT) AS q2
      FROM s
    )
    SELECT n1, n2,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / 100, 4) AS mean_diff,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                          / (n1 - 1) / n1
                        + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                          / (n2 - 1) / n2), 4) AS t,
           round(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                    / (n1 - 1) / n1
                  + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                    / (n2 - 1) / n2)
                 * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                      / (n1 - 1) / n1
                    + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                      / (n2 - 1) / n2)
                 / (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                       / (n1 - 1) / n1)
                    * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                       / (n1 - 1) / n1) / (n1 - 1)
                    + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                       / (n2 - 1) / n2)
                    * ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                       / (n2 - 1) / n2) / (n2 - 1)), 4) AS df
    FROM a
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the WT_A and WT_B event
    types' value distributions, with the Welch-Satterthwaite degrees of
    freedom — the `welch_ttest` kernel in cents."""
    return welch_ttest(
        table(spark, sf_dir, "events"), "event_type", WT_A, WT_B, "value",
        scale=2,
    )
