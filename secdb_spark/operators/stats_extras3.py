"""Round-7 additions, batch 33 — experimentation statistics: sample-ratio
mismatch, CUPED variance reduction, Brown-Forsythe variance equality.

Reference semantics: SURVEY §2 extension policy (mount empty).  The three
ops are the pre-flight checks an experimentation platform runs before it
trusts a metric movement: abtest_srm catches broken assignment,
abtest_cuped quantifies how much pre-period data de-noises the metric,
stat_levene (Brown-Forsythe flavor) checks the equal-variance assumption
behind pooled t/ANOVA readouts.  Assignment is the engine-portable
md5-bucket basis (pipeline_extras._hash_bucket); every sum is exact
integer cents so both engines derive identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import pin, r4
from .pipeline_extras import _hash_bucket, _sql_hash_bucket

#: chi²(1 df) critical value at alpha = 0.001 — the conventional SRM alarm
#: threshold (experimentation platforms alarm at p < 0.001, not 0.05).
SRM_CHI2_CRIT = 10.828

DEC38 = "decimal(38,0)"


def _cents(col: Column) -> Column:
    return F.floor(col * 100 + 0.5).cast("long")


# ---------------------------------------------------------------------------
# abtest_srm — sample-ratio mismatch on hash-assigned variants
# ---------------------------------------------------------------------------

@register(
    "abtest_srm",
    oracle=f"""
    WITH assigned AS (
      SELECT DISTINCT user_id,
             {_sql_hash_bucket("'ab:' || CAST(user_id AS VARCHAR)", 2)} AS v
      FROM events
    ), counts AS (
      SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM assigned
    )
    SELECT n_a, n_b,
           round(CAST(n_a AS DOUBLE) / (n_a + n_b), 4) AS share_a,
           round(  (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                   / ((n_a + n_b) / 2.0)
                 + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                   / ((n_a + n_b) / 2.0), 4) AS chi2,
           (  (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
              / ((n_a + n_b) / 2.0)
            + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
              / ((n_a + n_b) / 2.0)) > {SRM_CHI2_CRIT} AS srm_detected
    FROM counts
    """,
)
def abtest_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch — the first thing to check on ANY experiment
    readout: hash users into two variants (portable md5 bucket, the
    exact assignment a production splitter would ship) and chi²-test the
    observed split against the designed 50/50.  Alarm at the
    conventional p<0.001 critical value ({SRM_CHI2_CRIT}), because an
    SRM means the assignment or logging pipeline is broken and every
    downstream metric is untrustworthy.  One distinct-users aggregate
    (map-side combinable) → one-row reduction; no window, no skew (the
    hash is uniform by construction)."""
    ev = table(spark, sf_dir, "events")
    assigned = ev.select(
        "user_id",
        _hash_bucket(
            F.concat(F.lit("ab:"), F.col("user_id").cast("string")), 2
        ).alias("v"),
    ).distinct()
    counts = assigned.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0))
        .cast("long").alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    exp = n / 2.0
    chi2 = (
        (F.col("n_a") - exp) * (F.col("n_a") - exp) / exp
        + (F.col("n_b") - exp) * (F.col("n_b") - exp) / exp
    )
    return counts.select(
        "n_a",
        "n_b",
        r4(F.col("n_a").cast("double") / n).alias("share_a"),
        r4(chi2).alias("chi2"),
        (chi2 > SRM_CHI2_CRIT).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# abtest_cuped — CUPED variance reduction from the pre-period covariate
# ---------------------------------------------------------------------------

@register(
    "abtest_cuped",
    oracle=f"""
    WITH bounds AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS cut FROM events
    ), per_user AS (
      SELECT user_id,
             {_sql_hash_bucket("'ab:' || CAST(user_id AS VARCHAR)", 2)} AS v,
             CAST(sum(CASE WHEN epoch_us(ts) < b.cut
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= b.cut
                           THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events, bounds b GROUP BY 1, 2
    ), moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM per_user
    ), theta AS (
      SELECT n, sx, sy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS th,
             (n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho2
      FROM moments
    ), per_variant AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS vsx,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS vsy
      FROM per_user GROUP BY 1
    )
    SELECT CASE WHEN p.v = 0 THEN 'A' ELSE 'B' END AS variant,
           p.n_users,
           round(p.vsy / p.n_users / 100, 4) AS mean_post,
           round((p.vsy / p.n_users
                  - t.th * (p.vsx / p.n_users - t.sx / t.n)) / 100, 4)
             AS mean_post_cuped,
           round(t.th, 4) AS theta,
           round(t.rho2, 4) AS var_reduction
    FROM per_variant p CROSS JOIN theta t
    """,
)
def abtest_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13) — de-noise an experiment metric with
    its own pre-period: split the event stream at the midpoint
    timestamp, build per-user pre (x) and post (y) spend, fit
    θ = cov(x,y)/var(x) POOLED across variants (the unbiased choice —
    per-variant θ re-introduces treatment signal), and report each
    variant's adjusted mean ŷ_v − θ·(x̄_v − x̄).  `var_reduction` = ρ²
    is exactly the fraction of metric variance CUPED removes.  All
    moments are exact integer-cents sums (HUGEINT / decimal(38,0)) cast
    to double once, so both engines run identical FP arithmetic; one
    user-keyed aggregate feeds everything — no window, no second
    scan of the fact table."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = ev.agg(
        F.floor(
            (F.min(us) + F.max(us)) / 2
        ).cast("long").alias("cut")
    )
    cents = _cents(F.col("value"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            _hash_bucket(
                F.concat(F.lit("ab:"), F.col("user_id").cast("string")), 2
            ).alias("v"),
        )
        .agg(
            F.sum(F.when(us < F.col("cut"), cents).otherwise(0))
            .cast("long").alias("x"),
            F.sum(F.when(us >= F.col("cut"), cents).otherwise(0))
            .cast("long").alias("y"),
        )
    )
    # r13: the pooled moments are the VARIANT-group sums re-summed (all
    # six accumulators are exact DECIMAL(38,0) sums, so grouping by
    # variant first and totalling the two partials is bit-identical to
    # the direct pooled sum — decimal addition is exact and
    # order-independent; the single cast to double happens at the same
    # place).  This drops the former USER-SIZED localCheckpoint: the
    # only pinned frame is the 2-row per-variant aggregate, and the
    # event scan -> per-user aggregate pipeline runs exactly once.
    xd = F.col("x").cast(DEC38)
    yd = F.col("y").cast(DEC38)
    vg = pin(
        per_user.groupBy("v").agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(xd).alias("vsx_d"),
            F.sum(yd).alias("vsy_d"),
            F.sum(xd * xd).alias("vsxx_d"),
            F.sum(yd * yd).alias("vsyy_d"),
            F.sum(xd * yd).alias("vsxy_d"),
        )
    )
    moments = vg.agg(
        F.sum("n_users").cast("long").alias("n"),
        F.sum("vsx_d").cast("double").alias("sx"),
        F.sum("vsy_d").cast("double").alias("sy"),
        F.sum("vsxx_d").cast("double").alias("sxx"),
        F.sum("vsyy_d").cast("double").alias("syy"),
        F.sum("vsxy_d").cast("double").alias("sxy"),
    )
    nn = F.col("n").cast("double")
    cov_n = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = nn * F.col("syy") - F.col("sy") * F.col("sy")
    theta = moments.select(
        "n",
        "sx",
        (cov_n / varx_n).alias("th"),
        (cov_n * cov_n / (varx_n * vary_n)).alias("rho2"),
    )
    per_variant = vg.select(
        "v",
        "n_users",
        F.col("vsx_d").cast("double").alias("vsx"),
        F.col("vsy_d").cast("double").alias("vsy"),
    )
    return per_variant.crossJoin(F.broadcast(theta)).select(
        F.when(F.col("v") == 0, "A").otherwise("B").alias("variant"),
        "n_users",
        r4(F.col("vsy") / F.col("n_users") / 100).alias("mean_post"),
        r4(
            (
                F.col("vsy") / F.col("n_users")
                - F.col("th")
                * (F.col("vsx") / F.col("n_users") - F.col("sx") / F.col("n"))
            )
            / 100
        ).alias("mean_post_cuped"),
        r4(F.col("th")).alias("theta"),
        r4(F.col("rho2")).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# stat_levene — Brown-Forsythe equal-variance test across order priorities
# ---------------------------------------------------------------------------

@register(
    "stat_levene",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), med AS (
      SELECT grp, CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med
      FROM base GROUP BY 1
    ), z AS (
      SELECT b.grp, abs(b.cents - m.med) AS z
      FROM base b JOIN med m ON b.grp = m.grp
    ), per_group AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(CAST(z AS HUGEINT)) AS DOUBLE) AS sz,
             CAST(sum(CAST(z AS HUGEINT) * z) AS DOUBLE) AS szz
      FROM z GROUP BY 1
    ), pooled AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(sz) AS DOUBLE) AS tsz
      FROM per_group
    )
    SELECT g.grp AS o_orderpriority, g.n_g,
           round(m.med / 100.0, 4) AS group_median,
           round(g.sz / g.n_g / 100, 4) AS mean_abs_dev,
           round( ((p.n - p.k) * 1.0 / (p.k - 1))
                  * (SELECT sum(n_g * (sz / n_g - p2.tsz / p2.n)
                                    * (sz / n_g - p2.tsz / p2.n))
                     FROM per_group, pooled p2)
                  / (SELECT sum(szz - sz * sz / n_g) FROM per_group), 4)
             AS bf_stat
    FROM per_group g JOIN med m ON g.grp = m.grp CROSS JOIN pooled p
    """,
)
def stat_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with the MEDIAN center — the
    robust form every stats package defaults to) for equal spread of
    order value across the five priorities: z = |x − median_g|, then
    W = ((N−k)/(k−1)) · Σ n_g (z̄_g − z̄)² / Σ(z − z̄_g)², the one-way
    ANOVA F on the deviations.  Group medians come from the bucketed
    grouped prefix-sum kernel (agg_percentile_disc's shape — NO
    per-priority window, which would funnel the fact table through 5
    tasks) with the probe-verified rank = ceil(n/2) convention matching
    DuckDB's quantile_disc.  Deviations are exact integer cents; the
    F-statistic assembles from six exact group moments in mirrored
    double arithmetic."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    cum = grouped_range_prefix_sum(
        o.withColumn("one", F.lit(1)),
        ["grp"],
        "cents",
        "one",
        out="_cum",
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "orders"),
    )
    ng = cum.groupBy("grp").agg(F.sum("_v").cast("long").alias("n"))
    med = (
        cum.join(F.broadcast(ng), "grp")
        .withColumn(
            "thr", F.floor((F.col("n") + 1) / 2).cast("long")
        )
        .groupBy("grp")
        .agg(
            F.min(
                F.when(F.col("_cum") >= F.col("thr"), F.col("cents"))
            ).alias("med")
        )
    )
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("cents") - F.col("med")).alias("z")
    )
    zd = F.col("z").cast(DEC38)
    per_group = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(zd).cast("double").alias("sz"),
        F.sum(zd * zd).cast("double").alias("szz"),
    )
    per_group = pin(per_group)  # feeds pooled + withp (plan-audit §50)
    pooled = per_group.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sz").alias("tsz"),
    )
    withp = per_group.crossJoin(F.broadcast(pooled))
    zbar_g = F.col("sz") / F.col("n_g")
    zbar = F.col("tsz") / F.col("n")
    parts = withp.agg(
        F.sum(F.col("n_g") * (zbar_g - zbar) * (zbar_g - zbar)).alias("ssb"),
        F.sum(
            F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_g")
        ).alias("ssw"),
        F.first("n").alias("n"),
        F.first("k").alias("k"),
    ).select(
        (
            ((F.col("n") - F.col("k")) * F.lit(1.0) / (F.col("k") - 1))
            * F.col("ssb") / F.col("ssw")
        ).alias("bf")
    )
    return (
        per_group.join(F.broadcast(med), "grp")
        .crossJoin(F.broadcast(parts))
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_g",
            r4(F.col("med") / 100.0).alias("group_median"),
            r4(F.col("sz") / F.col("n_g") / 100).alias("mean_abs_dev"),
            r4(F.col("bf")).alias("bf_stat"),
        )
    )
