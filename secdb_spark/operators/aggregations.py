"""§2.D — Aggregation operators.

Reference semantics: SQLite aggregate SQL (reference mount empty; SURVEY
§2.D). Spark-first notes: groupBy().agg() compiles to partial (map-side)
HashAggregate -> shuffle on group keys -> final HashAggregate; with the
decimal-sum convention (_helpers.dsum) partials stay exact AND map-side
combinable, so at 100 TB the shuffle carries one row per (partition x
group), not per input row. Group-key cardinalities here are small-to-medium
(6 .. ~100k); for 10^9-key distincts at scale see the two-stage patterns
noted on agg_count_distinct / agg_approx_distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import register_views, table
from ..registry import register
from ._helpers import davg, dsum, dsum_scaled, r4, sql_davg, sql_dsum, sql_dsum_scaled

Q1_CUTOFF = "1998-09-01 00:00:00"


@register(
    "agg_group",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
             {sql_dsum_scaled('l_extendedprice', 2)} AS sbp,
             {sql_dsum_scaled('l_extendedprice * (1 - l_discount)', 4)} AS sdp,
             {sql_dsum_scaled('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sc,
             {sql_dsum_scaled('l_discount', 2)} AS sd,
             count(*) AS n
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sq AS DOUBLE) AS sum_qty,
           sbp / 1e2 AS sum_base_price,
           sdp / 1e4 AS sum_disc_price,
           sc / 1e6 AS sum_charge,
           CAST(sq AS DOUBLE) / n AS avg_qty,
           sbp / 1e2 / n AS avg_price,
           sd / 1e2 / n AS avg_disc,
           n AS count_order
    FROM s
    """,
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — TPC-H Q1-shaped pricing summary (hash agg by 2 keys).

    Plan: Scan(pushed filter, 7-col ReadSchema) -> partial HashAggregate ->
    Exchange(6 groups) -> final HashAggregate. The only shuffle carries
    n_partitions x 6 rows.

    Perf/exactness design (measured at sf0.1): plain double sums are
    order-dependent (hash-gate fail); DECIMAL(38,6) accumulation is exact
    but 4x slower (loses long-backed codegen). Int64 fixed-point at the
    column's known decimal scale (qty=0dp, price=2dp, disc_price=4dp,
    charge=6dp) is exact AND stays in WholeStageCodegen — 2x the decimal
    speed. Averages derive from the same sums (no second aggregation)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    s = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sq"),
        dsum_scaled(F.col("l_extendedprice"), 2).alias("sbp"),
        dsum_scaled(disc_price, 4).alias("sdp"),
        dsum_scaled(disc_price * (1 + F.col("l_tax")), 6).alias("sc"),
        dsum_scaled(F.col("l_discount"), 2).alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    return s.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sq").cast("double").alias("sum_qty"),
        (F.col("sbp") / 1e2).alias("sum_base_price"),
        (F.col("sdp") / 1e4).alias("sum_disc_price"),
        (F.col("sc") / 1e6).alias("sum_charge"),
        (F.col("sq").cast("double") / F.col("n")).alias("avg_qty"),
        (F.col("sbp") / 1e2 / F.col("n")).alias("avg_price"),
        (F.col("sd") / 1e2 / F.col("n")).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


@register(
    "agg_global",
    oracle=f"""
    SELECT count(*) AS n_rows,
           {sql_dsum('l_extendedprice')} AS total_price,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           {sql_davg('l_discount')} AS avg_disc,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-group (grand total) aggregate — single final row via partials."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("l_extendedprice")).alias("total_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg(F.col("l_discount")).alias("avg_disc"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group. Scale note: Spark plans Expand + two-phase
    agg; for 10^9+ distinct keys prefer pre-aggregation on (status, custkey)
    then count — same result, bounded state per partition."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several distinct aggregates in one pass (Catalyst Expand rewrite)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register("agg_approx_distinct", oracle=None)  # R class: estimators differ across engines
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct — THE 100 TB distinct-count path (fixed
    ~KB state per group vs unbounded exact-distinct state). Rows-only check;
    tests assert the rsd bound against the exact count (§5.2.4)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_having",
    oracle=f"""
    SELECT l_partkey,
           {sql_dsum('l_quantity')} AS total_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey
    HAVING count(*) >= 5 AND {sql_dsum('l_quantity')} > 100
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            dsum(F.col("l_quantity")).alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .filter((F.col("n_lines") >= 5) & (F.col("total_qty") > 100))
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           {sql_dsum('l_quantity')} AS sum_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (flag,status), (flag), ()."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           {sql_dsum('o_totalprice')} AS sum_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (2^2 sets)."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (DataFrame API has no direct form)."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_collect",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list(n_name ORDER BY n_name), ',') AS nations,
           array_to_string(list(DISTINCT substr(n_name, 1, 1)
                                ORDER BY substr(n_name, 1, 1)), ',') AS initials
    FROM nation
    GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group lists — ALWAYS sort_array'd for cross-engine determinism
    (§4.4 rule 5); surfaced as joined strings because pandas maps LIST
    columns differently per engine (np.ndarray vs list)."""
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.array_join(F.sort_array(F.collect_set(F.substring("n_name", 1, 1))), ",").alias(
            "initials"
        ),
    )


@register(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_discount), 4) AS var_disc,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 4) AS covar_qd,
           {sql_davg('l_tax')} AS avg_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. Small-magnitude columns chosen so the ~1e-12
    relative difference between the engines' stable one-pass algorithms
    stays far below the round(.,4) quantum (§4.4 rule 6)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_quantity")).alias("sd_qty"),
        r4(F.var_samp("l_discount")).alias("var_disc"),
        r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r4(F.covar_samp("l_quantity", "l_discount")).alias("covar_qd"),
        davg(F.col("l_tax")).alias("avg_tax"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_linestatus,
           round(median(l_quantity), 4) AS med_qty,
           round(quantile_cont(l_extendedprice, 0.90), 4) AS p90_price,
           round(quantile_cont(l_discount, 0.25), 4) AS p25_disc
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (oracle: quantile_cont)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        r4(F.median("l_quantity")).alias("med_qty"),
        r4(F.percentile("l_extendedprice", F.lit(0.90))).alias("p90_price"),
        r4(F.percentile("l_discount", F.lit(0.25))).alias("p25_disc"),
    )


@register("agg_percentile_approx", oracle=None)  # R class: sketch-dependent
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile — the 100 TB quantile path (mergeable sketch,
    bounded state; exact percentile needs a full sort per group)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        r4(F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))).alias(
            "approx_median_price"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice * 1000000000 + o_orderkey) AS biggest_order,
           arg_min(o_orderkey, o_totalprice * 1000000000 + o_orderkey) AS smallest_order,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-extremum (min_by/max_by vs DuckDB arg_min/arg_max).
    Tie-safe: prices have 2 decimals so extremum ties across orderkeys are
    possible at scale and min_by/max_by would pick engine-dependent rows —
    the ordering key is the collision-free composite price*1e9 + orderkey
    (2-dp price * 1e9 is an exact integer multiple of 1e7; + orderkey < 1e7
    stays exact below 2^53)."""
    o = table(spark, sf_dir, "orders")
    tie_safe = F.col("o_totalprice") * 1e9 + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", tie_safe).alias("biggest_order"),
        F.min_by("o_orderkey", tie_safe).alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows->columns pivot; explicit value list ('F','O','P') avoids the
    extra distinct-collection job Spark needs for implicit pivots — at
    100 TB an implicit pivot is a full extra pass."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        # empty cells: Spark pivot yields NULL, COUNT..FILTER yields 0
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
             count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
             count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n
    FROM wide UNPIVOT (n FOR status IN ("F", "O", "P"))
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long), the inverse of agg_pivot: pivoted status
    counts melted back to (priority, status, n) rows. Zero-shuffle on top
    of the pivot (Expand operator, row-local)."""
    wide = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )
    return wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "n"
    )


@register("agg_hll_sketch", oracle=None)  # R class: sketch estimate
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches — the re-aggregatable form of COUNT DISTINCT
    that agg_approx_distinct cannot provide: per-nation customer sketches
    built in one pass, then MERGED to region level (hll_union_agg) without
    touching the base table again.  This mergeability is the whole point
    at 100 TB: a daily materialized sketch per partition rolls up to any
    coarser grouping (week, region, global) at the cost of |sketches|, not
    |rows| — the same partial-reaggregation invariant as
    rollup_timeseries.  Estimate error is ~1.6% at the default lgConfigK;
    tests pin estimates within 5% of the exact distinct counts."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    per_region = (
        per_nation.join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            per_nation["c_nationkey"] == F.col("n_nationkey"),
        )
        .groupBy("n_regionkey")
        .agg(
            F.hll_union_agg("sk").alias("sk"),
            F.sum("n_rows").alias("n_rows"),
        )
    )
    return per_region.select(
        "n_regionkey",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        F.col("n_rows").cast("long").alias("exact_rows"),
    ).orderBy("n_regionkey")


@register(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT o_custkey, o_orderpriority, n,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY n DESC, o_orderpriority) AS rn
      FROM counts
    )
    SELECT o_custkey, o_orderpriority AS mode_priority, n AS n_orders
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic tie-break
    (lexicographically smallest value wins).  Two-level shape: count per
    (group, value) — map-side combinable — then a WindowGroupLimit-able
    row_number top-1 per group.  Both steps hash on o_custkey, one data
    shuffle; never a collect_list of the group's values (unbounded state
    at 100 TB)."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    counts = o.groupBy("o_custkey", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("n_orders"),
        )
    )


HIST_WIDTH = 25_000.0  # equi-width bucket size over o_totalprice


def histogram(
    df: DataFrame,
    val_col: str,
    width: float,
) -> DataFrame:
    """Equi-width histogram of ANY numeric column (agg_histogram's
    algebra with the width parameterized) — the profiling primitive
    behind skew detection and partition sizing.  Returns (bucket,
    bucket_lo, n, lo, hi).  bucket_lo rounds to enough decimals for the
    width (>= 2, widening for sub-0.01 widths so adjacent buckets never
    share a label); `bucket` is the exact key either way.

    Scale shape: the bucket id is floor(x/width) inside the scan's
    codegen, so the whole histogram is ONE map-side-combinable groupBy
    on a small key domain — a histogram for the cost of one scan at any
    size."""
    import math

    if width <= 0:
        raise ValueError("width must be > 0")
    # label precision follows the width: 2 decimals for width >= 0.01
    # (the kernel's presentation), more below it so bucket_lo stays
    # faithful (ADVICE r9: width=0.001 buckets shared a rounded label)
    decimals = max(2, -math.floor(math.log10(width)) + 2)
    bucket = F.floor(F.col(val_col) / F.lit(width))
    return df.groupBy(
        bucket.cast("bigint").alias("bucket"),
        F.round(bucket * F.lit(width), decimals).alias("bucket_lo"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min(val_col), 2).alias("lo"),
        F.round(F.max(val_col), 2).alias("hi"),
    )


@register(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(floor(o_totalprice / {HIST_WIDTH!r}) AS BIGINT) AS bucket,
           round(floor(o_totalprice / {HIST_WIDTH!r}) * {HIST_WIDTH!r}, 2)
             AS bucket_lo,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals — the `histogram` kernel at
    HIST_WIDTH: ONE map-side-combinable groupBy on a small bucket key
    domain."""
    return histogram(
        table(spark, sf_dir, "orders"), "o_totalprice", HIST_WIDTH
    ).withColumnRenamed("n", "n_orders")


@register(
    "agg_mad",
    oracle="""
    WITH med AS (
      SELECT l_linestatus, median(l_quantity) AS m
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_linestatus,
           round(any_value(m), 4) AS med_qty,
           round(median(abs(l_quantity - m)), 4) AS mad_qty
    FROM lineitem l JOIN med USING (l_linestatus)
    GROUP BY l.l_linestatus
    """,
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread measure
    outlier pipelines use when stddev is poisoned by the very outliers
    being hunted.  Inherently two passes (the second depends on the
    first's median): pass 1 computes per-group exact medians (partial
    state bounded by Spark's percentile implementation), which come back
    as a |groups|-row BROADCAST onto the fact stream — the second pass
    re-shuffles on the same group key.  At 100 TB you'd swap both exact
    percentiles for approx_percentile sketches; the exact form here is
    what the oracle can verify."""
    li = table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_linestatus").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("m")
    )
    return (
        li.join(F.broadcast(med), "l_linestatus")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.any_value("m"), 4).alias("med_qty"),
            F.round(
                F.percentile(F.abs(F.col("l_quantity") - F.col("m")), F.lit(0.5)),
                4,
            ).alias("mad_qty"),
        )
    )
