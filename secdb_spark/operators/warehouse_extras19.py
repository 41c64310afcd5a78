"""Round-7 additions, batch 21 — rank correlation, categorical effect
size, composition drift.

Reference semantics: SURVEY §2 extension policy (mount empty).
spearman_corr puts the grouped bucketed prefix-sum kernel on a new
domain: midranks from distinct-value counts (2·midrank is an integer,
so the rank moments are exact integer sums — the double appears only
in the final shared-IEEE rho tree).  assoc_cramers_v upgrades
chi2_independence's statistic into the normalized effect size.
priority_mix_drift is the total-variation-distance composition monitor
every pipeline dashboard runs per period.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import pin, r4

DEC12 = "decimal(38,12)"
DEC19 = "decimal(19,0)"


# ---------------------------------------------------------------------------
# spearman_corr — grouped Spearman rank correlation, midranks exact
# ---------------------------------------------------------------------------

def _midrank2_sql(src: str, col: str, out: str) -> str:
    """DuckDB CTE body: distinct-value counts of `col` per l_returnflag
    with doubled midrank (2·midrank = 2·cum_before + c + 1, an integer).
    """
    return f"""
      SELECT l_returnflag, {col},
             2 * CAST(sum(c) OVER (PARTITION BY l_returnflag
                                   ORDER BY {col}) AS BIGINT)
               - c + 1 AS {out}
      FROM (SELECT l_returnflag, {col}, CAST(count(*) AS BIGINT) AS c
            FROM {src} GROUP BY 1, 2)
    """


@register(
    "spearman_corr",
    oracle=f"""
    WITH rx AS ({_midrank2_sql("lineitem", "l_quantity", "r2x")}),
    ry AS ({_midrank2_sql("lineitem", "l_extendedprice", "r2y")}),
    rows_r AS (
      SELECT l.l_returnflag, rx.r2x, ry.r2y
      FROM lineitem l
      JOIN rx ON l.l_returnflag = rx.l_returnflag
             AND l.l_quantity = rx.l_quantity
      JOIN ry ON l.l_returnflag = ry.l_returnflag
             AND l.l_extendedprice = ry.l_extendedprice
    ), m AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(sum(r2x) AS HUGEINT) AS DOUBLE) AS sx,
             CAST(CAST(sum(r2y) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(r2x * r2x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(sum(r2y * r2y) AS HUGEINT) AS DOUBLE) AS syy,
             CAST(CAST(sum(r2x * r2y) AS HUGEINT) AS DOUBLE) AS sxy
      FROM rows_r GROUP BY 1
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 4) AS rho
    FROM m
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price per
    return flag — the tie-robust monotonic-association check run before
    trusting a Pearson number.  Midranks never touch a per-row window:
    they come from the DISTINCT-VALUE counts (midrank = cum_before +
    (c+1)/2, so 2·midrank = 2·cum + c + 1 is an INTEGER), computed with
    the grouped bucketed prefix-sum kernel over the value spine
    (distinct-value-sized, never row-sized) and joined back to rows on
    (group, value).  All five rank moments are exact integer sums
    (DECIMAL-widened, so no int64 overflow at any scale); the only
    doubles are the final shared-IEEE rho tree, identical cross-engine.
    At 100 TB: one groupBy per axis + two value-keyed joins + one
    combinable aggregate."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def midrank2(col: str, out: str) -> DataFrame:
        d = li.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        cum = grouped_range_prefix_sum(
            d,
            ["l_returnflag"],
            col,
            "c",
            out="_cw",
            small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "lineitem"),
        )
        return cum.select(
            "l_returnflag", col,
            (
                2 * F.col("_cw").cast("long")
                - F.col("_v").cast("long") + 1
            ).alias(out),
        )

    rx = midrank2("l_quantity", "r2x")
    ry = midrank2("l_extendedprice", "r2y")
    rows_r = (
        li.join(rx, ["l_returnflag", "l_quantity"])
        .join(ry, ["l_returnflag", "l_extendedprice"])
        .select("l_returnflag", "r2x", "r2y")
    )
    x = F.col("r2x").cast(DEC19)
    y = F.col("r2y").cast(DEC19)
    m = rows_r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("l_returnflag", "n", r4(num / den).alias("rho"))


# ---------------------------------------------------------------------------
# assoc_cramers_v — normalized categorical association (brand × size)
# ---------------------------------------------------------------------------

@register(
    "assoc_cramers_v",
    oracle="""
    WITH ct AS (
      SELECT p_brand, p_size, CAST(count(*) AS BIGINT) AS o
      FROM part GROUP BY 1, 2
    ), rt AS (
      SELECT p_brand, CAST(sum(o) AS BIGINT) AS r FROM ct GROUP BY 1
    ), cl AS (
      SELECT p_size, CAST(sum(o) AS BIGINT) AS c FROM ct GROUP BY 1
    ), nn AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT p_brand) AS BIGINT) AS r_levels,
             CAST(count(DISTINCT p_size) AS BIGINT) AS c_levels
      FROM ct
    ), chi AS (
      SELECT CAST(sum(CAST(
               pow(o - CAST(rt.r AS DOUBLE) * cl.c / nn.n, 2)
                 / (CAST(rt.r AS DOUBLE) * cl.c / nn.n)
               AS DECIMAL(38,12))) AS DOUBLE) AS chi2
      FROM ct JOIN rt USING (p_brand)
              JOIN cl USING (p_size), nn
    )
    SELECT nn.n AS n_parts, nn.r_levels, nn.c_levels,
           (nn.r_levels - 1) * (nn.c_levels - 1) AS dof,
           round(chi.chi2, 4) AS chi2,
           round(sqrt(chi.chi2
                      / (nn.n * (least(nn.r_levels, nn.c_levels) - 1))),
                 4) AS cramers_v
    FROM nn, chi
    """,
)
def assoc_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for brand × size — the bounded [0,1] effect size
    that makes chi² comparable across tables of different shape
    (chi2_independence reports the raw statistic; V answers "is the
    association actually large?").  Observed cells come from one
    map-side-combinable groupBy; expected counts are assembled from the
    broadcast row/column margins; each cell's (o−e)²/e is one shared
    IEEE tree quantized to DECIMAL(38,12) before the order-free sum.
    Only the contingency count touches data — everything downstream is
    |brands|·|sizes|-sized."""
    # ct has four consumers and nn two: pinned, one part scan total
    # (plan-audit, SCALE.md §50).
    ct = pin(
        table(spark, sf_dir, "part")
        .groupBy("p_brand", "p_size")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rt = ct.groupBy("p_brand").agg(F.sum("o").cast("long").alias("r"))
    cl = ct.groupBy("p_size").agg(F.sum("o").cast("long").alias("c"))
    nn = ct.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("p_brand").cast("long").alias("r_levels"),
        F.countDistinct("p_size").cast("long").alias("c_levels"),
    )
    nn = pin(nn)
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    cell = F.pow(F.col("o") - e, 2) / e
    chi = (
        ct.join(F.broadcast(rt), "p_brand")
        .join(F.broadcast(cl), "p_size")
        .crossJoin(F.broadcast(nn))
        .agg(F.sum(cell.cast(DEC12)).cast("double").alias("chi2"))
    )
    return (
        nn.crossJoin(F.broadcast(chi))
        .select(
            F.col("n").alias("n_parts"),
            "r_levels",
            "c_levels",
            ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).alias("dof"),
            r4(F.col("chi2")).alias("chi2"),
            r4(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n")
                        * (F.least("r_levels", "c_levels") - 1)
                    )
                )
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# priority_mix_drift — per-quarter total-variation distance of the mix
# ---------------------------------------------------------------------------

@register(
    "priority_mix_drift",
    oracle="""
    WITH o AS (
      SELECT year(o_orderdate) || '-Q' || quarter(o_orderdate) AS qtr,
             o_orderpriority AS pri
      FROM orders
    ), cq AS (
      SELECT qtr, pri, CAST(count(*) AS BIGINT) AS c FROM o GROUP BY 1, 2
    ), nq AS (
      SELECT qtr, CAST(sum(c) AS BIGINT) AS nq FROM cq GROUP BY 1
    ), cp AS (
      SELECT pri, CAST(sum(c) AS BIGINT) AS cp FROM cq GROUP BY 1
    ), nn AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM cq
    ), dev AS (
      SELECT nq.qtr, cp.pri, nq.nq,
             CAST(coalesce(cq.c, 0) AS DOUBLE) / nq.nq
               - CAST(cp.cp AS DOUBLE) / nn.n AS d
      FROM nq CROSS JOIN cp
      LEFT JOIN cq ON cq.qtr = nq.qtr AND cq.pri = cp.pri, nn
    ), agg AS (
      SELECT qtr, max(nq) AS n_orders,
             round(0.5 * sum(abs(d)), 4) AS tvd
      FROM dev GROUP BY qtr
    ), worst AS (
      SELECT qtr, pri AS worst_priority, round(d, 4) AS worst_dev,
             row_number() OVER (PARTITION BY qtr
                                ORDER BY abs(d) DESC, pri) AS rk
      FROM dev
    )
    SELECT a.qtr, a.n_orders, a.tvd, w.worst_priority, w.worst_dev
    FROM agg a JOIN worst w ON a.qtr = w.qtr AND w.rk = 1
    """,
)
def priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-quarter composition drift of the order-priority mix: the
    total-variation distance 0.5·Σ|p_q − p_overall| plus the priority
    deviating most (signed) — the categorical drift monitor a pipeline
    dashboard runs on every batch (TVD is the L1 twin of
    priority_mix's chi²-style checks; bounded [0,1], additive over
    cells).  One fact-table groupBy produces the quarter×priority
    counts; quarter totals, priority totals, and the grand total are
    all broadcast-joined aggregates; the TVD sum and argmax windows run
    over the |quarters|·|priorities| grid only.  Deviations are shared
    IEEE ratio differences; the argmax tie-breaks on priority name."""
    o = table(spark, sf_dir, "orders").select(
        F.concat(
            F.year("o_orderdate").cast("string"),
            F.lit("-Q"),
            F.quarter("o_orderdate").cast("string"),
        ).alias("qtr"),
        F.col("o_orderpriority").alias("pri"),
    )
    # cq (the quarter x priority grid) has FOUR consumers and dev TWO —
    # pinned so the fact scan runs once (plan-audit, SCALE.md §50).
    cq = pin(
        o.groupBy("qtr", "pri").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nq = cq.groupBy("qtr").agg(F.sum("c").cast("long").alias("nq"))
    cp = cq.groupBy("pri").agg(F.sum("c").cast("long").alias("cp"))
    nn = cq.agg(F.sum("c").cast("long").alias("n"))
    dev = (
        nq.crossJoin(F.broadcast(cp))
        .join(cq, ["qtr", "pri"], "left")
        .crossJoin(F.broadcast(nn))
        .select(
            "qtr", "pri", "nq",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("nq")
                - F.col("cp").cast("double") / F.col("n")
            ).alias("d"),
        )
    )
    dev = pin(dev)
    agg = dev.groupBy("qtr").agg(
        F.max("nq").alias("n_orders"),
        r4(0.5 * F.sum(F.abs(F.col("d")))).alias("tvd"),
    )
    wr = Window.partitionBy("qtr").orderBy(F.abs(F.col("d")).desc(), "pri")
    worst = (
        dev.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "qtr",
            F.col("pri").alias("worst_priority"),
            r4(F.col("d")).alias("worst_dev"),
        )
    )
    return agg.join(worst, "qtr")
