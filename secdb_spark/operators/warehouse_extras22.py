"""Round-7 additions, batch 26 — forward as-of join, k-core peeling,
purchase acceleration.

Reference semantics: SURVEY §2 extension policy (mount empty).
join_asof_forward mirrors join_asof's union-tag kernel in the forward
direction (the time-to-next-conversion pairing); graph_kcore brings
the degeneracy decomposition onto the house customer<->supplier trade
graph with the fixed-iteration discipline graph_pagerank established
(unrolled rounds, so the oracle needs no recursion);
purchase_acceleration turns purchase_gaps' per-customer gap series
into the speeding-up/slowing-down cohort report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._helpers import pin, r4

DEC12 = "decimal(38,12)"

KCORE_K = 10
KCORE_ROUNDS = 4


# ---------------------------------------------------------------------------
# join_asof_forward — next strictly-later match per key
# ---------------------------------------------------------------------------

@register(
    "join_asof_forward",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN ts END AS p_ts,
             CASE WHEN event_type = 'purchase' THEN event_id END AS p_id,
             event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT *,
             first_value(p_ts IGNORE NULLS) OVER w AS next_purchase_ts,
             first_value(p_id IGNORE NULLS) OVER w AS next_purchase_id
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id AS view_id, user_id, ts AS view_ts,
           next_purchase_id, next_purchase_ts
    FROM filled WHERE event_type = 'view'
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each view matched to the NEXT strictly-later
    purchase by the same user — join_asof's mirror image, and the
    pairing behind every time-to-conversion metric (backward asof
    answers "what did they see before buying"; forward answers "did
    this impression convert, and when").  Same union-tag kernel with
    the frame flipped to 1 FOLLOWING → UNBOUNDED FOLLOWING
    (first_value ignore-nulls), so same-timestamp events never
    self-match and event_id breaks ties both sides.  One shuffle on
    user_id, no row explosion — the range-join formulation this
    replaces explodes on hot users."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias(
            "p_id"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    filled = tagged.withColumn(
        "next_purchase_ts", F.first("p_ts", ignorenulls=True).over(w)
    ).withColumn(
        "next_purchase_id", F.first("p_id", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        "next_purchase_id",
        "next_purchase_ts",
    )


# ---------------------------------------------------------------------------
# graph_kcore — fixed-round k-core peel on the trade graph
# ---------------------------------------------------------------------------

def _kcore_oracle() -> str:
    rounds = []
    prev_u = "und"
    for i in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
    l{i} AS (
      SELECT a AS node FROM {prev_u}
      GROUP BY a HAVING count(*) >= {KCORE_K}
    ), u{i} AS (
      SELECT u.a, u.b FROM {prev_u} u
      JOIN l{i} x ON u.a = x.node
      JOIN l{i} y ON u.b = y.node
    )""")
        prev_u = f"u{i}"
    survivors = ", ".join(
        f"(SELECT CAST(count(*) AS BIGINT) FROM l{i}) AS live_r{i}"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
    WITH e AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
             's' || CAST(l.l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), und AS (
      SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
    ),{",".join(rounds)}
    SELECT (SELECT CAST(count(DISTINCT a) AS BIGINT) FROM und) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           {survivors},
           (SELECT count(*) FROM l{KCORE_ROUNDS - 1})
             = (SELECT count(*) FROM l{KCORE_ROUNDS}) AS converged
    """


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core peeling of the customer<->supplier trade graph:
    repeatedly drop nodes with live degree < {KCORE_K} and their
    incident edges, {KCORE_ROUNDS} fixed rounds — the degeneracy
    decomposition that isolates the densely-interlocked trading core
    (the community detection / influence-seeding preprocessing step).
    Fixed rounds instead of loop-until-fixpoint keeps the cost bound
    and lets the oracle UNROLL the recursion (graph_pagerank's
    discipline); the converged flag reports whether the last two
    rounds agree (they do on this corpus — the peel settles in 2).
    Scale: each round is one degree-count shuffle co-partitioned on
    node + one semi-join edge filter; live sets shrink monotonically,
    per-round cost never exceeds the first round's.  The live edge set
    and live node set are pinned (eager localCheckpoint) each round —
    without that, each round's THREE references to the previous round
    (degree agg + two join sides) compound to 3^rounds recomputes and
    the static plan executed 166 scans of the base tables (plan-audit,
    SCALE.md §50); per-round materialization is the Pregel/GraphX
    iteration discipline and makes each round cost exactly what the
    docstring promises."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # r13 (guide §2.3 narrower types): node ids are LONGS through the
    # peel — 2*custkey / 2*suppkey+1 is an exact bijection of the
    # 'c…'/'s…' strings, and the output is COUNTS only, so every degree,
    # live-set and edge count is unchanged while each round's shuffle
    # ships 8-byte keys instead of strings (the graph_pagerank fix).
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("a"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    u = pin(und)
    # Both invariants read the PINNED undirected edge set, not the
    # un-materialized e/und branches (which would re-run the fact join):
    # |e| = |und| / 2 exactly by the union-mirror construction.
    n_nodes = u.select("a").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    n_edges = u.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges")
    )
    # r14 (guide §3.1): the live set is model-sized (<= node count), so
    # under graph_pagerank's PR_BROADCAST_NODES gate both per-round
    # semi-join filters broadcast it — the edge set never shuffles after
    # its pin (the un-hinted plan sort-merge-joined the edge list by a
    # then by b every round).  Join strategy never changes results;
    # above the gate the distributed shape is unchanged.
    # Gate size: the live set is bounded by the node count, itself
    # bounded by |customers| + |suppliers| (footer reads, no Spark job).
    from .warehouse_extras4 import PR_BROADCAST_NODES

    broadcast_live = catalog.fits(
        sf_dir, PR_BROADCAST_NODES, "customer", "supplier"
    )
    lives = []
    for i in range(1, KCORE_ROUNDS + 1):
        live = pin(
            u.groupBy("a")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= KCORE_K)
            .select(F.col("a").alias("node"))
        )
        bl = F.broadcast(live) if broadcast_live else live
        u = pin(
            u.join(bl.select(F.col("node").alias("a")), "a")
            .join(bl.select(F.col("node").alias("b")), "b")
            .select("a", "b")
        )
        lives.append(
            live.agg(F.count(F.lit(1)).cast("long").alias(f"live_r{i}"))
        )
    out = n_nodes.crossJoin(F.broadcast(n_edges))
    for df in lives:
        out = out.crossJoin(F.broadcast(df))
    return out.withColumn(
        "converged",
        F.col(f"live_r{KCORE_ROUNDS - 1}") == F.col(f"live_r{KCORE_ROUNDS}"),
    )


# ---------------------------------------------------------------------------
# purchase_acceleration — are customers reordering faster over time?
# ---------------------------------------------------------------------------

MIN_ORDERS = 4


@register(
    "purchase_acceleration",
    oracle=f"""
    WITH g AS (
      SELECT o_custkey,
             datediff('day',
                      lag(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey),
                      o_orderdate) AS gap,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) - 1 AS gi,
             count(*) OVER (PARTITION BY o_custkey) - 1 AS ng
      FROM orders
    ), cust AS (
      SELECT o_custkey,
             CAST(sum(CASE WHEN gi <= ng // 2 THEN gap ELSE 0 END) AS BIGINT)
               AS s_first,
             CAST(sum(CASE WHEN gi > ng - ng // 2 THEN gap ELSE 0 END)
                  AS BIGINT) AS s_second,
             CAST(max(ng // 2) AS BIGINT) AS h
      FROM g WHERE gap IS NOT NULL AND ng >= {MIN_ORDERS - 1}
      GROUP BY 1
    ), scored AS (
      SELECT c.o_custkey, n.n_name,
             CAST(c.s_second AS DOUBLE) / c.h
               - CAST(c.s_first AS DOUBLE) / c.h AS delta
      FROM cust c
      JOIN customer cu ON c.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
    )
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS share_accelerating,
           round(CAST(sum(CAST(delta AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 4) AS avg_gap_change_days
    FROM scored GROUP BY n_name
    """,
)
def purchase_acceleration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are customers reordering faster over time?  Per customer with
    ≥ {MIN_ORDERS} orders, compare the average reorder gap in the
    FIRST half of their gap sequence against the LAST half (equal
    halves of h = ⌊n/2⌋ gaps, middle gap ignored when odd) and roll up
    per nation: the share of customers whose gaps shrank and the mean
    gap change in days — the engagement-trajectory split of
    purchase_gaps' static percentiles.  Gap extraction is one
    customer-partitioned window over orders (per-customer order counts
    are bounded); half-sums are exact integers, the per-customer delta
    is one shared IEEE tree, and the nation rollup quantizes deltas to
    DECIMAL(38,12).  Customer→nation is a broadcast dim join."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wc = Window.partitionBy("o_custkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap"),
        (F.row_number().over(w) - 1).alias("gi"),
        (F.count(F.lit(1)).over(wc) - 1).alias("ng"),
    ).filter(F.col("gap").isNotNull() & (F.col("ng") >= MIN_ORDERS - 1))
    h = F.expr("ng div 2")
    cust = g.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("gi") <= h, F.col("gap")).otherwise(0))
        .cast("long").alias("s_first"),
        F.sum(
            F.when(F.col("gi") > F.col("ng") - h, F.col("gap")).otherwise(0)
        ).cast("long").alias("s_second"),
        F.max(h).cast("long").alias("h"),
    )
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    scored = (
        cust.join(
            F.broadcast(cu), cust.o_custkey == cu.c_custkey
        )
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .select(
            "n_name",
            (
                F.col("s_second").cast("double") / F.col("h")
                - F.col("s_first").cast("double") / F.col("h")
            ).alias("delta"),
        )
    )
    return scored.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        r4(
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("share_accelerating"),
        r4(
            F.sum(F.col("delta").cast(DEC12)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_gap_change_days"),
    )
