"""Round-6 additions, batch 13 — SURVEY §2.AA: incremental view
maintenance (delta-merge aggregate update certified equal to the full
recompute), order-independent result-set fingerprinting, and the
ties-included top-k variant.

Design rules as everywhere in this package: one declarative DataFrame
plan per op, every value reaching the driver exact integer or an
identical IEEE tree in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from .pipeline_extras import _hash_bucket, _sql_hash_bucket

IVM_CUTOFF = "2000-01-01"  # base = before, delta batch = on/after


# ---------------------------------------------------------------------------
# ivm_delta_agg — incremental aggregate maintenance == full recompute
# ---------------------------------------------------------------------------

@register(
    "ivm_delta_agg",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_c
    FROM orders GROUP BY 1
    """,
)
def ivm_delta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of the monthly revenue aggregate:
    the engine computes the BASE state (orders before {IVM_CUTOFF}) and
    a DELTA batch (on/after) as separate partial aggregates, then
    produces the updated view by MERGING states — re-aggregating the
    union of (month, count, sum) partials — never rescanning base rows.
    The oracle is the full recompute over all orders, so the driver
    certifies the IVM invariant itself: merge(base_state, delta_state)
    ≡ full(base ∪ delta), which holds exactly because count/sum are
    commutative monoids and the sums are fixed-point bigints.

    Scale: in production the base state is a STORED table (the
    materialized view); an update costs one scan of the delta batch +
    a |months|-key merge — O(|delta| + |state|), independent of base
    size.  This demo computes the base state in-plan for
    self-containment, but the merge step is the certified artifact;
    swapping the base side for `spark.read` of the stored state is the
    one-line production change.  Non-monoid aggregates (exact distinct,
    medians) need retraction-aware state — that boundary is what makes
    this op's monoid formulation the scalable default."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    month = F.date_trunc("month", "o_orderdate").alias("month")

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("revenue_c"),
        )

    base = state(o.filter(F.col("o_orderdate") < IVM_CUTOFF))
    delta = state(o.filter(F.col("o_orderdate") >= IVM_CUTOFF))
    return (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_c").cast("long").alias("revenue_c"),
        )
    )


# ---------------------------------------------------------------------------
# result_fingerprint — order-independent result-set fingerprint
# ---------------------------------------------------------------------------

FP_SPACE = 1_000_000_007


@register(
    "result_fingerprint",
    oracle=f"""
    WITH res AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS revenue_c
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({_sql_hash_bucket(
               "n_name || '|' || CAST(n_orders AS VARCHAR)"
               " || '|' || CAST(revenue_c AS VARCHAR)", FP_SPACE)})
                AS BIGINT) AS fingerprint
    FROM res
    """,
)
def result_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent fingerprint of a query result: each row
    canonicalizes to a delimited string, hashes through md5, and the
    bucket values SUM (commutative — partition order cannot change the
    fingerprint).  This is the cache-invalidation / snapshot-compare
    primitive: two engines, two runs, or two days agree on a result iff
    (n_rows, fingerprint) agree, without shipping the result anywhere —
    the same methodology the verify driver itself uses, here exposed as
    an operator over the revenue-by-nation rollup (fixed-point cents in
    the canonical string, so no float formatting divergence).

    Scale: the fingerprint is a 1-row aggregate over the result —
    map-side combinable; fingerprinting a 10^9-row result costs one
    extra projection + sum on top of producing it.  Collision bound:
    sums of ~10^9-bucket hashes collide with probability ~n²/2·10⁻⁹ per
    comparison — pair it with n_rows, or widen to two independent hash
    sums for audit-grade use."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    res = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .alias("revenue_c"),
        )
    )
    canon = F.concat_ws(
        "|",
        F.col("n_name"),
        F.col("n_orders").cast("string"),
        F.col("revenue_c").cast("string"),
    )
    return res.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_hash_bucket(canon, FP_SPACE)).cast("long").alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# win_topk_ties — RANK-based top-k (ties included)
# ---------------------------------------------------------------------------

TOPK_TIES = 2


def topk_ties(
    df: DataFrame,
    key_col: str,
    by: list[str],
    k: int,
    desc: bool = True,
) -> DataFrame:
    """Ties-INCLUDED top-k per group of ANY frame (win_topk_ties'
    algebra with columns parameterized): `rank() <= k` admits every row
    tying the k-th value — the semantics a leaderboard or compliance
    report needs, vs row_number (grouped_topk) which silently drops
    tied rows by an arbitrary key.  Because rank assigns equal rows
    equal ranks, the result is deterministic WITHOUT a tiebreak column
    — the VALUE ordering alone defines the set; output size varies with
    tie density.  Returns the input rows + `rk`.

    Scale: one `by` exchange; Spark's WindowGroupLimit pushes the
    rank()<=k bound into the sort (bounded per-partition state)."""
    order = F.col(key_col).desc() if desc else F.col(key_col).asc()
    w = Window.partitionBy(*by).orderBy(order)
    return (
        df.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


@register(
    "win_topk_ties",
    oracle=f"""
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC) AS rk
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {TOPK_TIES}
    """,
)
def win_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ties-INCLUDED top-{TOPK_TIES} orders by price per customer: the
    `topk_ties` kernel.  `rank() <= k` admits every order tying the k-th
    value, vs `row_number() <= k` (win_topk_group) which silently drops
    tied rows by an arbitrary key — here the VALUE ordering alone
    defines the set, and the output size varies with tie density (the
    semantic difference this op exists to pin)."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return topk_ties(o, "o_totalprice", by=["o_custkey"], k=TOPK_TIES)
