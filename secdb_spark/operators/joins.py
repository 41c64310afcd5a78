"""§2.C — Join operators.

Reference semantics: SQLite nested-loop joins over B-tree indexes (the
reference has no join strategies of its own; mount empty — SURVEY §2.C/§4.1).
Spark-first notes per op below. Global strategy for 100 TB:
- dimension tables (region/nation/supplier) are always broadcast — a
  BroadcastHashJoin removes the shuffle of the big fact side entirely;
- fact-fact joins shuffle on the join key; AQE handles skew splitting;
  at production scale bucketing lineitem+orders by orderkey would remove
  that shuffle too (see snk_parquet docstring);
- the as-of join is a union+window formulation (no OSS Spark asof op):
  one shuffle on user_id, no row explosion, works at any scale where a
  per-user partition fits (salt by time-bucket if a single user's events
  exceed executor memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import dsum, dsum_scaled, sql_dsum, sql_dsum_scaled


@register(
    "join_inner",
    oracle=f"""
    SELECT n_name,
           count(*) AS n_orders,
           CAST({sql_dsum_scaled('o_totalprice', 4)} AS DOUBLE) / 10000
             AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE q_join_star: fact ⋈ dim ⋈ dim + agg (revenue by nation).

    Plan (verified via explain at sf0.1, round 6): BOTH dims broadcast —
    nation always (25 rows, explicit), customer by AQE size estimate while
    it fits the threshold — so the only Exchange in the plan is the 25-key
    final aggregate; scans prune to 2 columns each with IsNotNull pushed.
    At 100 TB customer outgrows the broadcast threshold and AQE reverts
    that join to a custkey shuffle, which is the correct plan there; the
    declarative form lets Catalyst pick per scale.

    Revenue accumulates as int64 fixed-point (scale 4 — exact for 2-dp
    money) instead of DECIMAL(38,6): an A/B at sf0.1 measured the decimal
    sum at 2.1× the long sum's wall time on this broadcast-bound query
    (the whole residual vs baseline in rounds 4-5), while the long sum
    stays inside whole-stage codegen.  Presentation is ONE correctly
    rounded double division of the exact integer total — deterministic
    cross-engine.  Overflow bound: per-nation scaled revenue reaches
    ~9e15 of int64's 9.2e18 at the 100 TB point (SF ~100) — 3 orders of
    headroom; the decimal `dsum` path remains the swap-in above that.
    Oracle changed round 6; the driver has since recorded its hash match
    (an oracle change requeues through registry._RECERT_ROUND).
    """
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                dsum_scaled(F.col("o_totalprice"), 4).cast("double") / 10000
            ).alias("revenue"),
        )
    )


@register(
    "join_broadcast",
    oracle=f"""
    SELECT r_name,
           count(*) AS n_suppliers,
           {sql_dsum('s_acctbal')} AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of both dims — the plan has NO shuffle before the
    final (5-group) aggregation; at 100 TB the fact scan streams through
    two BroadcastHashJoins inside one codegen stage."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum(F.col("s_acctbal")).alias("total_bal"),
        )
    )


@register(
    "join_left",
    oracle=f"""
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           {sql_dsum('coalesce(o_totalprice, 0)')} AS total_spent
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer: customers kept even with zero orders (null extension)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("total_spent"),
        )
    )


@register(
    "join_right",
    oracle="""
    SELECT n_name, count(s_suppkey) AS n_suppliers
    FROM supplier
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer: all nations kept, nations with no suppliers count 0."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "join_full",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey
    ), supp AS (
      SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey
    )
    SELECT coalesce(cust.nk, supp.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM cust FULL JOIN supp ON cust.nk = supp.nk
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer of two aggregates with asymmetric key coverage."""
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cust = c.groupBy(F.col("c_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_cust"))
    supp = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_supp"))
    return cust.join(supp, "nk", "full").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS): customer emitted once regardless of match count."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti (NOT EXISTS): customers with no urgent orders (every
    customer has SOME order in this corpus, so the unfiltered anti would
    be vacuously empty)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (tiny×tiny only — a cartesian of large inputs is a
    design error at any scale; Spark would pick BroadcastNestedLoop here)."""
    r = table(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("ak"), F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_regionkey").alias("bk"), F.col("r_name").alias("to_region"))
    return a.crossJoin(b).filter(F.col("ak") != F.col("bk")).select("from_region", "to_region")


@register(
    "join_multikey",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             count(*) AS n_lines,
             {sql_dsum('l_quantity')} AS pair_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT l_orderkey, l_linenumber, pair_qty, n_lines
    FROM lineitem JOIN ps ON l_partkey = ps.pk AND l_suppkey = ps.sk
    WHERE n_lines >= 3
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi join (2-column key): lineitem back-joined to its
    own (partkey, suppkey) aggregate. Both sides hash-partition on the
    SAME composite key, so Spark reuses one Exchange per side."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_quantity")).alias("pair_qty"),
    )
    return (
        li.join(ps, (li.l_partkey == ps.pk) & (li.l_suppkey == ps.sk))
        .filter(F.col("n_lines") >= 3)
        .select("l_orderkey", "l_linenumber", "pair_qty", "n_lines")
    )


@register(
    "join_theta",
    oracle="""
    SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
           a.p_retailprice AS price_a, b.p_retailprice AS price_b
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
     AND b.p_retailprice BETWEEN a.p_retailprice - 5 AND a.p_retailprice + 5
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (theta) join: same-brand parts within a ±5 price band. The
    equi-component (brand) keeps it a hash join with a post-filter rather
    than a nested loop — the scalable shape for band joins (pure theta
    would be BroadcastNestedLoop; with no small side, pre-bucket the price
    into band-width buckets and equi-join on bucket±1)."""
    p = table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_brand").alias("brand_a"),
        F.col("p_partkey").alias("pk_a"),
        F.col("p_retailprice").alias("price_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand_b"),
        F.col("p_partkey").alias("pk_b"),
        F.col("p_retailprice").alias("price_b"),
    )
    return a.join(
        b,
        (F.col("brand_a") == F.col("brand_b"))
        & (F.col("pk_a") < F.col("pk_b"))
        & F.col("price_b").between(F.col("price_a") - 5, F.col("price_a") + 5),
    ).select("pk_a", "pk_b", "price_a", "price_b")


@register(
    "join_self",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: event pairs by the same user within 5 minutes."""
    ev = table(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("ts_b") >= F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
        )
        .select(
            "id_a",
            "id_b",
            "user_id",
            (F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("gap_us"),
        )
    )


@register(
    "join_asof",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts,
             CASE WHEN event_type = 'view' THEN event_id END AS view_id,
             event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT *,
             last_value(view_ts IGNORE NULLS) OVER w AS asof_view_ts,
             last_value(view_id IGNORE NULLS) OVER w AS asof_view_id
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           asof_view_id, asof_view_ts
    FROM filled WHERE event_type = 'purchase'
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (models "latest fact as of filing date" — SURVEY §1.1.5):
    each purchase matched to the latest STRICTLY PRIOR view by the same
    user. No native OSS Spark asof operator -> union-tag + last_value
    window (frame ends at 1 PRECEDING so same-timestamp events never
    self-match; event_id breaks ts ties both sides).

    Scale: one shuffle on user_id, sort within partition — same cost
    class as any windowed op; no row explosion unlike a range-join
    formulation."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    filled = tagged.withColumn(
        "asof_view_ts", F.last("view_ts", ignorenulls=True).over(w)
    ).withColumn("asof_view_id", F.last("view_id", ignorenulls=True).over(w))
    return filled.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "asof_view_id",
        "asof_view_ts",
    )


@register(
    "join_interval",
    oracle="""
    WITH sessions AS (
      SELECT user_id,
             min(ts) AS s_start,
             min(ts) + INTERVAL 2 HOUR AS s_end
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, s.s_start
    FROM events e JOIN sessions s
      ON e.user_id = s.user_id
     AND e.ts >= s.s_start AND e.ts < s.s_end
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join: events falling inside each user's opening
    2-hour window. Equi-key (user) + range predicate — hash join then
    filter; OSS Spark has no range-join optimization (Databricks hint
    only), so keeping an equi component is the scalable formulation."""
    ev = table(spark, sf_dir, "events")
    sessions = ev.groupBy(F.col("user_id").alias("s_user")).agg(
        F.min("ts").alias("s_start")
    )
    sessions = sessions.withColumn("s_end", F.col("s_start") + F.expr("INTERVAL 2 HOURS"))
    return (
        ev.join(
            sessions,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("ts") >= F.col("s_start"))
            & (F.col("ts") < F.col("s_end")),
        )
        .select("user_id", "event_id", "s_start")
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN ts END AS view_ts,
             CASE WHEN event_type = 'view' THEN event_id END AS view_id,
             event_type
      FROM events WHERE event_type IN ('view', 'purchase')
    ), filled AS (
      SELECT *,
             last_value(view_ts IGNORE NULLS) OVER w AS asof_view_ts,
             last_value(view_id IGNORE NULLS) OVER w AS asof_view_id
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN asof_view_ts >= ts - INTERVAL 1 HOUR
                THEN asof_view_id END AS asof_view_id,
           CASE WHEN asof_view_ts >= ts - INTERVAL 1 HOUR
                THEN asof_view_ts END AS asof_view_ts
    FROM filled WHERE event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE: latest prior view, but only if within 1
    hour ("latest filing as of date D, no staler than N" — the reference's
    real financial query shape; an unbounded as-of would happily join a
    years-old fact). Same single-shuffle window formulation as join_asof,
    with the tolerance applied as a post-filter on the matched timestamp
    (cheaper than restricting the frame: the window state is unchanged and
    the bound is one comparison per row)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("view_ts"),
        F.when(F.col("event_type") == "view", F.col("event_id")).alias("view_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    filled = tagged.withColumn(
        "raw_view_ts", F.last("view_ts", ignorenulls=True).over(w)
    ).withColumn("raw_view_id", F.last("view_id", ignorenulls=True).over(w))
    in_tolerance = F.col("raw_view_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return filled.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_tolerance, F.col("raw_view_id")).alias("asof_view_id"),
        F.when(in_tolerance, F.col("raw_view_ts")).alias("asof_view_ts"),
    )


@register(
    "join_skew_salted",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted shuffle join — the hand-rolled skew mitigation.

    At 100 TB a handful of hot orderkeys (or, more realistically, hot
    join keys in web/event data) overflow a single shuffle partition.
    AQE's skew-join split handles this automatically when
    `spark.sql.adaptive.skewJoin.enabled` is on, but only at
    sort-merge-join boundaries; this op demonstrates the explicit
    technique for the cases AQE can't see (e.g. a key so hot that even
    a split partition's build side is a problem):

    - probe side (lineitem, the big/skewed one) gains a deterministic
      salt in [0, N) derived from xxhash64 of the full row key — NOT
      rand(), so retried tasks re-produce identical salts and the op
      stays replayable/exactly-once under speculative execution;
    - build side (filtered orders) is replicated N times via
      explode(sequence(0, N-1)) — each hot key's rows now land in N
      shuffle partitions instead of one, bounding the per-partition
      row count at rows(key)/N;
    - join on (key, salt), then aggregate; the (key, salt) join is
      provably equivalent to the plain key join because each probe row
      matches exactly the one replica carrying its salt.

    The oracle is the UNsalted join — the certification is precisely
    that salting does not change the result.  N=8 here; at production
    scale N is sized to cap(rows_of_hottest_key / N) at a partition
    budget, or derived per-key from a pre-computed hot-key histogram
    (broadcast), salting ONLY the hot keys to avoid N-fold replication
    of the whole build side.
    """
    n_salt = 8
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    probe = li.withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt)),
    )
    build = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    # merge hint: at bench scale Catalyst would broadcast the filtered
    # build side, which silently removes the very shuffle the salt is
    # spreading; the hint pins the sort-merge path so the exercised plan
    # is the one the technique exists for (both sides large at 100 TB).
    joined = probe.join(
        build.hint("merge"),
        (probe.l_orderkey == build.o_orderkey) & (probe.salt == build.salt),
        "inner",
    )
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "join_fuzzy",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: part-name pairs within edit distance 2,
    candidates restricted to the same brand block (entity resolution /
    catalog dedup).  The naive form is an O(n²) cross join with a
    per-pair Levenshtein; the blocked form hash-partitions BOTH sides on
    the block key so the quadratic term is per-block, and a cheap
    length-band predicate (|len(a)-len(b)| <= d is a necessary condition
    for edit distance <= d) discards most candidates before the O(len²)
    DP runs — all JVM-side (`F.levenshtein` with a threshold argument
    short-circuits the DP at distance > 2).  At 100 TB the block key is
    chosen so the hottest block's pair count fits a task (brand+length
    bucket, or a first-token prefix); skewed blocks split by salting the
    left side, exactly as join_skew_salted does."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length("a.p_name") - F.length("b.p_name")) <= 2
            )
            & (F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2) >= 0),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
            .cast("bigint")
            .alias("edit_dist"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey, nullif(o_custkey % 10, 0) AS digit
      FROM orders
    ), dim AS (
      SELECT * FROM (VALUES
        (CAST(NULL AS BIGINT), 'unknown'), (1, 'one'), (2, 'two'),
        (3, 'three'), (4, 'four'), (5, 'five'), (6, 'six'),
        (7, 'seven'), (8, 'eight'), (9, 'nine')
      ) AS t(digit, label)
    )
    SELECT d.label, CAST(count(*) AS BIGINT) AS n_orders
    FROM keyed k JOIN dim d ON k.digit IS NOT DISTINCT FROM d.digit
    GROUP BY d.label
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match the dimension's NULL row instead of silently dropping — the
    standard "unknown member" dimensional-modeling pattern (fact rows
    with missing keys still land in a reporting bucket).  The fact key
    is nullif(custkey % 10, 0), so ~10% of rows carry NULL and the
    'unknown' bucket is populated.

    Spark plans eqNullSafe equi-keys into a regular hash join (the
    comparison is part of the join key, not a filter), so the broadcast
    dim costs the same as a plain equi-join — no fallback to
    BroadcastNestedLoop."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 10, F.lit(0)).alias("digit")
    )
    names = [
        (None, "unknown"), (1, "one"), (2, "two"), (3, "three"),
        (4, "four"), (5, "five"), (6, "six"), (7, "seven"),
        (8, "eight"), (9, "nine"),
    ]
    dim = spark.createDataFrame(names, "digit bigint, label string")
    return (
        o.join(F.broadcast(dim), o.digit.eqNullSafe(dim.digit))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
