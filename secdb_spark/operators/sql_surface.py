"""SQL-surface parity operators.

The reference's entire query surface is plain SQL executed by SQLite
(SURVEY §1.1: "SECDB adds no query language of its own"). These ops
demonstrate that surface directly: each runs ANSI SQL through spark.sql()
over the registered views — the exact workflow a SECDB user has today —
covering the SQL-only constructs not exercised by the DataFrame ops:
CTEs, correlated scalar subqueries (Catalyst decorrelates them —
SURVEY §4.2), IN/EXISTS subqueries, derived tables, window clauses, and
all 22 TPC-H query shapes (adapted where the testdata schema lacks
partsupp / l_commitdate / l_receiptdate / p_container — each adaptation
preserves the original's join topology and decorrelation pattern and is
noted at the op).

Oracle texts are near-identical to the Spark SQL (dialect-shared subset),
which is itself the parity claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views
from ..registry import register
from ._helpers import sql_dsum

def _sql_op(name: str, spark_sql: str, oracle: str | None = None):
    """Register an op whose implementation is literally spark.sql(text)."""

    @register(name, oracle=oracle if oracle is not None else spark_sql)
    def run(spark: SparkSession, sf_dir: str, _q=spark_sql) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(_q)

    run.__name__ = name
    return run


# -- CTE + window over derived table ----------------------------------------
_sql_op(
    "sql_cte",
    """
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT mo, n_orders,
           n_orders - lag(n_orders) OVER (ORDER BY mo) AS delta
    FROM monthly
    """,
)

# -- correlated scalar subquery (Catalyst: RewriteCorrelatedScalarSubquery) --
_sql_op(
    "sql_subquery_scalar",
    """
    SELECT c_custkey, c_acctbal,
           (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
    FROM customer
    WHERE c_acctbal > 9000
    """,
)

# -- IN subquery -------------------------------------------------------------
_sql_op(
    "sql_subquery_in",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    """,
)

# -- EXISTS with compound correlation ---------------------------------------
_sql_op(
    "sql_exists",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_suppkey = s_suppkey AND l_discount >= 0.09
    )
    """,
)

# -- TPC-H Q3 shape (shipping priority) -------------------------------------
_sql_op(
    "sql_tpch_q3",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderpriority
    """,
)

# -- TPC-H Q5 shape (local supplier volume by nation) -----------------------
_sql_op(
    "sql_tpch_q5",
    f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)

# -- derived table + HAVING over join ---------------------------------------
_sql_op(
    "sql_derived_table",
    """
    SELECT seg, avg_bal, n
    FROM (
      SELECT c_mktsegment AS seg,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*)) AS avg_bal,
             count(*) AS n
      FROM customer
      GROUP BY c_mktsegment
    ) t
    WHERE n >= 10
    """,
)


# -- TPC-H Q4 shape: order priority with EXISTS + date band ----------------
_sql_op(
    "sql_tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)

# -- TPC-H Q12 shape: two-band CASE counting over a join --------------------
_sql_op(
    "sql_tpch_q12",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)

# -- TPC-H Q13 shape: order-count distribution (left join + double group) ---
_sql_op(
    "sql_tpch_q13",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)

# -- TPC-H Q18 shape: large-volume orders (HAVING subquery feeding IN) ------
# r13 OPTIMIZATION (guide §2.4/§1.2): the textbook IN-subquery form (kept
# verbatim as the oracle below) plans as THREE lineitem scans — Catalyst
# rewrites the IN to a left-semi against a full lineitem aggregate, pushes
# that semi-join to BOTH sides of the orders⋈lineitem join (two duplicate
# sum(l_quantity) aggregates, each its own Exchange), then re-aggregates
# the joined rows per order.  Since o_orderkey is the orders PRIMARY KEY,
# the per-order re-aggregate over joined rows IS the per-l_orderkey
# lineitem aggregate — so the Spark-side text aggregates lineitem ONCE,
# filters the HAVING, and joins orders to attach the header columns:
# 1 lineitem scan + 1 shuffle, qualifying-orders side small enough that
# AQE picks a broadcast join at bench scale and reverts to a key shuffle
# when it grows.  Cross-engine equivalence vs the untouched IN-form
# oracle is re-certified every round (r13 plan diff: 3 scans -> 2,
# 4 Exchange -> 2).
_sql_op(
    "sql_tpch_q18",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM orders
    JOIN (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 150
    ) big ON o_orderkey = l_orderkey
    """,
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 150
    )
    GROUP BY o_orderkey, o_orderdate, o_totalprice
    """,
)

# -- TPC-H Q2 shape: correlated min subquery (pick the cheapest supplier) ---
_sql_op(
    "sql_tpch_q2",
    """
    SELECT p_partkey, p_name, l_suppkey, l_extendedprice
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE l_extendedprice = (
      SELECT min(l2.l_extendedprice) FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
    )
    """,
)


# -- TPC-H Q6 shape: single-scan conditional revenue (round-2 addition) -----
_sql_op(
    "sql_tpch_q6",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)

# -- TPC-H Q10 shape: returned-item revenue, ORDER-BY-complete top-20 -------
_sql_op(
    "sql_tpch_q10",
    f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)

# -- TPC-H Q14 shape: promo revenue share (conditional agg over join) -------
_sql_op(
    "sql_tpch_q14",
    f"""
    SELECT round(
             100.00 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
                    / {sql_dsum('l_extendedprice * (1 - l_discount)')},
             4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)

# -- TPC-H Q19 shape: disjunctive multi-predicate join ----------------------
# (adapted to the testdata columns: p_container/l_shipmode don't exist)
_sql_op(
    "sql_tpch_q19",
    f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1  AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)


# -- TPC-H Q7 shape: cross-nation shipping volume by year -------------------
_sql_op(
    "sql_tpch_q7",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey  = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey  = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)

# -- TPC-H Q15 shape: top supplier by quarterly revenue (CTE used twice) ----
_sql_op(
    "sql_tpch_q15",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)

# -- TPC-H Q17 shape: small-quantity revenue vs correlated decimal avg ------
# avg() on DOUBLE is summation-order-sensitive across engines; the
# correlated threshold uses the decimal-sum convention (§4.4) so the
# comparison itself is bit-identical on both sides.
_sql_op(
    "sql_tpch_q17",
    f"""
    SELECT round({sql_dsum('l_extendedprice')} / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                      / count(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)

# -- TPC-H Q22 shape: high-balance customers with no urgent orders ----------
# (testdata has dense o_custkey coverage — every customer has SOME order —
# so the classic "no orders at all" anti-join is vacuously empty; the
# priority-qualified NOT EXISTS keeps the same decorrelated-anti-join plan
# shape while actually selecting rows.)
_sql_op(
    "sql_tpch_q22",
    f"""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               / count(*)
        FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)


# -- TPC-H Q1 shape: pricing summary report (the flagship, SQL dialect) -----
# agg_group is the DataFrame-API flagship; this is the same shape through
# spark.sql — the surface a SECDB user actually types.
_sql_op(
    "sql_tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           round({sql_dsum('l_quantity')} / count(*), 4) AS avg_qty,
           round({sql_dsum('l_extendedprice')} / count(*), 4) AS avg_price,
           round({sql_dsum('l_discount')} / count(*), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# -- TPC-H Q8 shape: national market share by year --------------------------
_sql_op(
    "sql_tpch_q8",
    f"""
    SELECT o_year,
           round(
             {sql_dsum("CASE WHEN nation = 'NATION_1' THEN volume ELSE 0.0 END")}
               / {sql_dsum('volume')},
             4) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem  ON p_partkey  = l_partkey
      JOIN supplier  ON s_suppkey  = l_suppkey
      JOIN orders    ON l_orderkey = o_orderkey
      JOIN customer  ON o_custkey  = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND p_type = 'STANDARD'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)

# -- TPC-H Q9 shape: product-type profit by nation and year -----------------
# (no partsupp table in the testdata: supply cost proxied as a fixed
# fraction of p_retailprice — preserves the 4-way join + signed-sum shape)
_sql_op(
    "sql_tpch_q9",
    f"""
    SELECT nation, o_year, {sql_dsum('amount')} AS sum_profit
    FROM (
      SELECT n_name AS nation,
             EXTRACT(YEAR FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey  = l_partkey
      JOIN supplier ON s_suppkey  = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)

# -- TPC-H Q11 shape: important inventory value (partsupp -> lineitem) ------
# HAVING compares two decimal-exact sums cast to DOUBLE (bit-identical
# cross-engine), so the threshold boundary is tie-safe.
_sql_op(
    "sql_tpch_q11",
    f"""
    SELECT l_partkey AS ps_partkey,
           {sql_dsum('l_extendedprice')} AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY l_partkey
    -- the official fraction is 0.0001/SF (scale-dependent by design);
    -- re-expressed scale-invariantly as "3x the average part's value"
    HAVING {sql_dsum('l_extendedprice')} > (
      SELECT 3.0 * {sql_dsum('l_extendedprice')} / count(DISTINCT l_partkey)
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
    )
    """,
)

# -- TPC-H Q16 shape: supplier-relationship count-distinct ------------------
# ("customer complaints" proxied as negative account balance)
_sql_op(
    "sql_tpch_q16",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)

# -- TPC-H Q20 shape: nested-IN supplier qualification ----------------------
# (availqty > half-of-shipped becomes a HAVING over shipped quantity —
# same double-nested IN + group-HAVING decorrelation shape)
_sql_op(
    "sql_tpch_q20",
    """
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
          )
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        -- scale-invariant threshold: 1.5x the average supplier's shipped
        -- quantity (decimal-exact both sides, so the boundary is tie-safe)
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > (
          SELECT 1.5 * CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                     / count(DISTINCT l_suppkey)
          FROM lineitem
          WHERE l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
            )
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        )
      )
    """,
)

# -- TPC-H Q21 shape: suppliers who shipped last on multi-supplier orders ---
# (no l_commitdate/l_receiptdate in the testdata: "kept the order waiting"
# becomes "shipped strictly last among the order's suppliers" — preserving
# the EXISTS + NOT EXISTS double-correlated anti-join plan shape)
_sql_op(
    "sql_tpch_q21",
    """
    SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey  = l1.l_suppkey
    JOIN orders      ON o_orderkey = l1.l_orderkey
    JOIN nation      ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
      )
    GROUP BY s_name, n_name
    """,
)


# -- SQL-dialect window functions (the reference user's idiom) --------------
_sql_op(
    "sql_window",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER w AS rn,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                        OVER (PARTITION BY o_custkey) AS DOUBLE), 4) AS cust_total,
           -- delta vs avg: round() tie semantics differ across engines, so
           -- quantize with the floor fixed-point convention (§4.4); the
           -- input double is bit-identical (decimal window sum / count)
           CAST(floor((o_totalprice
                 - CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                          OVER (PARTITION BY o_custkey) AS DOUBLE)
                   / count(*) OVER (PARTITION BY o_custkey)) * 10000
                 + 0.5) AS BIGINT) AS delta_vs_avg_e4
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)


# -- recursive CTE (Spark 4's WITH RECURSIVE; SQLite has had it for years,
# so it is part of the reference user's SQL surface) -------------------------
# A January-1995 date spine generated by recursion, left-joined to orders so
# empty days survive with n_orders = 0 — the SQL-native gap-fill idiom
# (rollup_gapfill is the DataFrame-native counterpart). Dialect note: Spark
# steps with date_add(d, 1), DuckDB with d + INTERVAL 1 DAY; the day is cast
# to TIMESTAMP on output so both engines canonicalize identically.
_sql_op(
    "sql_recursive_cte",
    """
    WITH RECURSIVE spine AS (
      SELECT DATE '1995-01-01' AS d
      UNION ALL
      SELECT date_add(d, 1) FROM spine WHERE d < DATE '1995-01-31'
    )
    SELECT CAST(d AS TIMESTAMP) AS day, count(o_orderkey) AS n_orders
    FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
    GROUP BY d
    """,
    oracle="""
    WITH RECURSIVE spine AS (
      SELECT DATE '1995-01-01' AS d
      UNION ALL
      SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM spine WHERE d < DATE '1995-01-31'
    )
    SELECT CAST(d AS TIMESTAMP) AS day, count(o_orderkey) AS n_orders
    FROM spine LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
    GROUP BY d
    """,
)


# -- LATERAL correlated derived table (Spark 4 + DuckDB both support) --------
# Top-2 orders per region's first customer cohort: the LATERAL subquery
# re-runs per outer row — Catalyst decorrelates it to a ranked join, which
# is exactly the plan a hand-written window top-k would get.
_sql_op(
    "sql_lateral",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_custkey <= 100
    """,
)

# -- PIVOT clause (Spark SQL syntax; oracle = portable CASE aggregation) -----
_sql_op(
    "sql_pivot",
    """
    SELECT * FROM (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS DECIMAL(38,6)) AS q
      FROM lineitem
    )
    PIVOT (
      CAST(sum(q) AS DOUBLE) FOR l_linestatus IN ('O' AS qty_o, 'F' AS qty_f)
    )
    """,
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(38,6)) END)
                AS DOUBLE) AS qty_o,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(38,6)) END)
                AS DOUBLE) AS qty_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# -- listagg WITHIN GROUP (Spark 4) vs DuckDB string_agg ORDER BY ------------
_sql_op(
    "agg_listagg",
    """
    SELECT n_regionkey,
           listagg(n_name, ';') WITHIN GROUP (ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ';' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)

# -- GROUP BY ALL (dialect-shared modern shorthand) --------------------------
_sql_op(
    "sql_group_by_all",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ALL
    """,
)

# -- inline VALUES derived table (constant dim seeding, dialect-shared) -----
# The canonical "band lookup without a table": an inline VALUES relation
# joined as a range dimension.  Both engines parse the identical text;
# Spark folds the 4-row relation into a LocalRelation and broadcasts it,
# so the scan side never shuffles — the pattern to seed tier/band dims at
# 100 TB instead of materializing tiny parquet files.
_sql_op(
    "sql_values_inline",
    """
    SELECT t.tier, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
    FROM customer
    JOIN (VALUES ('debt',   -100000.0,     0.0),
                 ('bronze',       0.0,  3000.0),
                 ('silver',    3000.0,  7000.0),
                 ('gold',      7000.0, 100000.0)) AS t(tier, lo, hi)
      ON c_acctbal >= t.lo AND c_acctbal < t.hi
    GROUP BY t.tier
    """,
)

# -- ORDER BY ALL (modern shorthand, dialect-shared) ------------------------
# Spark 4 and DuckDB both support the ALL ordering shorthand; the driver
# compares order-insensitively, so this op certifies the SURFACE parses
# and returns the identical relation, with the deterministic total-order
# semantics exercised by the suite's sort_multi pins.
_sql_op(
    "sql_order_by_all",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)

# -- LIMIT / OFFSET pagination (dialect-shared) -----------------------------
# Deterministic pagination requires a COMPLETE order (tie-safe key); the
# page is then a pure function of the data — the keyset/offset contract
# every API backend needs.  Spark 4 parses OFFSET natively.  At scale,
# deep OFFSET pages degrade (the sort must still produce-and-discard the
# prefix); production pagination keyset-seeks instead (WHERE key > last),
# which is the same ORDER BY with a pushed-down range predicate.
_sql_op(
    "sql_offset_fetch",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)

# -- named WINDOW clause (SQL:2003 WINDOW w AS ...) -------------------------
# One window definition shared by several functions — the surface that
# keeps multi-metric window queries readable AND plans them as a single
# Window node over one (custkey) shuffle+sort: Catalyst resolves every
# OVER w against the same spec, so adding metrics adds zero Exchanges.
# High-cardinality partition key (scale-safe window class).
_sql_op(
    "sql_named_window",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           row_number() OVER w AS seq,
           lag(o_totalprice) OVER w AS prev_price,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER wf
                      AS DOUBLE), 4) AS run_total
    FROM orders
    WHERE o_custkey < 500
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)

# -- RANGE frame over a time interval (dialect-shared) ----------------------
# The time-based sliding window every monitoring query wants: RANGE
# BETWEEN INTERVAL ... PRECEDING on a timestamp ORDER BY — calendar gaps
# shorten the frame automatically (unlike ROWS).  Partitioned per user:
# high-cardinality keys, the scale-safe window class.  The inner decimal
# cast keeps the frame sum on the exact path.
_sql_op(
    "sql_range_interval",
    """
    SELECT user_id, event_id, ts,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) OVER (
                   PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                         AND CURRENT ROW) AS DOUBLE), 4) AS sum_1h
    FROM events
    WHERE user_id < 200
    """,
)

# -- Spark 4 pipe-syntax SQL (|>) --------------------------------------------
# Spark 4.0 added SQL pipe syntax (the linear FROM ... |> WHERE ...
# |> AGGREGATE composition model popularized by GoogleSQL); this op runs
# the TPC-H Q1 pricing-summary shape through it — same result set as the
# classic form, proving the surface routes through the same Catalyst
# plan.  DuckDB has no pipe dialect, so the oracle is the equivalent
# ANSI text (the one case in this file where the two texts differ by
# construction).
_sql_op(
    "sql_pipe_syntax",
    """
    FROM lineitem
    |> WHERE l_shipdate <= DATE '1998-09-01'
    |> AGGREGATE CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_qty,
                 CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev,
                 CAST(count(*) AS BIGINT) AS n_rows
       GROUP BY l_returnflag, l_linestatus
    |> SELECT l_returnflag, l_linestatus, round(sum_qty, 4) AS sum_qty,
              round(sum_rev, 4) AS sum_rev, n_rows
    """,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 4)
             AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_rev,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# -- Spark 4 VARIANT type (semi-structured without a schema) -----------------
# parse_json() -> VARIANT + variant_get() typed extraction is Spark 4's
# answer to schema-on-read JSON columns (shredded binary encoding, no
# per-row string re-parse downstream).  The op parses events.props into
# VARIANT once and aggregates typed extractions per event type; the
# oracle reads the same JSON through DuckDB's json_extract_string.
# try_parse_json() feeds the validity count (NULL on malformed input
# instead of failing the query).
_sql_op(
    "fn_variant",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(try_parse_json(props)) AS BIGINT) AS n_valid_json,
           CAST(min(variant_get(parse_json(props), '$.k', 'bigint'))
                AS BIGINT) AS min_k,
           CAST(max(variant_get(parse_json(props), '$.k', 'bigint'))
                AS BIGINT) AS max_k,
           CAST(sum(variant_get(parse_json(props), '$.k', 'bigint'))
                AS BIGINT) AS sum_k,
           CAST(CAST(floor(CAST(sum(variant_get(parse_json(props), '$.k',
                                            'bigint')) AS DOUBLE)
                       / count(*) * 10000 + 0.5) AS BIGINT) / 10000.0
                AS DOUBLE) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid_json,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(CAST(floor(CAST(sum(CAST(json_extract_string(props, '$.k')
                                     AS BIGINT)) AS DOUBLE)
                       / count(*) * 10000 + 0.5) AS BIGINT) / 10000.0
                AS DOUBLE) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
