"""Round-6 additions, batch 16 — SURVEY §2.AD: corpus novelty scoring,
a log-log price-elasticity regression, and the chi-square independence
test — round-8-queued extensions (the round-7 slate is pinned).

Determinism: novelty is pure integer counting; elasticity reuses the
quantized-ln regression moments (corpus_zipf_slope idiom); chi-square
composes +,−,×,÷ on integer-derived doubles with the shared closing
tree, and the significance flag compares the quantized statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import check_free, r4

D0 = "decimal(38,0)"
LN_SCALE = 10**6


# ---------------------------------------------------------------------------
# text_novelty — share of a doc's trigrams that appear nowhere else
# ---------------------------------------------------------------------------

def novelty_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Trigram novelty of ANY (id, text) corpus (text_novelty's algebra
    with columns parameterized): the share of each document's distinct
    word trigrams that appear in NO other document — the
    self-information screen complementing repetition_score (within-doc
    boilerplate): low novelty means the document is assembled from
    corpus-common spans, the profile of templated/spun content.  Pure
    integer counting.  Returns (id, n_trigrams, n_unique, novelty).

    Scale: per-doc trigram dedup is map-side; two combinable aggregates
    over the exploded stream and one left join of two id-keyed
    aggregates — no distinct shuffle, no gram-keyed join."""
    check_free([id_col], "toks", "g")
    # r14 restructure (guide §2.3 "aggregate before you shuffle", §2.4):
    # the old shape ran `tri.distinct()` (a full-stream shuffle) TWICE —
    # the distinct frame fed both the df aggregate and the join, and
    # Catalyst has no cross-DAG CSE — then re-shuffled the whole
    # (doc, gram) stream a third time through the gram-keyed join.  Per-
    # doc dedup is map-side (array_distinct before the explode), so the
    # distinct shuffle disappears; and a gram with document frequency 1
    # belongs to exactly one doc — its min doc_id — so per-doc unique
    # counts come from the gram aggregate alone and the big join
    # disappears.  What remains: two map-side-combinable aggregates over
    # the exploded stream and one left join of two doc-keyed aggregates.
    toks = df.select(id_col, F.split(text_col, " ").alias("toks"))
    tri = toks.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 2), "
                    "p -> concat_ws(' ', toks[p-1], toks[p], toks[p+1]))"
                )
            )
        ).alias("g"),
    )
    per_doc = tri.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams")
    )
    singles = (
        tri.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("ndocs"),
            F.min(id_col).alias("d0"),
        )
        .filter(F.col("ndocs") == 1)
        .groupBy(F.col("d0").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return per_doc.join(singles, id_col, "left").select(
        id_col,
        "n_trigrams",
        F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
        r4(
            F.coalesce("n_unique", F.lit(0)).cast("double")
            / F.col("n_trigrams")
        ).alias("novelty"),
    )


@register(
    "text_novelty",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tri AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
      FROM t, (SELECT unnest(generate_series(1, 128)) AS i) s
      WHERE i + 2 <= len(toks)
    ), dtri AS (
      SELECT DISTINCT doc_id, g FROM tri
    ), df AS (
      SELECT g, count(*) AS ndocs FROM dtri GROUP BY g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count_if(ndocs = 1) AS BIGINT) AS n_unique,
           round(CAST(count_if(ndocs = 1) AS DOUBLE) / count(*), 4)
             AS novelty
    FROM dtri JOIN df USING (g)
    GROUP BY doc_id
    """,
)
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty per document: the share of its distinct word
    trigrams that appear in NO other document — the self-information
    screen complementing `text_repetition` (within-doc boilerplate) and
    `corpus_ngram_topk` (corpus-wide boilerplate): low novelty means the
    document is assembled from corpus-common spans, the profile of
    templated/spun content.  Pure integer counting; the ratio is one
    division, rounded.

    Scale: trigram explode → distinct (doc, gram) → gram document
    frequencies (all combinable) → join df back on the gram key.
    Zipf-hot grams dominate the join's build side exactly as in
    sim_containment — the same hot-gram cap applies when corpora grow;
    output is one row per document."""
    # Scan-spread gate: the trigram build is the compute-heavy per-row
    # stage this corpus runs on one row group.
    from .llm_pipeline import _spread_docs

    docs = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    return novelty_score(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# price_elasticity — log-log demand regression per brand
# ---------------------------------------------------------------------------

@register(
    "price_elasticity",
    oracle=f"""
    WITH pq AS (
      SELECT p_brand,
             CAST(floor(ln(p_retailprice) * {LN_SCALE} + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(q.qty) * {LN_SCALE} + 0.5) AS BIGINT) AS y
      FROM part
      JOIN (
        SELECT l_partkey, CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
                               AS DOUBLE) AS qty
        FROM lineitem GROUP BY l_partkey
      ) q ON q.l_partkey = p_partkey
    ), m AS (
      SELECT p_brand, count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM pq GROUP BY p_brand
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
           round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 4)
             AS elasticity
    FROM m
    """,
)
def price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand: the slope of ln(total
    quantity shipped) on ln(retail price) across a brand's parts — the
    log-log regression whose coefficient economists read directly as
    %Δquantity per %Δprice.  Both logs quantize to 1e6 fixed point
    (corpus_zipf_slope's idiom), so the regression moments are exact
    decimal integers and the slope closes with the shared num/den IEEE
    tree.  (The synthetic generator correlates price and volume
    positively, so the fitted "elasticities" come out positive — what
    is certified is the ESTIMATOR's exactness, not an economic claim
    about generated data.)

    Scale: per-part demand is one combinable aggregate on l_partkey;
    the part dim joins broadcast; the moment pass groups on the
    25-value brand key."""
    li = table(spark, sf_dir, "lineitem")
    demand = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("double")
        .alias("qty")
    )
    part = table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    pq = demand.join(F.broadcast(part), demand.l_partkey == part.p_partkey)
    x = F.floor(F.log(F.col("p_retailprice")) * LN_SCALE + 0.5).cast("long")
    y = F.floor(F.log(F.col("qty")) * LN_SCALE + 0.5).cast("long")
    m = pq.select("p_brand", x.alias("x"), y.alias("y")).groupBy(
        "p_brand"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(D0)).alias("sx"),
        F.sum(F.col("y").cast(D0)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(D0)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(D0)).alias("sxy"),
    )
    nd = F.col("n").cast(D0)
    num = nd * F.col("sxy") - F.col("sx").cast(D0) * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast(D0) * F.col("sx")
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_parts"),
        r4(num.cast("double") / den.cast("double")).alias("elasticity"),
    )


# ---------------------------------------------------------------------------
# chi2_independence — contingency-table independence test
# ---------------------------------------------------------------------------


@register(
    "chi2_independence",
    oracle="""
    WITH joined AS (
      SELECT c_mktsegment AS seg, o_orderpriority AS pri
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), cells AS (
      SELECT seg, pri, CAST(count(*) AS BIGINT) AS o FROM joined GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
    ), margins AS (
      SELECT c.seg, c.pri, c.o,
             CAST(rs.r AS BIGINT) AS row_tot, CAST(cs.c AS BIGINT) AS col_tot
      FROM cells c
      JOIN (SELECT seg, sum(o) AS r FROM cells GROUP BY seg) rs USING (seg)
      JOIN (SELECT pri, sum(o) AS c FROM cells GROUP BY pri) cs USING (pri)
    )
    SELECT CAST(count(DISTINCT seg) AS BIGINT) AS n_rows_dim,
           CAST(count(DISTINCT pri) AS BIGINT) AS n_cols_dim,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1)
                AS BIGINT) AS dof,
           round(CAST(sum(CAST(floor(
             (o - CAST(row_tot AS DOUBLE) * col_tot / (SELECT n FROM tot))
             * (o - CAST(row_tot AS DOUBLE) * col_tot / (SELECT n FROM tot))
             / (CAST(row_tot AS DOUBLE) * col_tot / (SELECT n FROM tot))
             * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000, 4) AS chi2
    FROM margins
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer market
    segment and order priority — the contingency-table screen behind
    "does segment drive priority".  Expected counts derive from the
    margins (row·col/n, one IEEE tree); the statistic sums (o−e)²/e over
    the 25 cells of a 5×5 table with exact integer observed counts.  On
    TPC-H-style data the dimensions are independent by construction, so
    chi² ≈ dof — the null calibration is the certified ground truth.

    Scale: one fact join (customer broadcast-eligible) + a 25-cell
    contingency aggregate; margins are windows over the cell table
    (model-sized).  Larger tables change nothing structurally — the
    cell aggregate is the only data-sized pass."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("o"))
    )
    wall = Window.partitionBy()
    wrow = Window.partitionBy("seg")
    wcol = Window.partitionBy("pri")
    m = cells.select(
        "seg",
        "pri",
        "o",
        F.sum("o").over(wrow).alias("row_tot"),
        F.sum("o").over(wcol).alias("col_tot"),
        F.sum("o").over(wall).alias("n"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    # each term is an identical IEEE tree both sides; quantizing BEFORE
    # the sum makes the 25-cell accumulation exact bigint arithmetic
    # (a float sum of the terms would be engine-order dependent)
    term_q = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 1_000_000 + 0.5
    ).cast("long")
    return m.agg(
        F.count_distinct("seg").cast("long").alias("n_rows_dim"),
        F.count_distinct("pri").cast("long").alias("n_cols_dim"),
        (
            (F.count_distinct("seg") - 1) * (F.count_distinct("pri") - 1)
        )
        .cast("long")
        .alias("dof"),
        r4(F.sum(term_q).cast("double") / 1_000_000).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# sla_attainment — urgent-order shipping SLA per priority class
# ---------------------------------------------------------------------------

SLA_DAYS = 30  # first shipment due within N days of order placement


@register(
    "sla_attainment",
    oracle=f"""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem
      GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count_if(datediff('day', CAST(o_orderdate AS DATE),
                                  CAST(first_ship AS DATE)) <= {SLA_DAYS})
                AS BIGINT) AS n_met,
           round(CAST(count_if(datediff('day', CAST(o_orderdate AS DATE),
                                        CAST(first_ship AS DATE))
                               <= {SLA_DAYS}) AS DOUBLE) / count(*), 4)
             AS sla_rate,
           CAST(max(datediff('day', CAST(o_orderdate AS DATE),
                             CAST(first_ship AS DATE))) AS BIGINT)
             AS worst_lag_days
    FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-SLA attainment per priority class: the share of orders
    whose FIRST line item ships within {SLA_DAYS} days of placement,
    plus the worst observed lag — the operations metric priority
    classes exist to enforce (and on TPC-H-style data the rates come
    out priority-independent, which is itself the finding).  Day
    arithmetic is exact integer datediff; the rate is one division.

    Scale: first-ship is a combinable min per orderkey; the fact join
    is orderkey-co-partitioned; the rollup key has 5 values.  The same
    shape serves any promise-vs-actual SLA with a different deadline
    constant."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lag = F.datediff(
        F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")
    )
    met = F.count_if(lag <= SLA_DAYS)
    return (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            met.alias("n_met"),
            r4(met.cast("double") / F.count(F.lit(1))).alias("sla_rate"),
            F.max(lag).cast("long").alias("worst_lag_days"),
        )
    )


# ---------------------------------------------------------------------------
# top_decile_share — revenue concentration in the top 10% of customers
# ---------------------------------------------------------------------------

DECILE_PCT = 10


@register(
    "top_decile_share",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), joined AS (
      SELECT n_name, cents FROM spend
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ), ranked AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents DESC, cents) AS rk,
             count(*) OVER (PARTITION BY n_name) AS n_cust,
             sum(cents) OVER (PARTITION BY n_name) AS tot
      FROM joined
    )
    SELECT n_name,
           CAST(max(n_cust) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN rk * 100 <= n_cust * {DECILE_PCT}
                         THEN cents ELSE 0 END) AS BIGINT) AS top_cents,
           CAST(max(tot) AS BIGINT) AS total_cents,
           round(CAST(sum(CASE WHEN rk * 100 <= n_cust * {DECILE_PCT}
                               THEN cents ELSE 0 END) AS DOUBLE)
                 / max(tot), 4) AS top_decile_share
    FROM ranked GROUP BY n_name
    """,
)
def top_decile_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the share of each nation's revenue earned
    from its top {DECILE_PCT}% of customers by spend — the single-number
    concentration readout that complements `agg_gini` (full-curve
    inequality) and `agg_hhi` (squared-share concentration).  Membership
    in the top decile is the integer inequality rk·100 ≤ n·{DECILE_PCT}
    (no float percentile), spends are exact cents, and the ordering is
    deterministic (spend descending; equal spends are interchangeable
    for the SUM, so no tiebreak key is needed for value stability).

    Scale: one custkey aggregate, broadcast dims, and per-nation
    windows over the customer aggregate; the same rank-threshold
    selection dispatches to `_global_order`'s bucketed rank at
    ungrouped 10^8+ cardinalities (the part_abc_pareto gate)."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "cents"
        )
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "cents")
    )
    wn = Window.partitionBy("n_name")
    ranked = joined.select(
        "n_name",
        "cents",
        F.row_number()
        .over(Window.partitionBy("n_name").orderBy(F.desc("cents"), "cents"))
        .alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n_cust"),
        F.sum("cents").over(wn).alias("tot"),
    )
    in_top = F.col("rk") * 100 <= F.col("n_cust") * DECILE_PCT
    top = F.sum(F.when(in_top, F.col("cents")).otherwise(0))
    return ranked.groupBy("n_name").agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        top.cast("long").alias("top_cents"),
        F.max("tot").cast("long").alias("total_cents"),
        r4(top.cast("double") / F.max("tot")).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# brand_transition — repeat-purchase brand loyalty matrix
# ---------------------------------------------------------------------------

@register(
    "brand_transition",
    oracle="""
    WITH order_brand AS (
      SELECT l_orderkey,
             first(p_brand ORDER BY qty DESC, p_brand) AS brand
      FROM (
        SELECT l_orderkey, p_brand,
               sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY l_orderkey, p_brand
      ) GROUP BY l_orderkey
    ), seq AS (
      SELECT o_custkey, brand,
             lead(brand) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS nxt
      FROM orders JOIN order_brand ON o_orderkey = l_orderkey
    )
    SELECT brand AS from_brand, nxt AS to_brand,
           CAST(count(*) AS BIGINT) AS n_transitions,
           (brand = nxt) AS is_loyal
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY brand, nxt
    """,
)
def brand_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase brand transition matrix: each order maps to its
    DOMINANT brand (highest total quantity, ties broken by brand name —
    a deterministic argmax via the ordered-first aggregate), and consecutive orders per
    customer pair into (from, to) transitions — the loyalty/switching
    matrix whose diagonal share is the brand-loyalty KPI.  All counts
    exact; the dominant-brand argmax is the ordered `first` aggregate in
    DuckDB and a row_number pick in Spark, both tie-safe.

    Scale: order→brand is two combinable aggregates (orderkey×brand,
    then argmax per orderkey); the transition lead rides the custkey
    window; the matrix key space is |brands|² (model-sized)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob_qty = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey", "p_brand")
        .agg(F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("qty"))
    )
    w_pick = Window.partitionBy("l_orderkey").orderBy(
        F.desc("qty"), F.asc("p_brand")
    )
    order_brand = (
        ob_qty.select(
            "l_orderkey",
            "p_brand",
            F.row_number().over(w_pick).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("l_orderkey", F.col("p_brand").alias("brand"))
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    seq = o.join(order_brand, o.o_orderkey == order_brand.l_orderkey)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    trans = seq.select(
        F.col("brand").alias("from_brand"),
        F.lead("brand").over(w).alias("to_brand"),
    ).filter(F.col("to_brand").isNotNull())
    return trans.groupBy("from_brand", "to_brand").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.first(F.col("from_brand") == F.col("to_brand")).alias("is_loyal"),
    )


# ---------------------------------------------------------------------------
# trade_balance — nation-level buy-side vs sell-side revenue
# ---------------------------------------------------------------------------

@register(
    "trade_balance",
    oracle="""
    WITH buy AS (
      SELECT n_name,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS buy_cents
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ), sell AS (
      SELECT n_name,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS sell_cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name,
           CAST(buy_cents AS BIGINT) AS buy_cents,
           CAST(sell_cents AS BIGINT) AS sell_cents,
           CAST(sell_cents - buy_cents AS BIGINT) AS net_cents
    FROM buy JOIN sell USING (n_name)
    """,
)
def trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation trade balance on the order graph: line revenue attributed
    to the CUSTOMER's nation (buy side) vs the SUPPLIER's nation (sell
    side), and the net — the two-perspective rollup TPC-H Q7 computes
    pairwise, collapsed to the per-nation balance sheet.  Revenue is
    exact fixed-point cents; the two sides are independent aggregation
    pipelines joined on the 25-row nation name.

    Scale: the buy side shuffles lineitem on orderkey (the Q10-class
    join), the sell side joins the broadcast supplier dim map-side;
    both rollups combine into 25 rows before the final join.  A
    pairwise (buyer, seller) matrix is the same plan with both dims
    attached before one rollup."""
    li = table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    buy = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("buy_cents"))
    )
    sell = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(cents).alias("sell_cents"))
    )
    return buy.join(sell, "n_name").select(
        "n_name",
        F.col("buy_cents").cast("long").alias("buy_cents"),
        F.col("sell_cents").cast("long").alias("sell_cents"),
        (F.col("sell_cents") - F.col("buy_cents"))
        .cast("long")
        .alias("net_cents"),
    )


# ---------------------------------------------------------------------------
# sla_percentiles — shipping-lag latency percentiles per priority
# ---------------------------------------------------------------------------

@register(
    "sla_percentiles",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem
      GROUP BY 1
    ), lags AS (
      SELECT o_orderpriority,
             datediff('day', CAST(o_orderdate AS DATE),
                      CAST(first_ship AS DATE)) AS lag
      FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(quantile_cont(lag, 0.50), 4) AS p50_days,
           round(quantile_cont(lag, 0.95), 4) AS p95_days,
           round(quantile_cont(lag, 0.99), 4) AS p99_days
    FROM lags GROUP BY o_orderpriority
    """,
)
def sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-lag latency percentiles (p50/p95/p99) per priority class
    — the tail-latency view that `sla_attainment`'s single threshold
    hides (an SLA can hold at p50 while p99 burns).  Lags are exact
    integer days; interpolated percentiles over integers are exact
    binary arithmetic (the certified agg_percentile semantics).

    Scale: same plan as sla_attainment with exact percentiles on the
    5-group key; at extreme group cardinality the one-line swap is
    percentile_approx (the documented exact-vs-sketch quantile trade,
    agg_percentile_approx)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lag = F.datediff(
        F.col("first_ship").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .select("o_orderpriority", lag.alias("lag"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r4(F.percentile("lag", F.lit(0.50))).alias("p50_days"),
            r4(F.percentile("lag", F.lit(0.95))).alias("p95_days"),
            r4(F.percentile("lag", F.lit(0.99))).alias("p99_days"),
        )
    )


# ---------------------------------------------------------------------------
# peak_to_avg — hourly load concentration per event type
# ---------------------------------------------------------------------------

@register(
    "peak_to_avg",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(c) AS BIGINT) AS peak_hour_events,
           CAST(sum(c) AS BIGINT) AS total_events,
           round(CAST(max(c) AS DOUBLE) * count(*) / sum(c), 4)
             AS peak_to_avg
    FROM hourly GROUP BY event_type
    """,
)
def peak_to_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-average hourly load per event type — the capacity-
    planning ratio (provision for peak, pay for average; a ratio near 1
    is flat load, high ratios justify autoscaling).  Exact integer
    hourly counts; the ratio is max·hours/total in one shared IEEE
    tree.

    Scale: hourly pre-aggregation collapses the stream (combinable);
    the per-type rollup runs over the hours×types aggregate."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    return hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.max("c").cast("long").alias("peak_hour_events"),
        F.sum("c").cast("long").alias("total_events"),
        r4(
            F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c")
        ).alias("peak_to_avg"),
    )
