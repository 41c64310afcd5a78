"""Round-5 additions — market-basket, data-quality, retrieval-scoring and
skew-handling operators (SURVEY §2.O).

Reference semantics: the reference is a rebuilt-monthly analytic store
queried with plain SQL (SURVEY §1.1/§3.1 — mount empty); beyond the §2
inventory these are the remaining lifecycle/analytics shapes its users run
around such a store: co-occurrence mining over order baskets, snapshot
diffing between monthly rebuilds, referential-integrity audits, column
profiling, TF-IDF/MinHash retrieval scoring for the documents table, and
an explicitly salted join demonstrating the hot-key strategy the engine
applies at 100 TB.

Scale notes (100 TB):
- `basket_copurchase` / `assoc_rules` / `graph_triangles`: pair fan-out is
  per-basket O(k²) with k = basket size (bounded, ~7 for TPC-H orders),
  co-located by the basket key — never a corpus cross join; rules/triangles
  run over the SUPPORT-THRESHOLDED aggregate, orders of magnitude smaller
  than the pair stream.
- `snapshot_diff` is one co-partitioned full-outer join on the business
  key; `fk_integrity` is three left joins each co-partitioned on its FK.
- `data_profile` uses exact count(DISTINCT) per column (one Expand pass) so
  the DuckDB oracle can certify it; the documented 100-TB swap is
  approx_count_distinct / the agg_hll_sketch op — one pass, no Expand.
- `tfidf_topk` broadcasts the vocabulary-bounded idf side onto the tf
  stream (the text_unigram_logprob lesson: hash-joining would shuffle the
  tf stream by token and collapse on Zipf-hot terms).
- `minhash_sig` is one tokenize + one doc_id-partitioned aggregate; the
  md5-min signature is engine-portable (certified against DuckDB).
- `join_salted` splits each hot join key across SALT_BUCKETS reducers
  (fact side salted by row hash, dim side replicated per salt) — identical
  output to the plain join, certified by the plain-SQL oracle.
- `text_pii_scrub` is a fused regexp chain in the scan projection — no
  shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import spread_scan, table
from ..registry import register
from ..session import scratch_dir
from ._helpers import DEC, check_free, dsum, pin, r4, sql_dsum

TOPK_PAIRS = 20
MIN_PAIR_SUPPORT = 2  # baskets a pair must co-occur in (assoc/graph ops)
SALT_BUCKETS = 8
TFIDF_TOPK = 3


def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, part) pairs — the basket/item incidence list."""
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey").distinct()


def _copurchase_pairs(items: DataFrame) -> DataFrame:
    """Unordered co-occurring part pairs per basket (p1 < p2): self-join
    co-partitioned on the basket key, so fan-out is per-basket O(k²) and
    never crosses baskets."""
    a, b = items.alias("a"), items.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
    )


_PAIRS_SQL = """
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, a.l_orderkey AS okey
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


@register(
    "basket_copurchase",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL})
    SELECT p1, p2, count(*) AS n_baskets
    FROM pairs
    GROUP BY p1, p2
    ORDER BY n_baskets DESC, p1, p2
    LIMIT {TOPK_PAIRS}
    """,
)
def basket_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-{TOPK_PAIRS} part pairs most
    often bought in the same order.  One shuffle on the basket key for the
    self-join, map-side-combined pair counts, ORDER-BY-complete top-k
    (ties broken by (p1, p2), §4.4.4)."""
    pairs = _copurchase_pairs(_basket_items(spark, sf_dir))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .orderBy(F.col("n_baskets").desc(), "p1", "p2")
        .limit(TOPK_PAIRS)
    )


@register(
    "assoc_rules",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    icnt AS (SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1),
    pairs AS ({_PAIRS_SQL}),
    pcnt AS (
      SELECT p1, p2, count(*) AS n_pair FROM pairs GROUP BY p1, p2
      HAVING count(*) >= {MIN_PAIR_SUPPORT}
    ),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, n_pair FROM pcnt
      UNION ALL
      SELECT p2, p1, n_pair FROM pcnt
    )
    SELECT antecedent, consequent, n_pair,
           round(CAST(n_pair AS DOUBLE) / ia.n_item, 4) AS confidence,
           round(CAST(n_pair AS DOUBLE) * nb.n_orders
                 / (ia.n_item * ic.n_item), 4) AS lift
    FROM rules
    JOIN icnt ia ON ia.l_partkey = antecedent
    JOIN icnt ic ON ic.l_partkey = consequent
    CROSS JOIN nb
    """,
)
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every part pair with
    support >= {MIN_PAIR_SUPPORT}, both directed rules with confidence
    sup(ab)/sup(a) and lift conf/(sup(b)/N).  The rule set is the
    support-thresholded AGGREGATE (thousands of rows), so the two item-
    frequency joins and the 1-row basket total broadcast onto it; the
    only full-data shuffles are the basket self-join and the item count.
    All inputs to the ratios are exact integers — the divisions are
    single correctly-rounded IEEE ops, identical both engines."""
    # items feeds the basket total + item counts + both self-join legs;
    # icnt and pcnt each feed two consumers — all pinned, so the basket
    # scan and pair stream run once (plan-audit, SCALE.md §50;
    # un-pinned: 7 lineitem scans).
    items = pin(_basket_items(spark, sf_dir))
    nb = items.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    icnt = pin(
        items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    )
    pcnt = pin(
        _copurchase_pairs(items)
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= MIN_PAIR_SUPPORT)
    )
    rules = pcnt.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "n_pair",
    ).unionAll(
        pcnt.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "n_pair",
        )
    )
    ia = icnt.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ic = icnt.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_c")
    )
    return (
        rules.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            r4(F.col("n_pair").cast("double") / F.col("n_a")).alias(
                "confidence"
            ),
            r4(
                F.col("n_pair").cast("double")
                * F.col("n_orders")
                / (F.col("n_a") * F.col("n_c"))
            ).alias("lift"),
        )
    )


@register(
    "graph_triangles",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT p1, p2 FROM pairs GROUP BY p1, p2
      HAVING count(*) >= {MIN_PAIR_SUPPORT}
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.p1 = e1.p2
      JOIN edges e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    )
    SELECT (SELECT count(*) FROM edges) AS n_edges, n_triangles FROM tri
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the thresholded co-purchase graph (edges = part
    pairs co-occurring in >= {MIN_PAIR_SUPPORT} baskets, oriented p1 < p2
    so each triangle is enumerated exactly once).  The classic two-join
    formulation runs over the EDGE AGGREGATE — support thresholding is
    what makes graph ops tractable at scale (the edge set is orders of
    magnitude smaller than the pair stream; at 100 TB the same plan holds
    with the edge list hash-partitioned on the join vertex)."""
    # pinned: the edge aggregate feeds THREE join legs + the edge count
    # (plan-audit, SCALE.md §50; un-pinned the pair stream ran 4x).
    edges = pin(
        _copurchase_pairs(_basket_items(spark, sf_dir))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= MIN_PAIR_SUPPORT)
        .drop("n")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.p1") == F.col("e1.p2"))
        .join(
            e3,
            (F.col("e3.p1") == F.col("e1.p1"))
            & (F.col("e3.p2") == F.col("e2.p2")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(F.broadcast(tri))


@register(
    "snapshot_diff",
    oracle="""
    WITH new_snap AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ), old_snap AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN round(o_totalprice * 1.1, 4)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           o.o_totalprice AS old_price,
           n.o_totalprice AS new_price
    FROM new_snap n
    FULL OUTER JOIN old_snap o ON n.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR n.o_totalprice <> o.o_totalprice
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two monthly rebuilds (the reference store is
    rebuilt from feeds, SURVEY §3.1): full-outer join on the business key,
    emitting added / removed / changed rows with before/after values.
    The previous snapshot is derived deterministically from orders
    (keys % 7 dropped = added since; % 5 repriced = changed).  One
    co-partitioned shuffle on the key; unchanged rows are filtered before
    any downstream work."""
    o = table(spark, sf_dir, "orders")
    new = o.select("o_orderkey", "o_totalprice")
    old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, r4(F.col("o_totalprice") * 1.1)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    n, old_a = new.alias("n"), old.alias("o")
    j = n.join(
        old_a, F.col("n.o_orderkey") == F.col("o.o_orderkey"), "full_outer"
    )
    return j.filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("n.o_totalprice") != F.col("o.o_totalprice"))
    ).select(
        F.coalesce(F.col("n.o_orderkey"), F.col("o.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
        F.col("o.o_totalprice").alias("old_price"),
        F.col("n.o_totalprice").alias("new_price"),
    )


@register(
    "fk_integrity",
    oracle="""
    WITH cust_ok AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
    part_ok AS (SELECT p_partkey FROM part WHERE p_partkey % 89 <> 0)
    SELECT 'orders.o_custkey->customer' AS constraint_name,
           count(*) AS n_checked,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM orders o LEFT JOIN cust_ok c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part', count(*),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part_ok p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders', count(*),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the data-quality gate a rebuilt
    warehouse runs before publishing: per FK constraint, rows checked and
    dangling references found.  Two constraints run against deliberately
    corrupted dimension views (every 97th customer / 89th part dropped)
    so the violation counters are provably exercised; the third
    (lineitem->orders) is clean.  Each check is one co-partitioned left
    join + counting aggregate; the three 1-row results union."""

    def check(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str):
        j = fact.join(dim, fact[fk] == dim[pk], "left")
        return j.agg(
            F.lit(label).alias("constraint_name"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(dim[pk].isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )

    cust_ok = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 != 0)
        .select("c_custkey")
    )
    part_ok = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 89 != 0)
        .select("p_partkey")
    )
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        check(orders, "o_custkey", cust_ok, "c_custkey",
              "orders.o_custkey->customer")
        .unionAll(check(li, "l_partkey", part_ok, "p_partkey",
                        "lineitem.l_partkey->part"))
        .unionAll(check(li, "l_orderkey", orders.select("o_orderkey"),
                        "o_orderkey", "lineitem.l_orderkey->orders"))
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@register(
    "data_profile",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count(*) - count({c}) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null count, exact distinct count, min/max) for
    every orders column — the rebuild-validation report.  ONE scan: all
    per-column aggregates compute in a single agg row (Spark plans the
    multi-distinct via one Expand pass), then stack() unpivots to a row
    per column.  Exact count(DISTINCT) is chosen so the DuckDB oracle can
    certify values; the 100-TB swap is approx_count_distinct (one pass,
    no Expand) — the HLL path is the agg_hll_sketch op."""
    o = table(spark, sf_dir, "orders")
    # scan-spread gate (r14): the multi-distinct plans as an Expand (rows
    # x 7 branches) inside the SCAN stage, and orders is one parquet row
    # group at the benched SFs — the whole Expand+partial-agg ran as ONE
    # task.  Aggregates are order-insensitive, so results are unchanged.
    o = spread_scan(o, sf_dir, "orders", "o_orderkey", 1_000_000)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_val, max_val)"
    )


def tfidf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document on ANY (id, text) table
    (tfidf_topk's algebra with k parameterized): idf quantizes to an
    integer (floor(ln(N/df)*1e6 + 0.5)) so score = tf * idf6 is exact
    bigint arithmetic.  Returns (id_col, term, score, rn).

    Scale shape: ONE tokenize pass (tf pinned, df derived from it);
    the vocabulary-bounded idf side broadcasts onto the tf stream
    (hash-joining would shuffle tf by token and collapse on Zipf-hot
    terms); the top-k window shares the doc partitioning."""
    if k < 1:
        raise ValueError("k must be >= 1")
    check_free([id_col], "term", "tf", "idf6", "score", "rn")
    toks = df.select(
        id_col, F.explode(F.split(text_col, " ")).alias("term")
    )
    # ONE tokenize pass: tf is pinned and df derives from it (each tf
    # row is one distinct (doc, term), so count(*) per term IS the
    # document frequency) — un-pinned, tf and df each re-tokenized the
    # corpus (plan-audit, SCALE.md §50).
    tf = pin(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = dfreq.crossJoin(F.broadcast(nd)).select(
        "term",
        F.floor(
            F.log(F.col("n_docs").cast("double") / F.col("df")) * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("idf6"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        id_col, "term", (F.col("tf") * F.col("idf6")).alias("score")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "score", "rn")
    )


@register(
    "tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * CAST(floor(ln(CAST(nd.n_docs AS DOUBLE) / df.df) * 1000000
                                + 0.5) AS BIGINT) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd
    )
    SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rn FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored
    ) t WHERE rn <= {TFIDF_TOPK}
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} TF-IDF terms per document — the retrieval scoring
    pass over the corpus.  idf is quantized to an INTEGER (floor(ln(N/df)
    * 1e6 + .5)) so score = tf * idf6 is exact bigint arithmetic: ranking
    can never be flipped by cross-engine ln() last-ulp jitter except
    exactly at a floor boundary (accepted-risk class, ADVICE r4).  The
    vocabulary-bounded idf side BROADCASTS onto the tf stream — hash-
    joining would shuffle tf by token and collapse on Zipf-hot terms
    (the text_unigram_logprob lesson); the top-k window shares the
    doc_id partitioning of the tf aggregate."""
    return tfidf(
        table(spark, sf_dir, "documents"), "doc_id", "text", TFIDF_TOPK
    )


MINHASH_SEEDS = ["s0:", "s1:", "s2:", "s3:"]


@register(
    "minhash_sig",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    )
    SELECT doc_id,
           {", ".join(f"min(md5('{s}' || term)) AS sig{i}"
                      for i, s in enumerate(MINHASH_SEEDS))}
    FROM toks
    GROUP BY doc_id
    """,
)
def minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash signatures: sig_i = min over the document's
    distinct terms of md5(seed_i || term).  md5 is bit-identical across
    engines, so — unlike seed-dependent xxhash MinHash (dedup_near's R
    class) — this variant certifies against the DuckDB oracle exactly.
    One tokenize + one doc_id-partitioned aggregate (all four mins in the
    same pass); at 100 TB the md5s cost ~4 hashes/token, embarrassingly
    parallel, and band-bucketing on (sig_i) downstream is a plain
    groupBy."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    return toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(s), F.col("term")))).alias(f"sig{i}")
            for i, s in enumerate(MINHASH_SEEDS)
        ]
    )


@register(
    "join_salted",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n_items,
           round({sql_dsum('l_extendedprice')}, 4) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-fact join: the lineitem side's join key gains a
    deterministic row-hash salt in [0, {SALT_BUCKETS}), the orders side
    replicates once per salt value, and the join runs on (key, salt) —
    splitting any hot orderkey across {SALT_BUCKETS} reducers instead of
    collapsing one.  Output is IDENTICAL to the plain join (the oracle is
    the plain SQL join), which is the whole point: salting is a physical
    strategy, not a semantic change.  Cost: the replicated side's shuffle
    volume x{SALT_BUCKETS} — the standard trade when AQE skew-join can't
    see the skew (e.g. pre-AQE stages or map-side spill pressure)."""
    li = table(spark, sf_dir, "lineitem").withColumn(
        "_salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS)),
    )
    o = table(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    # shuffle_hash hint: at test scale Catalyst would broadcast the
    # replicated orders side, silently bypassing the salted exchange this
    # op exists to demonstrate (a broadcast join has no reducer skew to
    # fix); the hint pins the (key, salt)-partitioned path a 100-TB
    # fact-fact join would take (plan-pinned in tests/test_plans.py).
    j = li.join(
        o.hint("shuffle_hash"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (li["_salt"] == o["_salt"]),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        r4(dsum(F.col("l_extendedprice"))).alias("sum_price"),
    )


def ohlc(
    df: DataFrame,
    val_col: str,
    order_col: str,
    bucket_col: str,
    by: list[str] | None = None,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """OHLC resampling of ANY tick frame (ts_ohlc's algebra with columns
    parameterized) — the financial bar-chart aggregate: per (by, bucket),
    the first/last/extreme values plus tick count and summed volume.
    Pre-compute the bucket column (e.g. date_trunc('hour', ts)); pass
    tie_cols so open/close are total-order deterministic.  Open/close
    come from tie-safe row_number flags folded into the same aggregate —
    both windows and the groupBy share one (by, bucket) partitioning, so
    the whole kernel is a single Exchange.  Open/close/high/low are
    UNROUNDED single values; only the order-sensitive volume sum goes
    through the decimal quantizer.  Returns
    (by..., bucket, open, high, low, close, n_ticks, volume)."""
    by = by or []
    tie_cols = tie_cols or []
    check_free(df.columns, "rn_a", "rn_d")
    pw = Window.partitionBy(*by, bucket_col)
    w_a = pw.orderBy(F.col(order_col).asc(), *[F.col(c).asc() for c in tie_cols])
    w_d = pw.orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tie_cols]
    )
    flagged = df.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return flagged.groupBy(*by, bucket_col).agg(
        F.max(F.when(F.col("rn_a") == 1, F.col(val_col))).alias("open"),
        F.max(val_col).alias("high"),
        F.min(val_col).alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col(val_col))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        r4(dsum(F.col(val_col))).alias("volume"),
    )


@register(
    "ts_ohlc",
    oracle=f"""
    WITH flagged AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_ticks,
           round({sql_dsum('value')}, 4) AS volume
    FROM flagged
    GROUP BY event_type, bucket
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling (the financial bar-chart aggregate): per event type
    and hour, the first/last/extreme values plus tick count and summed
    volume.  Open/close come from tie-safe row_number flags ((ts,
    event_id) total order, §4.4.3) folded into the same aggregate — both
    windows and the groupBy share one (event_type, bucket) partitioning,
    so the whole op is a single Exchange.  Open/close/high/low are
    UNROUNDED single values (bit-identical cross-engine by §4.4.2's µs
    normalization); only the order-sensitive volume sum goes through the
    decimal quantizer."""
    ev = table(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", "ts")
    )
    return ohlc(ev, "value", "ts", "bucket", ["event_type"], ["event_id"])


PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+"
PII_NUM = "[0-9]{4,}"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                          '{PII_NUM}', '<NUM>', 'g') AS scrubbed,
           regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                          '{PII_NUM}', '<NUM>', 'g') <> text AS changed
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for the curation pipeline: email-shaped and long-
    numeric spans replaced with typed placeholders (patterns restricted
    to the RE2 ∩ Java-regex dialect so both engines match identically;
    DuckDB needs the 'g' flag to replace ALL occurrences, which is
    Spark's default).  Pure per-row projection fused into the scan — no
    shuffle; at 100 TB this is the cheapest kind of operator there is."""
    d = table(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
        PII_NUM,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        scrub.alias("scrubbed"),
        (scrub != F.col("text")).alias("changed"),
    )


def streaks(
    df: DataFrame,
    by: list[str],
    date_col: str,
) -> DataFrame:
    """Longest consecutive-active-days streak per group of ANY
    (group, date) frame (win_streak's algebra with columns
    parameterized) — the classic gaps-and-islands shape: distinct
    active days, island key = day number minus row_number (constant
    within a consecutive run), then two aggregates.  Returns
    (by..., longest_streak, n_active_days).

    Scale: every step — distinct, window, both groupBys — shares the
    `by` partitioning, so the whole kernel is ONE full-data Exchange
    over the (group, day) DISTINCT aggregate."""
    days = df.select(
        *by,
        F.datediff(
            F.col(date_col), F.to_date(F.lit("1970-01-01"))
        ).alias("_d"),
    ).distinct()
    w = Window.partitionBy(*by).orderBy("_d")
    islands = days.withColumn(
        "_island", F.col("_d") - F.row_number().over(w)
    )
    runs = islands.groupBy(*by, "_island").agg(
        F.count(F.lit(1)).alias("_len")
    )
    return runs.groupBy(*by).agg(
        F.max("_len").cast("long").alias("longest_streak"),
        F.sum("_len").cast("long").alias("n_active_days"),
    )


@register(
    "win_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(ts AS DATE) - DATE '1970-01-01' AS d
      FROM events
    ), islands AS (
      SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS island
      FROM days
    ), runs AS (
      SELECT user_id, island, count(*) AS len FROM islands
      GROUP BY user_id, island
    )
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS n_active_days
    FROM runs GROUP BY user_id
    """,
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-days streak per user: the `streaks`
    kernel over each event's calendar day.  The whole op is ONE
    full-data Exchange over the (user, day) DISTINCT aggregate (never
    raw events past the first dedup)."""
    ev = table(spark, sf_dir, "events")
    return streaks(
        ev.select("user_id", F.to_date("ts").alias("day")), ["user_id"], "day"
    )


@register(
    "events_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ), t AS (
      SELECT user_id, cnt,
             CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS total
      FROM c
    )
    SELECT user_id, CAST(max(total) AS BIGINT) AS n_events,
           round(-CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE) / total)
                                            * 1000000 + 0.5) AS BIGINT))
                       AS DOUBLE)
                 / (CAST(max(total) AS DOUBLE) * 1000000), 4) AS entropy
    FROM t GROUP BY user_id
    """,
)
def events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity score a curation pipeline uses to flag bot-like
    (near-zero-entropy) traffic.  ln(p) is integer-quantized (floor(ln ·
    1e6 + .5), the tfidf_topk convention) so the accumulated numerator is
    exact bigint arithmetic and the single final division is a correctly
    rounded IEEE op — bit-identical across engines.  One user_id shuffle
    shared by the type counts, the total window, and the final
    aggregate."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t = c.withColumn(
        "total",
        F.sum("cnt").over(Window.partitionBy("user_id")).cast("long"),
    )
    lnq = F.floor(
        F.log(F.col("cnt").cast("double") / F.col("total")) * 1_000_000 + 0.5
    ).cast("long")
    return t.groupBy("user_id").agg(
        F.max("total").cast("long").alias("n_events"),
        r4(
            -F.sum(F.col("cnt") * lnq).cast("double")
            / (F.max("total").cast("double") * 1_000_000)
        ).alias("entropy"),
    )


MA_HALF = 12  # centered moving-average half-width (hours)


@register(
    "seasonal_decompose_ma",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             {sql_dsum('value')} AS v
      FROM events GROUP BY 1, 2
    ), trended AS (
      SELECT event_type, bucket, v,
             CAST(sum(CAST(v AS DECIMAL(38,6)))
                    OVER w AS DOUBLE) / {2 * MA_HALF + 1} AS trend,
             count(*) OVER w AS n_win
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN {MA_HALF} PRECEDING AND {MA_HALF} FOLLOWING)
    )
    SELECT event_type,
           CAST(extract(hour FROM bucket) AS INTEGER) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(CAST(sum(CAST(v - trend AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS seasonal
    FROM trended
    WHERE n_win = {2 * MA_HALF + 1}
    GROUP BY event_type, hour_of_day
    """,
)
def seasonal_decompose_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average seasonal decomposition: hourly per-type sums, a
    centered {2 * MA_HALF + 1}-hour MA as the trend (only where the frame
    is complete), and the seasonal index = mean detrended residual per
    hour-of-day.  Exactness: hourly sums, the MA frame sum, and the
    residual sum all accumulate in DECIMAL(38,6), so `seasonal` is an
    exact-over-exact division rounded once.  The hourly aggregate, the
    trend window, and the hour-of-day regroup form a two-Exchange
    pipeline over the AGGREGATE (|types|x|hours| rows), never raw
    events twice."""
    ev = table(spark, sf_dir, "events")
    width = 2 * MA_HALF + 1
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(dsum(F.col("value")).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-MA_HALF, MA_HALF)
    )
    trended = hourly.select(
        "event_type",
        "bucket",
        "v",
        (F.sum(F.col("v").cast(DEC)).over(w).cast("double") / width).alias(
            "trend"
        ),
        F.count(F.lit(1)).over(w).alias("n_win"),
    ).filter(F.col("n_win") == width)
    return trended.groupBy(
        "event_type",
        F.hour("bucket").cast("int").alias("hour_of_day"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        r4(
            F.sum((F.col("v") - F.col("trend")).cast(DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal"),
    )


@register(
    "percent_of_total",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n ON c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT nation, region, round(revenue, 4) AS revenue,
           round(revenue / CAST(sum(CAST(revenue AS DECIMAL(38,6)))
                                  OVER (PARTITION BY region) AS DOUBLE), 4)
             AS region_share
    FROM rev
    """,
)
def percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue — the
    standard BI percent-of-total idiom.  Dims broadcast onto the fact
    scan, one shuffle to the |nations| aggregate, and the share window
    runs over that aggregate partitioned by region (25 rows); the
    denominator accumulates in DECIMAL so the share division is exact
    over exact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"), r.r_name.alias("region"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    w = Window.partitionBy("region")
    return rev.select(
        "nation",
        "region",
        r4(F.col("revenue")).alias("revenue"),
        r4(
            F.col("revenue")
            / F.sum(F.col("revenue").cast(DEC)).over(w).cast("double")
        ).alias("region_share"),
    )


def linfit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    scale: int = 2,
) -> DataFrame:
    """Grouped least-squares regression of ANY (x, y) pair
    (agg_regression's algebra with columns and fixed-point scale
    parameterized) — slope and r^2 from the five summable moments, the
    map-side-combinable formulation that scales where a two-pass
    covariance doesn't.  Inputs quantize to exact fixed-point bigints
    (the scale factors cancel in slope up to the x/y scale ratio — use
    one scale for both, as here); moment sums accumulate in
    DECIMAL(38,0) (sum(y^2) overflows int64 under ANSI just above test
    scale); closing products run in decimal and the final divisions are
    single IEEE ops — deterministic at any partition count, unlike
    float-accumulated regr_* built-ins.  Returns (by..., n, slope, r2),
    round 4.

    Scale: ONE pass, one combinable aggregate."""
    by = by or []
    d0 = "decimal(38,0)"
    x = F.floor(F.col(x_col) * (10**scale) + 0.5).cast("long").cast(d0)
    y = F.floor(F.col(y_col) * (10**scale) + 0.5).cast("long").cast(d0)
    # operands widen to DECIMAL BEFORE the multiply: a LONG product wraps
    # silently above |quantized| ~3.03e9 in non-ANSI Spark (r10 judge)
    s = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    num = (
        F.col("_n").cast(d0) * F.col("_sxy")
        - F.col("_sx").cast(d0) * F.col("_sy")
    )
    den_x = (
        F.col("_n").cast(d0) * F.col("_sxx")
        - F.col("_sx").cast(d0) * F.col("_sx")
    )
    den_y = (
        F.col("_n").cast(d0) * F.col("_syy")
        - F.col("_sy").cast(d0) * F.col("_sy")
    )
    slope = num.cast("double") / den_x.cast("double")
    r2 = slope * (num.cast("double") / den_y.cast("double"))
    return s.select(
        *by,
        F.col("_n").cast("long").alias("n"),
        r4(slope).alias("slope"),
        r4(r2).alias("r2"),
    )


@register(
    "agg_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
             sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                 * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
             sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                 * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 4)
             AS slope,
           round((CAST(CAST(n AS DECIMAL(38,0)) * sxy
                       - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                         - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE))
                 * (CAST(CAST(n AS DECIMAL(38,0)) * sxy
                         - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                    / CAST(CAST(n AS DECIMAL(38,0)) * syy
                           - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE)), 4)
             AS r2
    FROM s
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares regression (price vs quantity per return
    flag) — the `linfit` kernel at cents scale.  Per-flag Σy² reaches
    ~7.4e18 of int64's 9.22e18 max at sf0.1 already, which is why the
    kernel's moment sums accumulate in DECIMAL(38,0): a BIGINT sum
    overflows just above test scale, while DuckDB's sum(BIGINT) silently
    promotes to HUGEINT and diverges."""
    return linfit(
        table(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice",
        by=["l_returnflag"], scale=2,
    )


PEAK_TOPK = 20
PEAK_PRE_US = 30 * 60 * 1_000_000   # window opens 30 min before the peak hour
PEAK_POST_US = 90 * 60 * 1_000_000  # ... and closes 90 min after its start


@register(
    "join_range_binned",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, count(*) AS n
      FROM events GROUP BY 1
    ), peaks AS (
      SELECT epoch_us(bucket) - {PEAK_PRE_US} AS s,
             epoch_us(bucket) + {PEAK_POST_US} AS e,
             bucket
      FROM hourly ORDER BY n DESC, bucket LIMIT {PEAK_TOPK}
    )
    SELECT CAST(p.bucket AS TIMESTAMP) AS peak_hour,
           count(*) AS n_events,
           round({sql_dsum('ev.value')}, 4) AS sum_value
    FROM events ev JOIN peaks p
      ON epoch_us(ev.ts) >= p.s AND epoch_us(ev.ts) < p.e
    GROUP BY p.bucket
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key: every event vs every peak window)
    made scalable by BINNING: each [start, end) interval explodes into
    the hour bins it overlaps (≤3 here), events map to their own bin, and
    the join becomes an EQUI join on bin + a residual range filter —
    turning the O(|events|·|intervals|) theta join OSS Spark would
    otherwise plan into a hash join whose fan-out is the interval's bin
    count.  Windows are the top-{PEAK_TOPK} busiest hours ± margins
    (ORDER-BY-complete selection); exact by construction since bins cover
    the intervals."""
    ev = table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    peaks = (
        hourly.orderBy(F.col("n").desc(), "bucket")
        .limit(PEAK_TOPK)
        .select(
            "bucket",
            (F.unix_micros("bucket") - PEAK_PRE_US).alias("s"),
            (F.unix_micros("bucket") + PEAK_POST_US).alias("e"),
        )
    )
    hour_us = 3_600 * 1_000_000
    binned = peaks.select(
        "bucket",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / hour_us),
                F.floor((F.col("e") - 1) / hour_us),
            )
        ).alias("bin"),
    )
    j = ev.withColumn("bin", F.floor(F.col("us") / hour_us)).join(
        F.broadcast(binned), "bin"
    )
    return (
        j.filter((F.col("us") >= F.col("s")) & (F.col("us") < F.col("e")))
        .groupBy(F.col("bucket").alias("peak_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r4(dsum(F.col("value"))).alias("sum_value"),
        )
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS b_and,
           o_orderkey | 4096 AS b_or,
           xor(o_orderkey, 170) AS b_xor,
           o_orderkey << 2 AS b_shl,
           o_orderkey >> 3 AS b_shr,
           CAST(bit_count(o_orderkey) AS INTEGER) AS b_pop
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar-function surface (mask/flag decoding in feature
    pipelines): and/or/xor, shifts, popcount — pure JVM expressions fused
    into the scan."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("b_and"),
        k.bitwiseOR(F.lit(4096)).alias("b_or"),
        k.bitwiseXOR(F.lit(170)).alias("b_xor"),
        F.shiftleft(k, 2).alias("b_shl"),
        F.shiftright(k, 3).alias("b_shr"),
        F.bit_count(k).cast("int").alias("b_pop"),
    )


@register(
    "snk_orc",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n,
           {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def snk_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + read-back aggregation — the second columnar lakehouse
    format Spark bundles natively (§2.A completes: parquet, csv, json,
    text, sqlite, orc).  DuckDB cannot read ORC, so the oracle certifies
    the ROUND-TRIP: the read-back aggregate must equal the aggregate of
    the original table, which it does only if every value survived the
    format conversion bit-exactly.  Same partitionBy layout discipline
    as snk_parquet.  Every call writes to a fresh `scratch_dir`, which
    the process removes when it exits."""
    d = scratch_dir("orc")
    o = table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").orc(d)
    back = spark.read.orc(d)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


def benford(df: DataFrame, val_col: str) -> DataFrame:
    """Benford's-law first-digit audit of ANY numeric column >= 1
    (audit_benford's algebra): observed first-digit shares against the
    expected log10(1 + 1/d) — the financial-data-quality screen for
    generated or corrupted values.  Rows below 1 drop (no leading
    digit).  Returns (d, n_obs, observed, expected) for digits present.

    Scale shape: one scan -> 9-group aggregate + broadcast total."""
    li = df.filter(F.col(val_col) >= 1)
    digits = li.select(
        F.substring(
            F.floor(F.col(val_col)).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n_total"))
    expected = F.round(F.log10(1 + 1 / F.col("d")), 4)
    return (
        digits.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n_obs",
            r4(F.col("n_obs").cast("double") / F.col("n_total")).alias(
                "observed"
            ),
            expected.alias("expected"),
        )
    )


@register(
    "audit_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS d
      FROM lineitem WHERE l_extendedprice >= 1
    ), tot AS (SELECT count(*) AS n FROM digits)
    SELECT d, count(*) AS n_obs,
           round(CAST(count(*) AS DOUBLE) / max(tot.n), 4) AS observed,
           round(log10(1 + 1.0 / d), 4) AS expected
    FROM digits CROSS JOIN tot
    GROUP BY d
    """,
)
def audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the price column — the classic
    financial-data-quality screen (a rebuilt warehouse whose leading-
    digit distribution drifts from log10(1+1/d) signals generation or
    ingest corruption).  Digit extraction is exact integer/string work;
    the shares are single IEEE divisions of exact counts; expected values
    are closed-form.  One tiny 9-row aggregate + a broadcast 1-row
    total."""
    return benford(table(spark, sf_dir, "lineitem"), "l_extendedprice")
