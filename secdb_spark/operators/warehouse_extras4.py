"""Round-6 additions, batch 2 — SURVEY §2.P: exact dedup clustering over
the certified LSH candidate graph, fixed-iteration PageRank, corpus
quality/statistics signals for training-data curation (repetition, token
entropy, lexical diversity, corpus n-gram spine), financial/warehouse
windows (drawdown, VWAP, order backlog, cohort LTV), inequality and
concentration statistics (Gini, HHI), nearest-timestamp joins, SQL
surface parity (QUALIFY, UNPIVOT, FILTER), exact bitmap-distinct
aggregation, join-key skew diagnostics, sliding-window burst detection,
and point-in-time SCD2 lookups.

Design rules as everywhere in this package: one declarative DataFrame
plan per op (Catalyst owns the physical strategy), broadcast what is
model-sized, shuffle only on the op's natural key, every float that
reaches the driver either integer-quantized or produced by an identical
single-IEEE-op expression tree in both engines (registry.py header lists
the six determinism conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import register_views, table
from ..registry import register
from ._helpers import check_free, dsum_scaled, pin, sql_dsum_scaled
from .warehouse_extras2 import MINHASH_SEEDS
from .warehouse_extras3 import LSH_BANDS, LSH_ROWS_PER_BAND, _sig_sql

# ---------------------------------------------------------------------------
# dedup_clusters_exact — connected components over the EXACT candidate graph
# ---------------------------------------------------------------------------

_LSH_PAIRS_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    ), sigs AS (
      SELECT doc_id,
             {", ".join(_sig_sql(i, s) for i, s in enumerate(MINHASH_SEEDS))}
      FROM toks GROUP BY doc_id
    ), bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, "
          f"{' || '.join(f'sig{b * LSH_ROWS_PER_BAND + r}' for r in range(LSH_ROWS_PER_BAND))}"
          f" AS sig FROM sigs"
          for b in range(LSH_BANDS))}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
"""


@register(
    "dedup_clusters_exact",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
    ),
    lbl AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
    SELECT label AS cluster_rep,
           CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(list_sort(list(id)) AS VARCHAR) AS members
    FROM lbl GROUP BY label
    """,
)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACTLY-certified MinHash-LSH
    candidate graph (`lsh_candidates`) — the first fully DuckDB-checkable
    end-to-end near-dedup clustering: tokenize -> md5-min signatures ->
    banded collision pairs -> components -> canonical representative
    (min doc_id).  `dedup_clusters` (R class) does the same over the
    seeded-xxhash `dedup_near` graph; this op closes the oracle gap by
    riding the portable signature basis, with the oracle computing the
    transitive closure via a recursive CTE and taking min-reachable-label
    per node (identical fixpoint to min-label propagation).

    Scale shape: candidate pairs scale with duplicate density (banded
    equi-join, never n^2); min-label propagation runs O(component
    diameter) rounds of a key-partitioned join+agg with localCheckpoint
    per round to cut lineage growth, and convergence is a count action
    (no collect of the label table).  Dedup components in web corpora
    have tiny diameters, so the loop is 2-3 rounds in practice."""
    # r13: components run on the CONTRACTED group graph from the shared
    # _lsh_group_bands kernel (identical term sets are cliques — equal
    # sets share every signature, so contracting them preserves
    # components exactly while shrinking the iterated edge list
    # quadratically); docs inherit their group's converged label at
    # expansion.  A group is a node iff it has a cross-group candidate
    # edge or 2+ members (its docs pair internally).
    #
    # r13 STAR EDGES (guide §1.2 first-principles): every (band, sig)
    # bucket is a CLIQUE in the candidate graph — all of its groups
    # collide pairwise — so for CONNECTIVITY a star from each member to
    # the bucket minimum spans the bucket exactly, and the union of
    # bucket stars has the same components as the union of bucket
    # cliques.  The templated sf0.1 corpus's band join emits 5.0M
    # distinct group pairs (65% of ALL group pairs — a 7.1 s groupBy +
    # checkpoint); the stars are Σ(bucket size - 1) ≈ 4×|groups| edges
    # (~14 k), built with one bucket-min aggregate, no pair join at
    # all.  (lsh_candidates still materializes true pairs — ITS output
    # is the pair list; only the component computation rides stars.)
    from .warehouse_extras3 import _lsh_group_bands

    groups, bands = _lsh_group_bands(spark, sf_dir)
    broot = bands.groupBy("band", "sig").agg(F.min("gid").alias("root"))
    gpe = (
        bands.join(broot, ["band", "sig"])
        .filter(F.col("gid") != F.col("root"))
        .select(F.col("gid").alias("ga"), F.col("root").alias("gb"))
        .distinct()
        .localCheckpoint()
    )
    edges = gpe.union(
        gpe.select(F.col("gb").alias("ga"), F.col("ga").alias("gb"))
    )
    labels = (
        edges.select(F.col("ga").alias("id"))
        .union(
            groups.filter(F.size("members") >= 2).select(
                F.col("gid").alias("id")
            )
        )
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(15):  # diameter bound; dedup components are tiny
        nbr = (
            edges.join(labels, edges.gb == labels.id)
            .groupBy(F.col("ga").alias("id"))
            .agg(F.min("label").alias("nbr"))
        )
        upd = labels.join(nbr, "id", "left").select(
            "id",
            F.least(
                "label", F.coalesce("nbr", F.col("label"))
            ).alias("label"),
            (
                F.coalesce("nbr", F.col("label")) < F.col("label")
            ).alias("changed"),
        )
        upd = upd.localCheckpoint()
        n_changed = upd.filter("changed").count()
        labels = upd.drop("changed")
        if n_changed == 0:
            break
    docs = labels.join(
        groups.select(F.col("gid").alias("id"), "members"), "id"
    ).select("label", F.explode("members").alias("doc"))
    return docs.groupBy(F.col("label").alias("cluster_rep")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sort_array(F.collect_list("doc")).cast("string").alias("members"),
    )


# ---------------------------------------------------------------------------
# graph_pagerank — fixed-iteration PageRank, decimal-summed contributions
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_DAMP = 0.85
PR_TOPK = 20
#: Node-count bound for broadcasting the degree frame and the per-round
#: rank vector (model-sized: 5M nodes x (long, double) ~ 80 MB framed —
#: comfortably under the broadcast cap).  Above it the joins keep the
#: distributed shuffle shape and per-round driver traffic stays zero.
PR_BROADCAST_NODES = 5_000_000
_DEC18 = "DECIMAL(38,18)"


def _pr_oracle() -> str:
    its = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        its.append(
            f"""c{k} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(r.pr / e.d AS {_DEC18})) AS DOUBLE) AS s
      FROM ed e JOIN {prev} r ON e.src = r.node GROUP BY e.dst
    ), r{k} AS (
      SELECT node, 0.15 / n.n + {PR_DAMP} * s AS pr FROM c{k}, n
    )"""
        )
        prev = f"r{k}"
    return f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg ON deg.src = e.src),
    n AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / n.n AS pr FROM deg, n),
    {", ".join(its)}
    SELECT node, CAST(floor(pr * 1e9 + 0.5) AS BIGINT) AS pr9
    FROM {prev} ORDER BY pr9 DESC, node LIMIT {PR_TOPK}
    """


@register("graph_pagerank", oracle=_pr_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration ({PR_ITERS} rounds, d=0.85) PageRank over the
    undirected customer<->supplier trade graph (distinct order-lineitem
    pairs), certified EXACTLY: per-iteration neighbor contributions
    pr/deg are quantized to DECIMAL(38,18) before summation so the
    shuffle-order-dependent float sum becomes exact, and the closing
    (1-d)/n + d*s is a single identical IEEE expression tree in both
    engines; final ranks are 1e9-quantized for the top-k ordering.
    Undirected edges mean every node has out-degree >= 1, so there is no
    dangling-mass term to redistribute.

    Scale shape: edges co-partition by src across all iterations (one
    hash-partitioned join+agg per round, AQE-coalesced); per-round driver
    traffic is zero (the rank vector never leaves the cluster — only the
    scalar node count is collected once).  At 10^9 edges each iteration
    is one shuffle of model-sized (node, rank) pairs; the fixed iteration
    count bounds total cost, the standard production trade-off vs
    convergence-tested PageRank."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # r13 (guide §2.3 narrower types + multi-consumer pins): the whole
    # iteration runs on LONG node ids (2*custkey / 2*suppkey+1 — an
    # exact bijection with the 'c…'/'s…' strings, reconstructed only in
    # the final rank-vector-sized projection BEFORE the tie-break sort,
    # so the certified ordering and every DEC18 sum are unchanged); the
    # distinct shuffles two ints, not concatenated strings.  deg is
    # pinned — un-pinned, the `n = deg.count()` action re-ran the whole
    # orders⋈lineitem distinct subtree the ed checkpoint had just
    # computed (~2.6 s at sf0.1).
    # r14 (guide §2.4/§3.1): the r13 shape checkpointed ed =
    # edges⋈deg, which RECOMPUTED the orders⋈lineitem distinct the deg
    # pin had just materialized (~2 s at sf0.1), and each iteration
    # sort-merge-joined the 1.17M-row edge list against the model-sized
    # rank vector (a full edge shuffle + sort per round).  Now the
    # distinct edge set checkpoints ONCE and everything derives from it,
    # and when the node count is model-sized the degree frame and the
    # per-round rank vector broadcast — the edge list never shuffles
    # after its checkpoint.  Above the gate (web-scale graphs where the
    # rank vector must stay distributed) the joins keep the r13
    # shuffle-join shape and per-round driver traffic stays zero.
    # Values are unchanged either way: contributions are DECIMAL(38,18)
    # (order-exact sums), and join strategy never changes results.
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("a"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")))
    n = deg.count()
    small = n <= PR_BROADCAST_NODES
    ed = edges.join(F.broadcast(deg) if small else deg, "src").localCheckpoint()
    r = deg.select(F.col("src").alias("node"), (F.lit(1.0) / F.lit(n)).alias("pr"))
    for _ in range(PR_ITERS):
        contrib = ed.join(
            F.broadcast(r) if small else r, ed.src == r.node
        ).select(
            F.col("dst"), (F.col("pr") / F.col("d")).cast(_DEC18).alias("c")
        )
        r = contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(0.15) / F.lit(n)
                + F.lit(PR_DAMP) * F.sum("c").cast("double")
            ).alias("pr")
        )
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), F.shiftright("node", 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), F.shiftright("node", 1).cast("string"))
    )
    return (
        r.select(
            node_str.alias("node"),
            F.floor(F.col("pr") * 1e9 + 0.5).cast("bigint").alias("pr9"),
        )
        .orderBy(F.desc("pr9"), "node")
        .limit(PR_TOPK)
    )


# ---------------------------------------------------------------------------
# Training-corpus quality signals
# ---------------------------------------------------------------------------

NGRAM_ORACLE_MAX_TOKS = 128  # static unnest bound; Spark side asserts <= this

_TRI_SQL = f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tri AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
      FROM t, (SELECT unnest(generate_series(1, {NGRAM_ORACLE_MAX_TOKS})) AS i) s
      WHERE i + 2 <= len(toks)
    )
"""


def _tri(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id_col, g) word-trigram stream of `df`; one tokenize pass, no
    shuffle."""
    check_free(df.columns, "toks")
    check_free([id_col], "g")
    d = df.withColumn("toks", F.split(text_col, " "))
    # guard the oracle's static unnest bound AND sequence()'s descending
    # surprise (sequence(0, -1) counts DOWN): only docs with >= 3 tokens
    # generate trigrams, mirroring the oracle's i+2 <= len predicate.
    return (
        d.filter(F.size("toks") >= 3)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
                )
            ).alias("g"),
        )
    )


def repetition_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Repeated-trigram fraction of ANY text column per row
    (text_repetition's algebra with columns parameterized) — the
    Gopher-style repetition quality gate (high duplicate-n-gram mass
    flags boilerplate and spam).  rep = 1 - unique/total word trigrams,
    1e6-quantized after a single double division of two exact counts;
    rows with fewer than 3 tokens emit no output.  Returns
    (id, n_tri, n_uniq, rep6).

    Scale: one tokenize scan -> explode -> one hash aggregate on the id
    (count + count-distinct in the same pass via the distinct-agg
    rewrite).  No joins, no driver traffic."""
    tri = _tri(df, id_col, text_col)
    return tri.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.count_distinct("g").alias("n_uniq"),
        F.floor(
            (F.lit(1.0) - F.count_distinct("g").cast("double") / F.count(F.lit(1)))
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("rep6"),
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH {_TRI_SQL}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
           CAST(count(DISTINCT g) AS BIGINT) AS n_uniq,
           CAST(floor((1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*))
                      * 1e6 + 0.5) AS BIGINT) AS rep6
    FROM tri GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-trigram fraction per document — the Gopher-style
    repetition quality gate (high duplicate-n-gram mass flags boilerplate
    and spam for corpus filtering).  rep = 1 - unique/total trigrams,
    1e6-quantized after a single double division of two exact counts.

    Scale shape: one tokenize scan -> explode -> one hash aggregate on
    doc_id (count + count distinct in the same pass via Spark's
    distinct-agg rewrite).  No joins, no driver traffic; trigram stream
    is ~3x token count and map-side-combines on doc_id."""
    return repetition_score(table(spark, sf_dir, "documents"), "doc_id", "text")


def token_entropy(
    df: DataFrame,
    by: list[str],
    text_col: str,
) -> DataFrame:
    """Token-distribution Shannon entropy (nats, 1e6-quantized) of ANY
    text column per group (text_entropy_tokens' algebra with columns
    parameterized) — the information-density quality signal: near-zero
    entropy marks keyword-stuffed or template docs, high entropy marks
    diverse prose.  H = ln(T) - sum(c*ln c)/T from exact counts; the
    per-term c*ln(c) terms are DECIMAL(38,12)-quantized before the
    order-dependent sum (ulp differences in ln land far below the
    quantization step).  Returns (by..., n_tokens, ent6).

    Scale: tokenize -> two hash aggregates, BOTH map-side combinable —
    each Exchange carries partial aggregates, never the raw exploded
    token stream; entirely JVM-side codegen."""
    check_free(by, "term", "c")
    tok = df.select(*by, F.explode(F.split(text_col, " ")).alias("term"))
    tc = tok.groupBy(*by, "term").agg(F.count(F.lit(1)).alias("c"))
    t = F.sum("c")
    s = F.sum((F.col("c") * F.log(F.col("c").cast("double"))).cast("decimal(38,12)"))
    return tc.groupBy(*by).agg(
        t.cast("bigint").alias("n_tokens"),
        F.floor(
            (F.log(t.cast("double")) - s.cast("double") / t) * 1e6 + 0.5
        )
        .cast("bigint")
        .alias("ent6"),
    )


@register(
    "text_entropy_tokens",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tc AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(floor((ln(CAST(sum(c) AS DOUBLE))
                       - CAST(sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12)))
                              AS DOUBLE) / sum(c)) * 1e6 + 0.5)
                AS BIGINT) AS ent6
    FROM tc GROUP BY doc_id
    """,
)
def text_entropy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (nats, 1e6-
    quantized) — the information-density quality signal: near-zero
    entropy marks keyword-stuffed or template docs, high entropy marks
    diverse prose.  H = ln(T) - sum(c*ln c)/T computed from exact counts;
    the per-term c*ln(c) terms are DECIMAL(38,12)-quantized before the
    order-dependent sum, and the closing expression is one identical
    IEEE tree in both engines (ulp differences in ln land 6 orders of
    magnitude below the quantization step).

    Scale shape: tokenize -> two hash aggregates ((doc_id, term) then
    doc_id), BOTH map-side combinable, so each Exchange carries partial
    aggregates, never the raw exploded token stream — at Zipf-heavy 100
    TB corpora the first combine is the one that matters.  Entirely
    JVM-side codegen; no UDFs, no driver traffic."""
    return token_entropy(table(spark, sf_dir, "documents"), ["doc_id"], "text")


def lexical_diversity(
    df: DataFrame,
    by: list[str],
    text_col: str,
) -> DataFrame:
    """Lexical-diversity profile of ANY text column per group
    (text_ttr's algebra with columns parameterized): type-token ratio
    and hapax-legomenon fraction, both 1e6-quantized ratios of exact
    whitespace-token counts.  Low TTR + low hapax flags repetitive
    machine-generated text — the classic cheap companions to the
    repetition gate in corpus curation.  Returns (by..., n_tokens,
    n_types, n_hapax, ttr6, hapax6).

    Scale: two cascaded map-side-combinable aggregates ((by, term) then
    by) — partial-agg before every Exchange, all codegen."""
    check_free(by, "term", "c")
    tok = df.select(*by, F.explode(F.split(text_col, " ")).alias("term"))
    tc = tok.groupBy(*by, "term").agg(F.count(F.lit(1)).alias("c"))
    types = F.count(F.lit(1))
    toks = F.sum("c")
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tc.groupBy(*by).agg(
        toks.cast("bigint").alias("n_tokens"),
        types.cast("bigint").alias("n_types"),
        hapax.cast("bigint").alias("n_hapax"),
        F.floor(types.cast("double") / toks * 1e6 + 0.5).cast("bigint").alias("ttr6"),
        F.floor(hapax.cast("double") / types * 1e6 + 0.5)
        .cast("bigint")
        .alias("hapax6"),
    )


@register(
    "text_ttr",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tc AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(floor(CAST(count(*) AS DOUBLE) / sum(c) * 1e6 + 0.5)
                AS BIGINT) AS ttr6,
           CAST(floor(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*) * 1e6 + 0.5) AS BIGINT) AS hapax6
    FROM tc GROUP BY doc_id
    """,
)
def text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document: type-token ratio and
    hapax-legomenon fraction (both 1e6-quantized ratios of exact counts).
    Low TTR + low hapax flags repetitive machine-generated text; the
    classic cheap companions to the repetition gate in corpus curation.

    Scale shape: same two map-side-combinable aggregates as
    text_entropy_tokens — partial-agg before every Exchange, all
    codegen."""
    return lexical_diversity(table(spark, sf_dir, "documents"), ["doc_id"], "text")


CORPUS_NGRAM_TOPK = 50


@register(
    "corpus_ngram_topk",
    oracle=f"""
    WITH {_TRI_SQL}
    SELECT g AS trigram, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tri GROUP BY g
    ORDER BY n DESC, trigram LIMIT {CORPUS_NGRAM_TOPK}
    """,
)
def corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-{CORPUS_NGRAM_TOPK} word trigrams with document
    frequency — the shared spine for contamination screening
    (`decontaminate` matches eval n-grams against exactly this stream)
    and boilerplate detection (trigrams with n_docs ~ n are templates).
    Order-complete top-k (count desc, trigram) per registry convention 4.

    Scale shape: explode -> single hash aggregate on the trigram key
    (count + distinct-doc in one pass) -> TakeOrderedAndProject for the
    bounded top-k: partial top-k per partition, never a global sort."""
    tri = _tri(table(spark, sf_dir, "documents"), "doc_id", "text")
    return (
        tri.groupBy(F.col("g").alias("trigram"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "trigram")
        .limit(CORPUS_NGRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# Financial / warehouse windows
# ---------------------------------------------------------------------------


def drawdown(
    df: DataFrame,
    val_col: str,
    order_cols: list[str],
    by: list[str],
    cumulate: bool = True,
) -> DataFrame:
    """Maximum drawdown per group of ANY ordered series (win_drawdown's
    algebra with columns parameterized): equity is the running sum of
    `val_col` (cumulate=True, e.g. per-trade P&L) or the raw value
    itself (cumulate=False, e.g. an already-cumulative price level);
    drawdown(t) = running-peak(equity) - equity(t), reported as the
    per-group max.  Feed an exactly-representable series (ints /
    fixed-point cents) for cross-engine determinism — float running
    sums are order-dependent.  Pass tie-breaking order_cols.

    Scale shape: ONE shuffle on `by` shared by both window passes and
    the final aggregate (same partitioning expression — Catalyst plans
    a single Exchange); within-partition sort once.  Never a global
    window.  Returns (by..., n_rows, max_dd)."""
    w = (
        Window.partitionBy(*by)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    equity = F.sum(val_col).over(w) if cumulate else F.col(val_col)
    eq = df.withColumn("_equity", equity).withColumn(
        "_peak", F.max("_equity").over(w)
    )
    return eq.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.col("_peak") - F.col("_equity")).alias("max_dd"),
    )


@register(
    "win_drawdown",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderdate, o_orderkey
      FROM orders
    ), run AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             sum(cents) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS equity
      FROM c
    ), eq AS (
      SELECT o_custkey, equity,
             max(equity) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS peak
      FROM run
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(peak - equity) AS BIGINT) AS max_dd_c
    FROM eq GROUP BY o_custkey
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per customer over the running sum of order value
    (fixed-point cents): the `drawdown` kernel, order tie-safe via
    (o_orderdate, o_orderkey).  Cents keep the running sums exact."""
    c = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderdate",
        "o_orderkey",
    )
    dd = drawdown(c, "cents", ["o_orderdate", "o_orderkey"], by=["o_custkey"])
    return dd.select(
        "o_custkey",
        F.col("n_rows").alias("n_orders"),
        F.col("max_dd").alias("max_dd_c"),
    )


def vwap(
    df: DataFrame,
    amount_col: str,
    qty_col: str,
    by: list[str],
    scale: int = 2,
) -> DataFrame:
    """Volume-weighted average price per group on ANY (amount, qty)
    frame (ts_vwap's algebra with columns parameterized):
    sum(amount)/sum(qty) with both sums accumulated in int64
    fixed-point at `scale` decimal digits, so the ratio is ONE double
    division of two exact integers — deterministic at any partition
    count, then round(4).  `amount_col` is the EXTENDED amount
    (price x qty, e.g. l_extendedprice) — passing a per-unit price
    here computes a plain mean, NOT a VWAP; multiply price*qty into a
    column first.  Overflow bound: |sum| * 10^scale < 2^63.  Bucket
    the time axis yourself (pass e.g. date_trunc('month', ts) as a by
    column).  Returns (by..., price_c, qty_c, vwap4) where the _c
    columns are the raw fixed-point sums.

    Scale shape: single hash aggregate, fully map-side combinable —
    the textbook partial-agg-then-tiny-shuffle plan at 100 TB."""
    amount = dsum_scaled(F.col(amount_col), scale)
    qty = dsum_scaled(F.col(qty_col), scale)
    return df.groupBy(*by).agg(
        amount.alias("price_c"),
        qty.alias("qty_c"),
        F.round(amount.cast("double") / qty, 4).alias("vwap4"),
    )


@register(
    "ts_vwap",
    oracle=f"""
    SELECT date_trunc('month', l_shipdate) AS month, l_returnflag,
           {sql_dsum_scaled("l_extendedprice", 2)} AS price_c,
           {sql_dsum_scaled("l_quantity", 2)} AS qty_c,
           round(CAST({sql_dsum_scaled("l_extendedprice", 2)} AS DOUBLE)
                 / {sql_dsum_scaled("l_quantity", 2)}, 4) AS vwap4
    FROM lineitem GROUP BY 1, 2
    """,
)
def ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (ship-month, returnflag) — the
    `vwap` kernel on lineitem at scale 2 (cents).  TWAP's sibling (`twap`
    weights by holding time, this weights by volume)."""
    li = table(spark, sf_dir, "lineitem").withColumn(
        "month", F.date_trunc("month", "l_shipdate")
    )
    return vwap(
        li, "l_extendedprice", "l_quantity",
        by=["month", "l_returnflag"], scale=2,
    )


@register(
    "orders_open_backlog",
    oracle="""
    WITH closed AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS placed,
             greatest(CAST(max(l_shipdate) AS DATE),
                      CAST(o_orderdate AS DATE)) + 1 AS closes
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderkey, o_orderdate
    ), deltas AS (
      SELECT placed AS day, 1 AS delta FROM closed
      UNION ALL
      SELECT closes, -1 FROM closed
    ), byday AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS d FROM deltas GROUP BY day
    ), bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM byday),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    )
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           CAST(sum(coalesce(b.d, 0))
                OVER (ORDER BY s.day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
    FROM spine s LEFT JOIN byday b ON s.day = b.day
    """,
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: an order is open from its placement day
    until the day after its last lineitem ships; backlog(day) is the
    interval-stabbing count computed as a cumulative sum of +1/-1
    boundary deltas over a dense calendar spine (days with no activity
    carry the running value).  The standard O(n) sweep that replaces a
    quadratic day-x-open-interval join.

    Scale shape: the heavy work (per-order close date, delta aggregate)
    is key-partitioned; only the final cumulative pass runs on the
    calendar spine, whose cardinality is DAYS — bounded by the date
    range (~2.5k rows for 7 years), not by data volume.  Same
    model-sized-spine class as `date_spine`/`rollup_gapfill`, documented
    per the global-order policy (SCALE.md §9)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    closed = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        # clamp: synthetic data has orders whose last shipment PRECEDES
        # placement; an inverted interval would drive the sweep negative,
        # so every order stays open at least its placement day
        .agg(
            F.date_add(
                F.greatest(
                    F.to_date(F.max("l_shipdate")), F.to_date("o_orderdate")
                ),
                1,
            ).alias("closes")
        )
        .select(F.to_date("o_orderdate").alias("placed"), "closes")
    )
    # closed feeds both union halves and byday feeds spine + the final
    # join: pinned so the order-close join runs once (plan-audit,
    # SCALE.md §50; un-pinned: 4 scans of orders AND lineitem).
    closed = pin(closed)
    deltas = closed.select(F.col("placed").alias("day"), F.lit(1).alias("delta")).union(
        closed.select(F.col("closes").alias("day"), F.lit(-1).alias("delta"))
    )
    byday = pin(deltas.groupBy("day").agg(F.sum("delta").alias("d")))
    spine = byday.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(byday, "day", "left")
        .select("day", F.coalesce("d", F.lit(0)).alias("d"))
        .select(
            # present as TIMESTAMP: pandas canonicalizes DATE and TIMESTAMP
            # differently across the two engines (datetime.date vs
            # datetime64), so the driver compare needs one type both sides
            F.col("day").cast("timestamp").alias("day"),
            F.sum("d").over(w).cast("bigint").alias("backlog"),
        )
    )


@register(
    "cohort_ltv",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ), rev AS (
      SELECT fo.cohort,
             CAST(datediff('month', fo.cohort,
                           date_trunc('month', o.o_orderdate)) AS BIGINT) AS age,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_c,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
      GROUP BY 1, 2
    )
    SELECT cohort, age, rev_c, n_active,
           CAST(sum(rev_c) OVER (PARTITION BY cohort ORDER BY age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_rev_c
    FROM rev
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue (fixed-point cents) bucketed by cohort age in months,
    with the running cumulative — the LTV triangle marketing teams read
    by row.  Exact: month arithmetic on date_trunc'ed dates and integer
    cents throughout.

    Scale shape: first-order aggregate and revenue aggregate both
    shuffle on o_custkey (shared partitioning); the cohort-age matrix is
    months^2-sized (model data), so the final cumulative window runs on
    a tiny aggregate.  The cohort side joins back broadcast-sized."""
    o = table(spark, sf_dir, "orders")
    fo = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    rev = (
        o.join(fo, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", "o_orderdate"), F.col("cohort")
            )
            .cast("bigint")
            .alias("age"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("rev_c"),
            F.count_distinct("o_custkey").alias("n_active"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.select(
        "cohort",
        "age",
        "rev_c",
        "n_active",
        F.sum("rev_c").over(w).cast("bigint").alias("cum_rev_c"),
    )


# ---------------------------------------------------------------------------
# Inequality / concentration statistics
# ---------------------------------------------------------------------------


def _customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spend in exact int64 cents with the customer's nation:
    (c_nationkey, o_custkey, x) — the population agg_gini and agg_hhi
    measure."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )


def gini(
    df: DataFrame,
    val_col: str,
    by: list[str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gini inequality coefficient of ANY integer-valued column per
    group (agg_gini's algebra with columns parameterized): the rank
    formula G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n with tie-safe ranks
    (x, tiebreak) — tied values contribute identically under any
    within-tie order, so pass any unique `tiebreak_col` (default: the
    value column alone, deterministic only when values are unique).
    Pass x in exact integer units (e.g. cents) for exact moment sums.
    Returns (by..., n, gini6) with gini6 = floor(G * 1e6 + 0.5).

    Scale shape: per-group rank windows and one combinable closing
    aggregate.  With by=None the rank window spans the whole frame in
    ONE partition: pass a model-sized population (e.g. a per-entity
    aggregate) or group it."""
    by = by or []
    order = [F.col(val_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = (
        Window.partitionBy(*by).orderBy(*order)
        if by
        else Window.partitionBy().orderBy(*order)
    )
    ranked = df.withColumn("_i", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.groupBy(*by).agg(
        n.cast("bigint").alias("n"),
        F.floor(
            (
                (F.lit(2.0) * F.sum(F.col("_i") * F.col(val_col)))
                / (n * F.sum(val_col))
                - (n + F.lit(1.0)) / n
            )
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("gini6"),
    )


@register(
    "agg_gini",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_nationkey, x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY x, o_custkey) AS i
      FROM spend
    )
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(floor(((2.0 * sum(i * x)) / (count(*) * sum(x))
                       - (count(*) + 1.0) / count(*)) * 1e6 + 0.5)
                AS BIGINT) AS gini6
    FROM ranked GROUP BY c_nationkey
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the inequality
    audit: the `gini` kernel on exact per-customer cents, ranks tie-safe
    on (x, custkey)."""
    return gini(
        _customer_spend(spark, sf_dir), "x", by=["c_nationkey"],
        tiebreak_col="o_custkey",
    ).withColumnRenamed("n", "n_cust")


def hhi(
    df: DataFrame,
    val_col: str,
    by: list[str] | None = None,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index of ANY integer-valued
    column per group (agg_hhi's algebra, 0..10000 regulator scale):
    HHI = 10000 * sum(x^2)/sum(x)^2 from the integer identity — no
    per-row float share; x^2 accumulates in DECIMAL(38,0) (int64
    overflows at ~9.6e9 units per row).  Returns (by..., n, hhi4).

    Scale shape: one fully map-side-combinable aggregate — no window,
    no second pass."""
    by = by or []
    s = F.sum(val_col).cast("double")
    q = F.sum(F.col(val_col).cast("decimal(38,0)") * F.col(val_col)).cast(
        "double"
    )
    return df.groupBy(*by).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(q / (s * s) * 10000, 4).alias("hhi4"),
    )


@register(
    "agg_hhi",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
           round(CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE)
                 / (CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
                 * 10000, 4) AS hhi4
    FROM spend GROUP BY c_nationkey
    """,
)
def agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of customer spend per
    nation (0..10000 scale regulators use) — the `hhi` kernel on exact
    per-customer cents."""
    return hhi(
        _customer_spend(spark, sf_dir), "x", by=["c_nationkey"]
    ).withColumnRenamed("n", "n_cust")


# ---------------------------------------------------------------------------
# Nearest-timestamp join / burst detection / point-in-time lookup
# ---------------------------------------------------------------------------


@register(
    "join_nearest_ts",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT event_id AS v_id, user_id, epoch_us(ts) AS v_us
      FROM events WHERE event_type = 'view'
    ), cand AS (
      SELECT p.p_id, p.user_id, v.v_id, abs(p.p_us - v.v_us) AS diff_us,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY abs(p.p_us - v.v_us), v.v_id) AS rn
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT p_id, user_id, v_id, CAST(diff_us AS BIGINT) AS diff_us
    FROM cand WHERE rn = 1
    """,
)
def join_nearest_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-timestamp join in BOTH directions: each purchase event is
    matched to its user's temporally closest view event, whether before
    or after — the attribution primitive `join_asof` (backward-only)
    cannot express.  Tie-safe pick via (|dt|, view event_id).

    Scale shape: one equi-join co-partitioned on user_id, then a window
    keyed by the purchase id WITHIN the same user partition (the window
    partition key p_id is a function of rows already grouped per user,
    so Catalyst appends a sort, not a second Exchange when partitioning
    allows).  Per-user candidate fan-out is views-per-user, bounded by
    session behavior, never global n^2.  Skewed power-users would
    dispatch to the salted-join kernel (join_skew_salted)."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("us").alias("p_us")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.col("us").alias("v_us"),
    )
    cand = p.join(v, p.user_id == v.v_user).select(
        "p_id",
        "user_id",
        "v_id",
        F.abs(F.col("p_us") - F.col("v_us")).alias("diff_us"),
    )
    w = Window.partitionBy("p_id").orderBy("diff_us", "v_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_id", "user_id", "v_id", F.col("diff_us").cast("bigint"))
    )


def burst_detect(
    df: DataFrame,
    id_col: str,
    time_col: str,
    window: int = 3_600_000_000,
) -> DataFrame:
    """Burst detection over ANY (entity, numeric time) stream
    (events_burst's algebra with columns and window parameterized):
    each entity's maximum row count inside any trailing `window` of the
    time axis — the rate-limit / fraud-velocity signal.  A RANGE frame
    over the integer time column (not ROWS) so simultaneous rows are
    window peers deterministically.  Pass epoch micros with the default
    1-hour window, or any integer axis with a matching span.  Returns
    (id, max_burst, n_rows).

    Scale: one shuffle on the id shared by the range-frame window and
    the final aggregate; the frame scan is the two-pointer sliding
    count inside each sorted partition — linear, no self-join
    materialization of the neighborhood."""
    w = (
        Window.partitionBy(id_col)
        .orderBy(time_col)
        .rangeBetween(-window, 0)
    )
    return (
        df.withColumn("_c", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.max("_c").cast("bigint").alias("max_burst"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


@register(
    "events_burst",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ), win AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN 3600000000 PRECEDING
                                      AND CURRENT ROW) AS c
      FROM e
    )
    SELECT user_id, CAST(max(c) AS BIGINT) AS max_burst_1h,
           CAST(count(*) AS BIGINT) AS n_events
    FROM win GROUP BY user_id
    """,
)
def events_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: each user's maximum event count inside any
    trailing 1-hour window — the `burst_detect` kernel over integer
    microseconds, so simultaneous events are window peers in both
    engines."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    return burst_detect(ev, "user_id", "us", window=3_600_000_000).select(
        "user_id",
        F.col("max_burst").alias("max_burst_1h"),
        F.col("n_rows").alias("n_events"),
    )


@register(
    "scd2_asof_lookup",
    oracle="""
    WITH chg AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events WHERE event_type <> 'purchase'
      ) s WHERE prev IS NULL OR prev <> event_type
    ), p AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), cand AS (
      SELECT p.p_id, p.user_id, c.event_type AS state,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY c.us DESC, c.event_id DESC) AS rn
      FROM p JOIN chg c
        ON p.user_id = c.user_id AND c.us <= p.p_us
    )
    SELECT p_id, user_id, state FROM cand WHERE rn = 1
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 state history: for every
    purchase event, the user's state (latest distinct non-purchase
    event_type change) valid AT that moment — the join every versioned
    dimension exists to serve, and the batch twin of what
    `stream_stateful` answers incrementally.  `scd2_history` builds the
    validity intervals; this op probes them as-of each fact timestamp
    (ties broken by latest event_id, matching the change-log order).

    Scale shape: the change log and the probe side co-partition on
    user_id (one Exchange each); the as-of resolution is a per-fact
    window over the user's own changes — bounded fan-out, the
    interval-probe plan that avoids materializing fact x full-history.
    Purchases before any state change are dropped (inner as-of), same
    convention as join_asof."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    wchg = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("prev", F.lag("event_type").over(wchg))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_type").alias("state"),
            F.col("us").alias("c_us"),
            F.col("event_id").alias("c_id"),
        )
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("us").alias("p_us")
    )
    cand = p.join(
        chg, (p.user_id == chg.c_user) & (chg.c_us <= p.p_us)
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("c_us"), F.desc("c_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_id", "user_id", "state")
    )


# ---------------------------------------------------------------------------
# SQL surface parity: QUALIFY / UNPIVOT / FILTER clause
# ---------------------------------------------------------------------------


@register(
    "sql_qualify",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY cents DESC, o_orderkey) = 1
    """,
)
def sql_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY surface parity: each customer's single largest order.
    DuckDB (like Snowflake/BigQuery) has the QUALIFY clause natively —
    the oracle uses it verbatim; Spark SQL has no QUALIFY keyword, so
    the engine expresses the identical semantics as the canonical
    rewrite (window in a derived table, WHERE on the rank).  Catalyst
    plans both the same way a QUALIFY would: one Exchange on the
    partition key, rank, filter.  Tie-safe via (cents DESC, orderkey)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, cents FROM (
          SELECT o_custkey, o_orderkey,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY CAST(floor(o_totalprice * 100 + 0.5)
                                                  AS BIGINT) DESC,
                                             o_orderkey) AS rn
          FROM orders
        ) WHERE rn = 1
        """
    )


@register(
    "sql_unpivot",
    oracle=f"""
    SELECT measure, CAST(count(*) AS BIGINT) AS n,
           {sql_dsum_scaled("val", 4)} AS sum4
    FROM (UNPIVOT lineitem ON l_quantity, l_discount, l_tax
          INTO NAME measure VALUE val)
    GROUP BY measure
    """,
)
def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNPIVOT clause parity (wide -> long in the grammar, not via
    stack()): lineitem's three numeric measures melt into (measure, val)
    rows, then aggregate per measure with scale-4 fixed-point sums.
    Spark 3.4+ and DuckDB both grew a native UNPIVOT clause with
    transposed syntaxes — this pins that the two produce identical
    measure names ('l_quantity'...) and values.  The DataFrame-API twin
    is `agg_unpivot` (melt via stack); this op certifies the SQL-grammar
    path.

    Scale shape: UNPIVOT is a map-side expression (3x row fan-out, no
    shuffle); the aggregate map-side-combines into 3 groups."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT measure, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(floor(val * 10000 + 0.5) AS BIGINT)) AS sum4
        FROM lineitem
        UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))
        GROUP BY measure
        """
    )


@register(
    "sql_filter_clause",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_all,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
             AS n_disc,
           CAST(coalesce(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  FILTER (WHERE l_discount > 0.05), 0) AS BIGINT) AS rev_disc_c,
           CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 25)
                AS BIGINT) AS n_bulk_supp
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sql_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE ...) aggregate-modifier parity — the ANSI way to
    compute several differently-predicated aggregates in ONE pass
    (count, conditional revenue, conditional distinct) without
    self-joining or CASE pyramids.  Both engines support the clause
    natively; revenue in fixed-point cents.

    Scale shape: one hash aggregate, all filters evaluated per-row
    map-side — the single-scan replacement for N filtered subqueries."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
                 AS n_disc,
               CAST(coalesce(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                      FILTER (WHERE l_discount > 0.05), 0) AS BIGINT)
                 AS rev_disc_c,
               CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_quantity >= 25)
                    AS BIGINT) AS n_bulk_supp
        FROM lineitem GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# Exact bitmap-distinct aggregation / skew diagnostics
# ---------------------------------------------------------------------------

BITMAP_BITS = 62  # bits used per int64 word (shift stays in signed range)


@register(
    "agg_bitmap_distinct",
    oracle=f"""
    WITH words AS (
      SELECT event_type, user_id // {BITMAP_BITS} AS word,
             bit_or(1::BIGINT << CAST(user_id % {BITMAP_BITS} AS INTEGER)) AS m
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(bit_count(m)) AS BIGINT) AS n_distinct_bitmap,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
            FROM events e WHERE e.event_type = words.event_type)
             AS n_distinct_plain
    FROM words GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap OR-aggregation — the
    scale-path alternative to both count(DISTINCT) (full shuffle of the
    key stream) and HLL (approximate): user ids bucket into 64-bit words
    (word = id div {BITMAP_BITS}, bit = id mod {BITMAP_BITS}), bit_or
    combines map-side like any algebraic aggregate, and popcount sums
    recover the exact cardinality.  Both engines' answers are pinned
    against their own plain count(DISTINCT) in the same row.

    Scale shape: shuffle carries (type, word, mask) — at most
    domain/{BITMAP_BITS} rows per group regardless of event volume,
    vs count(DISTINCT)'s one row per distinct value; ideal for dense
    integer domains (user ids).  Sparse/huge domains would dispatch to
    HLL (agg_approx_distinct) or roaring-style chunking."""
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    words = ev.groupBy(
        "event_type", (F.col("user_id") / BITMAP_BITS).cast("bigint").alias("word")
    ).agg(
        F.expr(
            f"bit_or(shiftleft(1L, CAST(user_id % {BITMAP_BITS} AS INT)))"
        ).alias("m")
    )
    bitmap = words.groupBy("event_type").agg(
        F.sum(F.bit_count("m")).cast("bigint").alias("n_distinct_bitmap")
    )
    plain = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_distinct_plain")
    )
    return bitmap.join(plain, "event_type")


SKEW_TOPK = 5


def skew_report(
    df: DataFrame,
    key_col: str,
    k: int = 20,
) -> DataFrame:
    """Join-key skew diagnostics for ANY key column (data_skew_report's
    algebra with the column and k parameterized): the k hottest values
    with their row share (ppm) and multiple-of-mean (percent) — the
    report that decides whether a planned join needs salting or AQE
    skew splitting.  All ratios via integer division of exact counts
    (no floats at all).  Returns (key, cnt, share_ppm, x_mean_pct).

    Scale: one map-side-combinable key count, a broadcast-sized scalar
    total cross-joined in, and bounded top-k (TakeOrderedAndProject) —
    the profiling pass a 100 TB ETL runs BEFORE choosing its join
    strategy."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("nk"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.expr("CAST(cnt * 1000000 div n AS BIGINT)").alias("share_ppm"),
            F.expr("CAST(cnt * 100 * nk div n AS BIGINT)").alias("x_mean_pct"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(k)
    )


@register(
    "data_skew_report",
    oracle=f"""
    WITH k AS (
      SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS nk
      FROM k
    )
    SELECT key, cnt,
           CAST(cnt * 1000000 // n AS BIGINT) AS share_ppm,
           CAST(cnt * 100 * nk // n AS BIGINT) AS x_mean_pct
    FROM k, tot
    ORDER BY cnt DESC, key LIMIT {SKEW_TOPK}
    """,
)
def data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the {SKEW_TOPK} hottest l_partkey
    values with their row share (ppm) and multiple-of-mean (percent) —
    the report that decides whether a planned join needs salting
    (join_salted / join_skew_salted) or AQE skew splitting.  All ratios
    via integer division of exact counts (no floats at all).

    Scale shape: one map-side-combinable key count, a broadcast-sized
    scalar total cross-joined in, and bounded top-k
    (TakeOrderedAndProject).  This is the profiling pass a 100 TB ETL
    runs BEFORE choosing its join strategy."""
    return skew_report(table(spark, sf_dir, "lineitem"), "l_partkey", SKEW_TOPK)
