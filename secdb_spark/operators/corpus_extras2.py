"""Round-7 additions, batch 25 — length-tail fit, stopword coverage,
kNN-graph diagnostics.

Reference semantics: SURVEY §2 extension policy (mount empty).
length_pareto_ks extends the parametric-GOF family (gap_expfit_ks's
both-step-sides ECDF kernel) to the heavy-tail model corpus lengths
actually follow; corpus_stopword_coverage is the head-coverage
diagnostic behind stopword lists and tokenizer budgets;
knn_reciprocity composes the CERTIFIED sim_cosine_topk edges into the
graph-quality report (reciprocity, hubness) every ANN index is judged
by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum
from ._helpers import pin, r4
from .llm_pipeline import sim_cosine_topk

DEC12 = "decimal(38,12)"

STOP_K_SMALL = 10
STOP_K_BIG = 50


# ---------------------------------------------------------------------------
# length_pareto_ks — per-source power-law tail fit on doc lengths
# ---------------------------------------------------------------------------

@register(
    "length_pareto_ks",
    oracle="""
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v
      FROM documents WHERE n_chars > 0
    ), dv AS (
      SELECT source, v, CAST(count(*) AS BIGINT) AS c
      FROM d GROUP BY 1, 2
    ), fit AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(min(v) AS BIGINT) AS vmin,
             CAST(sum(CAST(c * ln(CAST(v AS DOUBLE))
                           AS DECIMAL(38,12))) AS DOUBLE) AS slnv
      FROM dv GROUP BY 1
    ), al AS (
      SELECT source, n, vmin,
             n / (slnv - n * ln(CAST(vmin AS DOUBLE))) AS alpha
      FROM fit
    ), cum AS (
      SELECT d.source, d.v, d.c,
             CAST(sum(d.c) OVER (PARTITION BY d.source ORDER BY d.v)
                  AS BIGINT) AS cw
      FROM dv d
    ), dev AS (
      SELECT c.source, a.n, a.vmin, a.alpha,
             greatest(
               abs(CAST(c.cw AS DOUBLE) / a.n
                   - (1 - pow(CAST(a.vmin AS DOUBLE) / c.v, a.alpha))),
               abs(CAST(c.cw - c.c AS DOUBLE) / a.n
                   - (1 - pow(CAST(a.vmin AS DOUBLE) / c.v, a.alpha)))
             ) AS dv
      FROM cum c JOIN al a ON c.source = a.source
    )
    SELECT source, max(n) AS n_docs, max(vmin) AS vmin,
           round(max(alpha), 4) AS alpha,
           round(max(dv), 4) AS ks_d
    FROM dev GROUP BY source
    """,
)
def length_pareto_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does each source's doc-length distribution follow a power law?
    Fit Pareto(vmin, α) by MLE (α = n / Σ ln(v/vmin) — one exact
    integer-count log-moment) per source and report the one-sample
    Kolmogorov-Smirnov D against the fitted CDF 1 − (vmin/v)^α,
    evaluated at BOTH step sides of the ECDF (gap_expfit_ks's
    continuous-model rule).  Heavy-tail vs lognormal is the first
    question about a crawl's length mix — a low ks_d says truncation
    thresholds should be set on the tail exponent.  The ECDF side is
    exact rational (grouped bucketed prefix sum over per-source
    distinct lengths — the value spine, never rows); the model side is
    one shared IEEE pow tree.  Only the length histogram touches
    data."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("source", F.col("n_chars").cast("long").alias("v"))
    )
    dv = d.groupBy("source", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    fit = dv.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.min("v").cast("long").alias("vmin"),
        F.sum(
            (F.col("c") * F.log(F.col("v").cast("double"))).cast(DEC12)
        ).cast("double").alias("slnv"),
    )
    al = fit.select(
        "source", "n", "vmin",
        (
            F.col("n")
            / (
                F.col("slnv")
                - F.col("n") * F.log(F.col("vmin").cast("double"))
            )
        ).alias("alpha"),
    )
    cum = grouped_range_prefix_sum(
        dv, ["source"], "v", "c", out="_cw",
        # r14 small-path opt-in (guide §1.2, the r13 stat_levene
        # pattern): the kernel input is <= one row per document, so the
        # documents footer row count bounds it — below the gate the
        # textbook window replaces the quantile action + two pins.
        small=catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "documents"),
    )
    j = (
        dv.join(cum.select("source", "v", F.col("_cw").alias("cw")),
                ["source", "v"])
        .join(F.broadcast(al), "source")
    )
    model = 1 - F.pow(
        F.col("vmin").cast("double") / F.col("v"), F.col("alpha")
    )
    dev = F.greatest(
        F.abs(F.col("cw").cast("long").cast("double") / F.col("n") - model),
        F.abs(
            (F.col("cw").cast("long") - F.col("c")).cast("double")
            / F.col("n") - model
        ),
    )
    return j.select("source", "n", "vmin", "alpha", dev.alias("dv")).groupBy(
        "source"
    ).agg(
        F.max("n").alias("n_docs"),
        F.max("vmin").alias("vmin"),
        r4(F.max("alpha")).alias("alpha"),
        r4(F.max("dv")).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# corpus_stopword_coverage — head-term token coverage per source
# ---------------------------------------------------------------------------

@register(
    "corpus_stopword_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ), ct AS (
      SELECT term, CAST(sum(c) AS BIGINT) AS cf FROM st GROUP BY 1
    ), top AS (
      SELECT term, row_number() OVER (ORDER BY cf DESC, term) AS rk
      FROM ct ORDER BY cf DESC, term LIMIT {STOP_K_BIG}
    ), cov AS (
      SELECT s.source, CAST(sum(s.c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN t.rk <= {STOP_K_SMALL} THEN s.c ELSE 0 END)
                  AS BIGINT) AS c_small,
             CAST(sum(CASE WHEN t.rk IS NOT NULL THEN s.c ELSE 0 END)
                  AS BIGINT) AS c_big
      FROM st s LEFT JOIN top t ON s.term = t.term
      GROUP BY s.source
    )
    SELECT source, n_tokens,
           round(CAST(c_small AS DOUBLE) / n_tokens, 4)
             AS cov_top{STOP_K_SMALL},
           round(CAST(c_big AS DOUBLE) / n_tokens, 4)
             AS cov_top{STOP_K_BIG}
    FROM cov
    """,
)
def corpus_stopword_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-term coverage: what share of each source's token stream is
    absorbed by the corpus-wide top-{STOP_K_SMALL} and
    top-{STOP_K_BIG} terms — the number that sizes a stopword list
    and predicts tokenizer compression (Zipf says ~half the stream is
    a handful of types; a source far off that line is structured data,
    not prose).  The head list is an ORDER-BY-complete top-k over the
    vocabulary aggregate whose row_number runs ONLY over the k-row
    result (the sample_bottomk convention); coverage is then one
    broadcast join of that k-row list against the per-(source, term)
    counts.  Only tokenization touches data."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ct = st.groupBy("term").agg(F.sum("c").cast("long").alias("cf"))
    topk = ct.orderBy(F.desc("cf"), "term").limit(STOP_K_BIG)
    top = topk.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cf"), "term"))
    ).select("term", "rk")
    cov = (
        st.join(F.broadcast(top), "term", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("rk") <= STOP_K_SMALL, F.col("c")).otherwise(0)
            ).cast("long").alias("c_small"),
            F.sum(
                F.when(F.col("rk").isNotNull(), F.col("c")).otherwise(0)
            ).cast("long").alias("c_big"),
        )
    )
    return cov.select(
        "source", "n_tokens",
        r4(F.col("c_small").cast("double") / F.col("n_tokens")).alias(
            f"cov_top{STOP_K_SMALL}"
        ),
        r4(F.col("c_big").cast("double") / F.col("n_tokens")).alias(
            f"cov_top{STOP_K_BIG}"
        ),
    )


# ---------------------------------------------------------------------------
# knn_reciprocity — graph-quality report over the certified kNN edges
# ---------------------------------------------------------------------------

@register(
    "knn_reciprocity",
    oracle="""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    knn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC,
                          b.vec_id) AS rn
        FROM n a JOIN n b ON a.vec_id <> b.vec_id
      ) t WHERE rn <= 5
    ), recip AS (
      SELECT CAST(count(*) AS BIGINT) AS n_recip
      FROM knn k JOIN knn r
        ON k.query_id = r.neighbor_id AND k.neighbor_id = r.query_id
    ), deg AS (
      SELECT neighbor_id, CAST(count(*) AS BIGINT) AS indeg
      FROM knn GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(count(DISTINCT query_id) AS BIGINT) AS n_vectors
      FROM knn
    )
    SELECT t.n_vectors, t.n_edges,
           round(CAST(r.n_recip AS DOUBLE) / t.n_edges, 4)
             AS reciprocal_share,
           (SELECT max(indeg) FROM deg) AS max_in_degree,
           round(CAST((SELECT CAST(count(*) AS BIGINT) FROM deg
                       WHERE indeg > 10) AS DOUBLE)
                 / t.n_vectors, 4) AS hub_share
    FROM tot t, recip r
    """,
)
def knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-quality report over the exact top-5 cosine kNN edges:
    reciprocity (what share of directed edges point both ways — low
    reciprocity marks asymmetric hub attraction), the maximum
    in-degree, and the hub share (vectors cited by > 2k queries) — the
    diagnostics that predict whether an ANN index built on this corpus
    will suffer hub pollution.  The edge list is sim_cosine_topk's
    CERTIFIED kernel reused verbatim; reciprocity is one self-equi-join
    of the n·k edge list on the reversed pair (k-bounded fan), and the
    degree stats are combinable aggregates over it — nothing downstream
    of the kNN computation is data-sized beyond n·k."""
    # pinned: the n*k edge list feeds rev/join/deg/tot — un-pinned each
    # re-ran the full kNN kernel (plan-audit, SCALE.md §50).
    knn = pin(sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id"))
    rev = knn.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    n_recip = knn.join(rev, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_recip")
    )
    deg = knn.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    tot = knn.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.countDistinct("query_id").cast("long").alias("n_vectors"),
    )
    degs = deg.agg(
        F.max("indeg").cast("long").alias("max_in_degree"),
        F.sum(F.when(F.col("indeg") > 10, 1).otherwise(0))
        .cast("long").alias("n_hubs"),
    )
    return (
        tot.crossJoin(F.broadcast(n_recip))
        .crossJoin(F.broadcast(degs))
        .select(
            "n_vectors", "n_edges",
            r4(
                F.col("n_recip").cast("double") / F.col("n_edges")
            ).alias("reciprocal_share"),
            "max_in_degree",
            r4(
                F.col("n_hubs").cast("double") / F.col("n_vectors")
            ).alias("hub_share"),
        )
    )
