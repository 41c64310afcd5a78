"""Round-7 additions, batch 12a — IVF retrieval evaluation.

Reference semantics: SURVEY §2 extension policy (mount empty) — the
evaluation harness for the IVF family, the lsh_eval twin: measure what
the nprobe=1 IVF index actually buys (recall@k vs the exact scan, and
the fraction of the corpus it had to touch).  The sketch is evaluated,
not trusted — same doctrine that certified lsh_eval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import spread_scan
from ..registry import register
from ._helpers import pin, r4
from .llm_pipeline import _IVF_SEED_SQL, N_CENTROIDS, _emb, ann_ivf_assign

IVF_EVAL_K = 3
IVF_EVAL_MOD = 10  # query set: vec_id % MOD == 0

_FOLD = (
    "list_reduce(list_transform({v}, x -> x * x), (acc, x) -> acc + x)"
)
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]),"
    " (acc, x) -> acc + x)"
)


@register(
    "ivf_eval",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY {_IVF_SEED_SQL}, vec_id) - 1
               AS c_idx,
             e AS c,
             sqrt({_FOLD.format(v='e')}) AS cnorm
      FROM emb
      ORDER BY {_IVF_SEED_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    ), apairs AS (
      SELECT q.vec_id, s.c_idx,
             {_DOT.format(a='q.e', b='s.c')}
             / (sqrt({_FOLD.format(v='q.e')}) * s.cnorm) AS sim
      FROM emb q CROSS JOIN seeds s
    ), assign AS (
      SELECT vec_id, c_idx AS bucket
      FROM (SELECT vec_id, c_idx,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, c_idx) AS rn
            FROM apairs)
      WHERE rn = 1
    ), q AS (
      SELECT vec_id AS qid, e AS qe FROM emb
      WHERE vec_id % {IVF_EVAL_MOD} = 0
    ), cp AS (
      SELECT q.qid, c.vec_id AS cid,
             {_DOT.format(a='q.qe', b='c.e')}
             / (sqrt({_FOLD.format(v='q.qe')})
                * sqrt({_FOLD.format(v='c.e')})) AS sim
      FROM q CROSS JOIN emb c WHERE c.vec_id <> q.qid
    ), ex AS (
      SELECT qid, cid
      FROM (SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM cp)
      WHERE rn <= {IVF_EVAL_K}
    ), ip_all AS (
      SELECT cp.qid, cp.cid, cp.sim
      FROM cp
      JOIN assign qa ON qa.vec_id = cp.qid
      JOIN assign ca ON ca.vec_id = cp.cid AND ca.bucket = qa.bucket
    ), iv AS (
      SELECT qid, cid
      FROM (SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM ip_all)
      WHERE rn <= {IVF_EVAL_K}
    ), agg AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM q) AS nq,
             (SELECT CAST(count(*) AS BIGINT) FROM emb) AS nn,
             (SELECT CAST(count(*) AS BIGINT)
              FROM ex JOIN iv USING (qid, cid)) AS hits,
             (SELECT CAST(count(*) AS BIGINT) FROM ip_all) AS nc
    )
    SELECT nq AS n_queries,
           round(CAST(hits AS DOUBLE) / ({IVF_EVAL_K} * nq), 4)
             AS recall_at_k,
           round(CAST(nc AS DOUBLE) / (CAST(nq AS DOUBLE) * (nn - 1)), 4)
             AS scan_frac
    FROM agg
    """,
)
def ivf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{IVF_EVAL_K} and corpus scan fraction of the nprobe=1 IVF
    index against the exact cosine scan, over the deterministic
    vec_id % {IVF_EVAL_MOD} query set — the index is EVALUATED, not
    trusted (lsh_eval's doctrine applied to the IVF family).  The bucket
    assignment is the certified production basis (ann_ivf_assign's
    md5-seeded centroids, called directly so this op can never drift
    from it); cosine uses the same strict-fold tree, so the exact and
    IVF top-k picks are bit-identical cross-engine and every recall hit
    is an integer set-intersection fact.  Scale shape: the exact side
    is the query-broadcast scan (|Q| x N — the ground-truth price, which
    is why |Q| is a sample); the IVF side joins through the bucket
    assignment and touches scan_frac of that.  Both top-k windows
    partition on qid (high-cardinality, scale-safe)."""
    emb = _emb(spark, sf_dir)
    # pinned: consumed as both the query-side and candidate-side lookup
    # (the un-pinned form re-ran the centroid assignment per side).
    assign = pin(ann_ivf_assign(spark, sf_dir).select("vec_id", "bucket"))
    q = emb.filter(F.col("vec_id") % IVF_EVAL_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    sq = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # r13 (guide §1.2 per-task work): both norms are per-VECTOR
    # quantities — hoisted out of the |Q|×N per-pair expression they
    # evaluated 3 folds per pair (dot + both norms); now each vector's
    # norm computes once in its own projection and the pair expression
    # is the dot fold plus one divide.  Bit-identical: identical IEEE
    # ops on identical operands in the identical tree
    # dot / (qnorm * cnorm), so every sim, both top-k selections, and
    # the rounded outputs are unchanged.
    q_n = q.select("qid", "qe", F.sqrt(sq(F.col("qe"))).alias("qnorm"))
    emb_n = emb.select(
        "vec_id", "e", F.sqrt(sq(F.col("e"))).alias("cnorm")
    )
    # scan-spread gate (r14, guide §2.5; the knn_label_eval fix):
    # embeddings is one parquet row group at the benched SFs, so the
    # |Q|xN fold stream ran as ONE task regardless of core count; the
    # footer-gated hash repartition fans it out.  Never fires at
    # warehouse scale.
    emb_n = spread_scan(emb_n, sf_dir, "embeddings", "vec_id", 200_000)
    sim = dot / (F.col("qnorm") * F.col("cnorm"))
    cp = (
        emb_n.crossJoin(F.broadcast(q_n))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    qa = assign.withColumnRenamed("vec_id", "qid")
    ca = assign.withColumnRenamed("vec_id", "cid").withColumnRenamed(
        "bucket", "cbucket"
    )
    # SINGLE-PASS evaluation (plan-audit, SCALE.md §50): the naive form
    # built ex / ip_all / iv / hits / nc as separate frames, and every
    # consumer re-ran the |Q|xN similarity cross-join — 12 executed
    # scans.  Instead, attach the bucket-match flag to each scored pair
    # ONCE, rank twice over the same frame (rn_all over qid; rn_ivf over
    # (qid, same-bucket), valid because the IVF candidate set is exactly
    # the bucket-matched rows), and reduce every output metric with flag
    # arithmetic — no self-joins, no second similarity pass, and nothing
    # row-sized is materialized.
    flagged = (
        cp.join(F.broadcast(qa), "qid")
        .join(F.broadcast(ca), "cid")
        .withColumn("bmatch", F.col("bucket") == F.col("cbucket"))
    )
    w_ivf = Window.partitionBy("qid", "bmatch").orderBy(
        F.col("sim").desc(), F.col("cid")
    )
    ranked = flagged.withColumn("rn_all", F.row_number().over(w)).withColumn(
        "rn_ivf", F.row_number().over(w_ivf)
    )
    in_ex = F.col("rn_all") <= IVF_EVAL_K
    in_iv = F.col("bmatch") & (F.col("rn_ivf") <= IVF_EVAL_K)
    stats = ranked.agg(
        F.sum(F.when(in_ex & in_iv, 1).otherwise(0))
        .cast("long")
        .alias("hits"),
        F.sum(F.when(F.col("bmatch"), 1).otherwise(0))
        .cast("long")
        .alias("nc"),
    )
    stats = pin(stats)  # 1 row, two consumers below
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("nq"))
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    hits = stats.select("hits")
    nc = stats.select("nc")
    m = (
        nq.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(nc))
    )
    return m.select(
        F.col("nq").alias("n_queries"),
        r4(
            F.col("hits").cast("double") / (IVF_EVAL_K * F.col("nq"))
        ).alias("recall_at_k"),
        r4(
            F.col("nc").cast("double")
            / (F.col("nq").cast("double") * (F.col("nn") - 1))
        ).alias("scan_frac"),
    )
