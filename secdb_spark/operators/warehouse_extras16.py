"""Round-7 additions, batch 18 — streaming CDC apply, k-NN label
evaluation, Lorenz decile curve.

Reference semantics: SURVEY §2 extension policy (mount empty).
stream_cdc_apply extends the streaming family's batch-equivalence
doctrine to tombstone deletes; knn_label_eval extends the
evaluate-don't-trust doctrine to embedding label quality;
customer_lorenz_deciles puts the Gini's underlying curve on the
bucketed global-rank kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import spread_scan, table
from ..registry import register
from ..session import scratch_dir
from ._global_order import bucketed_global_rank, ntile_from_rank
from ._helpers import pin, dsum_scaled, r4
from .llm_pipeline import _emb

# ---------------------------------------------------------------------------
# stream_cdc_apply — streaming change-log apply with delete tombstones
# ---------------------------------------------------------------------------

@register(
    "stream_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT o_orderkey,
             unnest(generate_series(0, CAST(o_orderkey % 3 AS BIGINT))) AS seq,
             o_totalprice
      FROM orders
    ), typed AS (
      SELECT o_orderkey, seq,
             CASE WHEN o_orderkey % 10 = 0 AND seq = o_orderkey % 3
                  THEN 'D' ELSE 'U' END AS op,
             round(o_totalprice + seq, 4) AS val
      FROM log
    ), latest AS (
      SELECT o_orderkey, seq, op, val,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY seq DESC) AS rn
      FROM typed
    )
    SELECT o_orderkey, val AS latest_value
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply with DELETE tombstones — cdc_upsert's
    change-log consumed as a real multi-trigger stream: each micro-batch
    MERGEs into the keyed state keeping the max-seq record per key
    (tombstones INCLUDED — dropping a 'D' early would resurrect the key
    if a stale batch arrived later), and only the final read filters
    deletes out.  Max-seq-wins is associative and commutative, so ANY
    batch split/order yields exactly the batch answer — the streaming
    family's batch-equivalence doctrine extended to deletes.  State
    size is |keys|; each merge shuffles state+batch on the key."""
    import os

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    log = o.select(
        "o_orderkey",
        F.explode(
            F.sequence(F.lit(0), (F.col("o_orderkey") % 3).cast("int"))
        ).alias("seq"),
        "o_totalprice",
    )
    typed = log.select(
        "o_orderkey",
        "seq",
        F.when(
            (F.col("o_orderkey") % 10 == 0)
            & (F.col("seq") == (F.col("o_orderkey") % 3)),
            "D",
        ).otherwise("U").alias("op"),
        F.round(F.col("o_totalprice") + F.col("seq"), 4).alias("val"),
    )
    stage = scratch_dir("cdc")
    typed.repartition(3).write.mode("overwrite").parquet(
        os.path.join(stage, "in")
    )
    stream = (
        spark.readStream.schema(typed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "in"))
    )
    state_base = os.path.join(stage, "state")
    latest_version: list[int] = []
    w = Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())

    def merge(batch_df, batch_id: int) -> None:
        cur = batch_df
        if latest_version:
            prev = batch_df.sparkSession.read.parquet(
                f"{state_base}/v{latest_version[-1]}"
            )
            cur = prev.unionByName(batch_df)
        latest = (
            cur.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        latest.write.mode("overwrite").parquet(f"{state_base}/v{batch_id}")
        latest_version.append(batch_id)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option(
            "checkpointLocation", os.path.join(stage, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("stream_cdc_apply: stream did not drain in 120s")
    final = spark.read.parquet(f"{state_base}/v{latest_version[-1]}")
    return final.filter(F.col("op") != "D").select(
        "o_orderkey", F.col("val").alias("latest_value")
    )


# ---------------------------------------------------------------------------
# knn_label_eval — 3-NN majority-vote label accuracy
# ---------------------------------------------------------------------------

KNN_K = 3
KNN_MOD = 10

_FOLD = "list_reduce(list_transform({v}, x -> x * x), (acc, x) -> acc + x)"
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]),"
    " (acc, x) -> acc + x)"
)


@register(
    "knn_label_eval",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, label AS qlabel, e AS qe FROM emb
      WHERE vec_id % {KNN_MOD} = 0
    ), cp AS (
      SELECT q.qid, q.qlabel, c.label AS clabel,
             {_DOT.format(a='q.qe', b='c.e')}
             / (sqrt({_FOLD.format(v='q.qe')})
                * sqrt({_FOLD.format(v='c.e')})) AS sim,
             c.vec_id AS cid
      FROM q CROSS JOIN emb c WHERE c.vec_id <> q.qid
    ), nn AS (
      SELECT qid, qlabel, clabel
      FROM (SELECT qid, qlabel, clabel,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid) AS rn
            FROM cp)
      WHERE rn <= {KNN_K}
    ), votes AS (
      SELECT qid, qlabel, clabel, CAST(count(*) AS BIGINT) AS v
      FROM nn GROUP BY 1, 2, 3
    ), pick AS (
      SELECT qid, qlabel, clabel AS pred
      FROM (SELECT qid, qlabel, clabel,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY v DESC, clabel) AS rn
            FROM votes)
      WHERE rn = 1
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(*) FILTER (WHERE pred = qlabel) AS BIGINT)
             AS n_correct,
           round(CAST(count(*) FILTER (WHERE pred = qlabel) AS DOUBLE)
                 / count(*), 4) AS accuracy
    FROM pick GROUP BY qlabel
    """,
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KNN_K}-NN majority-vote label accuracy per class over the
    deterministic vec_id % {KNN_MOD} query sample — the
    label-consistency score of the embedding space (a class whose
    members' nearest neighbors vote for other classes is mislabeled or
    unseparated; embed_margin's centroid view refined to actual
    neighbors).  Exact cosine with the shared strict-fold tree;
    tie-safe neighbor pick (sim DESC, cid) and tie-safe vote pick
    (count DESC, label ASC) make the prediction deterministic
    cross-engine.  The ground-truth scan is the evaluation price
    (|Q| x N, query-broadcast); both top-k windows partition on qid."""
    # vec/label/embedding all live in ONE parquet — read them in one
    # scan instead of self-joining the table against itself (plan-audit,
    # SCALE.md §50; the join form executed 4 embedding scans).
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    q = emb.filter(F.col("vec_id") % KNN_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    sq = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # r14 (guide §1.2 per-task work; the ivf_eval r13 precedent): both
    # norms are per-VECTOR quantities — hoisted out of the |Q|xN
    # per-pair expression that evaluated 3 interpreted HOF folds per
    # pair (dot + both norms: ~77M fold steps at sf0.1); now each
    # vector's norm computes once in its own projection and the pair
    # expression is the dot fold plus one divide.  Bit-identical:
    # identical IEEE ops on identical operands in the identical tree
    # dot / (qnorm * cnorm), so every sim, the top-k pick, the vote and
    # the rounded accuracy are unchanged.
    q_n = q.select(
        "qid", "qlabel", "qe", F.sqrt(sq(F.col("qe"))).alias("qnorm")
    )
    emb_n = emb.select(
        "vec_id", "label", "e", F.sqrt(sq(F.col("e"))).alias("cnorm")
    )
    # scan-spread gate (r13/r14, guide §2.5): embeddings is one parquet
    # row group at the benched SFs, so the |Q|xN fold stream runs as ONE
    # task regardless of core count; when scan parallelism is
    # row-group-bound and the table is gate-small, one cheap hash
    # repartition spreads the fold.  Never fires at warehouse scale.
    emb_n = spread_scan(emb_n, sf_dir, "embeddings", "vec_id", 200_000)
    sim = dot / (F.col("qnorm") * F.col("cnorm"))
    cp = (
        emb_n.crossJoin(F.broadcast(q_n))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col("label").alias("clabel"),
            sim.alias("sim"),
            F.col("vec_id").alias("cid"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cid"))
    nn = (
        cp.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= KNN_K)
        .select("qid", "qlabel", "clabel")
    )
    votes = nn.groupBy("qid", "qlabel", "clabel").agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("v").desc(), F.col("clabel")
    )
    pick = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("qid", "qlabel", F.col("clabel").alias("pred"))
    )
    return pick.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count(F.when(F.col("pred") == F.col("qlabel"), 1)).alias(
            "n_correct"
        ),
        r4(
            F.count(F.when(F.col("pred") == F.col("qlabel"), 1)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# customer_lorenz_deciles — the Lorenz curve under agg_gini
# ---------------------------------------------------------------------------

@register(
    "customer_lorenz_deciles",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS revq
      FROM orders GROUP BY o_custkey
    ), d AS (
      SELECT revq, ntile(10) OVER (ORDER BY revq, o_custkey) AS decile
      FROM cr
    ), g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(revq) AS BIGINT) AS rev
      FROM d GROUP BY decile
    ), t AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM g)
    SELECT CAST(decile AS INT) AS decile, n_customers,
           round(CAST(rev AS DOUBLE) / t.tot, 4) AS share,
           round(CAST(sum(rev) OVER (ORDER BY decile) AS DOUBLE)
                 / t.tot, 4) AS cum_share
    FROM g, t
    """,
)
def customer_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve at decile resolution: customers ranked by
    revenue (ascending, tie-safe on custkey), split into SQL-exact
    ntile(10) deciles, each decile's revenue share and the cumulative
    share — the curve agg_gini integrates, drawn explicitly.  The
    data-sized ranking dispatches to the bucketed global-rank kernel +
    ntile_from_rank (bit-equal to SQL ntile, the win_ntile/customer_rfm
    machinery — no single-partition window over customers); the share
    windows run over the 10-row decile aggregate."""
    # pinned: cr feeds the count + the rank kernel's three internal
    # consumers; g feeds the total + the share projection (plan-audit,
    # SCALE.md §50; un-pinned: 8 orders scans).
    cr = pin(table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        dsum_scaled(F.col("o_totalprice"), 2).cast("long").alias("revq")
    ))
    n = cr.agg(F.count(F.lit(1)).alias("n"))
    ranked = bucketed_global_rank(
        cr, "revq", ["o_custkey"], desc=False, out="_rk"
    ).crossJoin(F.broadcast(n))
    d = ranked.withColumn(
        "decile", ntile_from_rank(F.col("_rk"), F.col("n"), 10)
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("revq").cast("long").alias("rev"),
    )
    g = pin(g)
    t = g.agg(F.sum("rev").cast("long").alias("tot"))
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            r4(F.col("rev").cast("double") / F.col("tot")).alias("share"),
            r4(
                F.sum("rev").over(wc).cast("double") / F.col("tot")
            ).alias("cum_share"),
        )
    )
