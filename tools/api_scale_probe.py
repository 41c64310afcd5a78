"""Round-9 directive-6 probes (SCALE.md §60): 16x disjoint-vocabulary
scaling of api.near_dup_clusters / api.dedup_corpus (only 4x existed,
§57-58), with the label-propagation round count recorded against the
component diameter; plus api.vector_search with a 10x query side to
confirm the broadcast stays model-sized.

Disjoint-vocab synthesis: every copy k rewrites each token t -> t_k, so
copies share NO shingles and the true near-dup pair graph grows exactly
k-fold (the honest scale axis — literal duplication grows pair count
quadratically because the PROBLEM does, §57).

Run idle: python tools/api_scale_probe.py [--mult 16] [--only ndc,dedup,vs]
"""

from __future__ import annotations

import argparse
import sys
import time
import warnings
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def synth_docs(spark, mult: int):
    from secdb_spark.catalog import table

    d = table(spark, SF_DIR, "documents").select("doc_id", "text")
    parts = []
    for k in range(mult):
        tagged = F.array_join(
            F.transform(
                F.split("text", " "),
                lambda t: F.concat(t, F.lit(f"_{k}")),
            ),
            " ",
        )
        parts.append(
            d.select(
                (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
                tagged.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()  # timing isolates the op, not the synth


def time_ndc(spark, df, fn_name: str):
    from secdb_spark import api

    fn = getattr(api, fn_name)
    t0 = time.time()
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        n = fn(df, "doc_id", "text").count()
    wall = time.time() - t0
    unconverged = any("did not converge" in str(w.message) for w in rec)
    return n, wall, unconverged, api._LAST_NDC_ROUNDS


def time_vs(spark, q_mult: int):
    from secdb_spark import api
    from secdb_spark.catalog import table

    em = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    qs = [
        em.limit(200).select(
            (F.col("vec_id") + F.lit(k * 1_000_000)).alias("qid"),
            F.col("embedding").alias("qvec"),
        )
        for k in range(q_mult)
    ]
    q = qs[0]
    for p in qs[1:]:
        q = q.unionByName(p)
    q = q.localCheckpoint()
    res = api.vector_search(em, q, "vec_id", "embedding", "qid", "qvec", k=5)
    plan = res._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        res._jdf.queryExecution(), "formatted"
    )
    broadcasted = "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    t0 = time.time()
    n = res.count()
    return n, time.time() - t0, broadcasted


def time_cc_chain(spark, n_chains: int, diameter: int, mode: str,
                  max_rounds: int):
    """Round-10 directive-5 probe: connected_components on a long-chain
    graph (n_chains disjoint paths of `diameter` edges each) — the shape
    where the default min-label rule needs O(diameter) rounds and
    mode='doubling' should need O(log diameter)."""
    from secdb_spark import api

    edges = spark.range(n_chains * diameter).select(
        # node ids: chain c holds c*(d+1) .. c*(d+1)+d; edge i links
        # consecutive nodes of chain i // diameter
        (F.col("id") + (F.col("id") / diameter).cast("long")).alias("a"),
        (F.col("id") + (F.col("id") / diameter).cast("long") + 1).alias("b"),
    ).localCheckpoint()
    t0 = time.time()
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = api.connected_components(edges, "a", "b",
                                       max_rounds=max_rounds, mode=mode)
        n_comp = out.select("component").distinct().count()
    wall = time.time() - t0
    unconverged = any("did not converge" in str(w.message) for w in rec)
    return n_comp, wall, unconverged, api._LAST_NDC_ROUNDS


def time_curate(spark, df):
    """Round-10 directive-6 probe: curate_corpus END-TO-END with every
    stage on (quality gate + exact dedup + near_dup=True + eval_df
    decontamination) — the one-call composition with the stage-boundary
    checkpoint.  eval_df is 50 corpus texts, so decontamination has
    real 13-gram hits.  Also times the stage-boundary materialization
    alone (quality gate + exact stage -> localCheckpoint) to price the
    checkpoint."""
    from pyspark.sql import Window

    from secdb_spark import api

    eval_df = df.orderBy("doc_id").limit(50).select(
        F.col("text").alias("etext")
    ).localCheckpoint()
    t0 = time.time()
    out = api.curate_corpus(
        df, "doc_id", "text",
        near_dup=True, eval_df=eval_df, eval_text_col="etext",
    )
    n_out = out.count()
    wall = time.time() - t0
    # stage-boundary cost: the gated+exact survivor frame materialized
    # alone (what the localCheckpoint inside curate_corpus pays)
    gated = api.quality_flags(df, "text").filter(F.col("keep")).select(
        *df.columns
    )
    wc = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    surv = (
        gated.withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    t1 = time.time()
    pinned = surv.localCheckpoint()
    n_surv = pinned.count()
    ckpt = time.time() - t1
    return n_out, wall, n_surv, ckpt


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=16)
    ap.add_argument("--only", default="ndc,dedup,vs")
    ap.add_argument("--chains", type=int, default=6000)
    ap.add_argument("--diameter", type=int, default=100)
    args = ap.parse_args()
    only = set(args.only.split(","))

    from secdb_spark.session import get_spark

    spark = get_spark("api-scale-probe")
    base = synth_docs(spark, 1)

    if "ndc" in only or "dedup" in only:
        big = synth_docs(spark, args.mult)
        for key, fn in (("ndc", "near_dup_clusters"), ("dedup", "dedup_corpus")):
            if key not in only:
                continue
            n1, w1, u1, r1 = time_ndc(spark, base, fn)
            nk, wk, uk, rk = time_ndc(spark, big, fn)
            print(
                f"{fn}: 1x rows={n1} wall={w1:.1f}s rounds={r1} | "
                f"{args.mult}x rows={nk} wall={wk:.1f}s rounds={rk} | "
                f"ratio={wk / w1:.2f} rows_ratio={nk / max(n1, 1):.2f} "
                f"unconverged={u1}/{uk}"
            )

    if "curate" in only:
        big = synth_docs(spark, 4)
        n1, w1, s1, c1 = time_curate(spark, base)
        n4, w4, s4, c4 = time_curate(spark, big)
        print(
            f"curate_corpus[all stages]: 1x out={n1} wall={w1:.1f}s "
            f"ckpt_rows={s1} ckpt={c1:.1f}s | 4x out={n4} wall={w4:.1f}s "
            f"ckpt_rows={s4} ckpt={c4:.1f}s | ratio={w4 / w1:.2f}"
        )

    if "chain" in only:
        d = args.diameter
        for mode, mr in (("doubling", 2 * d), ("minlabel", 2 * d)):
            nc, w, unc, rounds = time_cc_chain(
                spark, args.chains, d, mode, mr
            )
            print(
                f"connected_components[{mode}]: chains={args.chains} "
                f"diameter={d} components={nc} rounds={rounds} "
                f"wall={w:.1f}s unconverged={unc}"
            )

    if "bbit" in only:
        # §69 follow-up: dedup_minhash_b_bit on the HONEST axis.  The
        # verbatim-copy scale probe grows true candidate pairs ~16x at
        # 4x (measured: 5.96M -> 95.4M); disjoint vocab grows them
        # exactly 4x, so the wall ratio here reads the plan's scaling,
        # not the problem's.  The op reads only `documents`.
        import shutil
        import tempfile

        from op_ab import time_op

        from secdb_spark.registry import all_queries

        op = all_queries()["dedup_minhash_b_bit"]
        tmp = tempfile.mkdtemp(prefix="secdb_bbit_")
        try:
            walls = {}
            for mult in (1, 4):
                sf_dir = f"{tmp}/{mult}x"
                synth_docs(spark, mult).write.parquet(
                    f"{sf_dir}/documents.parquet"
                )
                walls[mult] = sum(time_op(spark, op, sf_dir, 1)[:2])
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(
            f"dedup_minhash_b_bit[disjoint-vocab]: 1x wall={walls[1]:.1f}s | "
            f"4x wall={walls[4]:.1f}s | ratio={walls[4] / walls[1]:.2f}"
        )

    if "vs" in only:
        n1, w1, b1 = time_vs(spark, 1)
        nk, wk, bk = time_vs(spark, 10)
        print(
            f"vector_search: 1x(200q) rows={n1} wall={w1:.1f}s bcast={b1} "
            f"| 10x(2000q) rows={nk} wall={wk:.1f}s bcast={bk} "
            f"| ratio={wk / w1:.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
