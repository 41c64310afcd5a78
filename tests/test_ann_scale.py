"""Scale-path tests for the distributed ANN kernels (VERDICT r1 items 3+4).

The registered ops take the broadcast path at test scale (corpus <=
BROADCAST_MAX_VECTORS); these tests drive the DISTRIBUTED kernels directly
and prove (a) the bucketed exact path equals the broadcast path, (b) IVF
probing actually bounds the candidate rows scanned, (c) the blocked
all-pairs path equals the broadcast threshold path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR, above_gates

from secdb_spark.operators import llm_pipeline as lp


def _topk_set(df):
    return {(r.query_id, r.neighbor_id, r.sim) for r in df.collect()}


def test_bucketed_exact_equals_broadcast(spark):
    """probe == N_CENTROIDS makes the bucketed kernel an exact distributed
    brute force — it must reproduce the broadcast kernel bit-for-bit."""
    emb = lp._emb(spark, SF_DIR)
    broad = _topk_set(lp._topk_broadcast(spark, emb))
    bucketed = _topk_set(lp._topk_bucketed(spark, emb, probe=lp.N_CENTROIDS))
    assert bucketed == broad


def test_ann_ivf_prunes_candidate_scans(spark):
    """IVF economics: rows scanned = sum over queries of the sizes of their
    probed buckets. Must be bounded by probe/n_cent of the all-pairs scan
    (x2 tolerance for bucket skew) and strictly below all-pairs."""
    emb = lp._emb(spark, SF_DIR)
    n = emb.count()
    cand, probes = lp._ivf_parts(spark, emb, probe=lp.IVF_PROBE)
    sizes = cand.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsize"))
    scanned = (
        probes.join(sizes, "bucket")
        .agg(F.sum("bsize").alias("total_scanned"))
        .collect()[0]
        .total_scanned
    )
    all_pairs = n * n
    ideal_frac = lp.IVF_PROBE / lp.N_CENTROIDS
    frac = scanned / all_pairs
    assert frac < 1.0, "IVF must scan fewer candidate rows than brute force"
    assert frac <= ideal_frac * 2.0, (
        f"scanned fraction {frac:.3f} exceeds 2x ideal {ideal_frac:.3f} "
        "(bucket skew out of control)"
    )


def test_ivf_self_bucket_always_probed(spark):
    """A vector's own bucket must be its rank-1 probe (assignment and probe
    ordering share the same float ops) — this is what guarantees
    probe==N_CENTROIDS is exact and helps recall at low probe counts."""
    emb = lp._emb(spark, SF_DIR)
    cand, probes = lp._ivf_parts(spark, emb, probe=1)
    own = cand.select("vec_id", F.col("bucket").alias("own_bucket"))
    top1 = probes.select("vec_id", F.col("bucket").alias("probe_bucket"))
    mismatch = own.join(top1, "vec_id").filter(
        F.col("own_bucket") != F.col("probe_bucket")
    )
    assert mismatch.count() == 0


def test_blocked_pairs_equals_broadcast(spark):
    """The distributed blocked all-pairs kernel must reproduce the
    registered (broadcast) embed_neardup output exactly."""
    emb = lp._emb(spark, SF_DIR)
    blocked = {
        (r.vec_a, r.vec_b, r.sim)
        for r in lp._pairs_blocked(spark, emb, threshold=0.4).collect()
    }
    broad = {
        (r.vec_a, r.vec_b, r.sim)
        for r in lp.embed_neardup(spark, SF_DIR).collect()
    }
    assert blocked == broad
    assert len(broad) > 0  # threshold is meaningfully selective, not empty


def test_no_corpus_collect_above_gate(spark, monkeypatch):
    """Above BROADCAST_MAX_VECTORS the exact op must route to the bucketed
    kernel (no toPandas of the corpus)."""
    above_gates(monkeypatch)

    def boom(self):  # any driver collect of the emb table would call this
        raise AssertionError("toPandas() called above the broadcast gate")

    monkeypatch.setattr("pyspark.sql.DataFrame.toPandas", boom)
    out = lp._cosine_topk_exact(spark, SF_DIR)
    assert out.limit(1).count() == 1


def test_ann_lsh_recall_beats_equal_cost_random(spark):
    """ann_lsh probes (1 + LSH_BITS) of 2^LSH_BITS buckets (~11% of the
    corpus). On the near-random synthetic embeddings its recall@5 must
    clearly beat scanning the same fraction at random (deterministic:
    seeded hyperplanes, no RNG at query time)."""
    lsh = lp.ann_lsh(spark, SF_DIR).toPandas()
    exact = lp.sim_cosine_topk(spark, SF_DIR).toPandas()
    le = set(map(tuple, lsh[["query_id", "neighbor_id"]].itertuples(index=False)))
    ex = set(map(tuple, exact[["query_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(le & ex) / len(ex)
    probed_frac = (1 + lp.LSH_BITS) / (1 << lp.LSH_BITS)
    assert recall >= 1.8 * probed_frac, (
        f"recall {recall:.3f} does not beat equal-cost random "
        f"({probed_frac:.3f} of corpus scanned)"
    )
    # every query must still produce a full top-k at this corpus density
    assert lsh.groupby("query_id").size().min() == lp.TOP_K


def test_ann_lsh_buckets_bound_candidate_scans(spark):
    """LSH economics mirror IVF's: rows scanned = sum over probes of the
    probed bucket's size — bounded by the probed-bucket fraction of
    all-pairs (x3 tolerance: hyperplane buckets are skewed on clustered
    data, that's inherent to data-independent LSH)."""
    emb = lp._emb(spark, SF_DIR)
    n = emb.count()
    import pandas as pd
    lsh = lp.ann_lsh(spark, SF_DIR)  # noqa: F841  (builds the same parts)
    # rebuild the assign/probe parts exactly as the op does
    import numpy as np

    pdf = emb.toPandas()
    planes = np.random.RandomState(lp.LSH_SEED).standard_normal(
        (lp.LSH_BITS, len(pdf["e"].iloc[0]))
    )
    M = np.stack(pdf["e"].to_numpy())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    codes = ((Mn @ planes.T) >= 0.0) @ (1 << np.arange(lp.LSH_BITS))
    sizes = pd.Series(codes).value_counts()
    scanned = 0
    for c in codes:
        probes = [int(c)] + [int(c) ^ (1 << j) for j in range(lp.LSH_BITS)]
        scanned += sum(int(sizes.get(p, 0)) for p in probes)
    frac = scanned / (n * n)
    ideal = (1 + lp.LSH_BITS) / (1 << lp.LSH_BITS)
    assert frac < 1.0
    assert frac <= ideal * 3.0, (
        f"scanned fraction {frac:.3f} exceeds 3x ideal {ideal:.3f}"
    )
