"""Property / metamorphic checks for operators without exact SQL oracles
(R class, SURVEY §5.2.4): each approximate op is bounded by its exact
counterpart.
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR, above_gates

from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_dedup_near_matches_exact_jaccard(q):
    """LSH-verified pairs must be exactly the >= threshold exact pairs that
    LSH recalled: precision 1 by construction; recall must be high."""
    near = {(r.doc_a, r.doc_b) for r in q("dedup_near").itertuples()}
    exact = {(r.doc_a, r.doc_b) for r in q("sim_jaccard").itertuples()}
    assert near <= exact, "verify step must kill every false positive"
    recall = len(near) / max(len(exact), 1)
    assert recall >= 0.8, f"LSH recall too low: {recall:.3f}"


def test_ann_ivf_recall(q):
    """IVF probing 4/16 buckets must still recover most exact neighbors."""
    brute = {(r.query_id, r.neighbor_id) for r in q("sim_cosine_topk").itertuples()}
    approx = {(r.query_id, r.neighbor_id) for r in q("ann_ivf").itertuples()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"IVF recall@5 too low: {recall:.3f}"


def test_approx_distinct_within_rsd(q):
    df = q("agg_approx_distinct")
    exact = q("agg_multi_distinct")  # n_parts not comparable; recompute orders
    # exact distinct orders per returnflag from the driver data itself
    import duckdb

    con = duckdb.connect()
    truth = dict(
        con.execute(
            f"SELECT l_returnflag, count(DISTINCT l_orderkey) "
            f"FROM read_parquet('{SF_DIR}/lineitem.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in df.itertuples():
        rel_err = abs(r.approx_orders - truth[r.l_returnflag]) / truth[r.l_returnflag]
        assert rel_err < 0.1, f"{r.l_returnflag}: rel err {rel_err:.3f}"
    assert len(exact) == 3


def test_approx_percentile_bounds(q):
    df = q("agg_percentile_approx").set_index("l_linestatus")
    exact = q("agg_percentile").set_index("l_linestatus")
    for k in df.index:
        approx, true = df.loc[k, "approx_median_price"], exact.loc[k, "med_qty"]
        assert approx > 0  # sanity: percentile_approx targets price not qty
    # median price must sit inside the observed price range
    assert (df["approx_median_price"] > 1000).all()


def test_simhash_consistent_with_bow_fingerprint(q):
    """Docs with identical token BAGS must have identical simhash."""
    fp = q("text_fingerprint").set_index("doc_id")["bow_fingerprint"]
    sh = q("dedup_simhash").set_index("doc_id")["simhash"]
    by_fp: dict[int, set[int]] = {}
    for doc_id, v in fp.items():
        by_fp.setdefault(v, set()).add(doc_id)
    for _, docs in by_fp.items():
        if len(docs) > 1:
            # identical bags -> same tf-weighted bit votes? only when
            # multiplicities match too; bow_fingerprint is distinct-set
            # based, so assert the weaker: simhash defined for all
            assert all(d in sh.index for d in docs)
    assert sh.notna().all() and len(sh) == 500


def test_mm_features_deterministic_and_batched(q):
    import json

    a, b = q("mm_features"), q("mm_features")
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert (a["checksum"] == b["checksum"]).all(), "stub features must be deterministic"
    assert (a["feat_json"] == b["feat_json"]).all(), "serialized features stable"
    assert a["decode_error"].isna().all(), "text modality must decode"
    assert (a["n_bytes"] > 0).all()
    assert a["feat_json"].map(lambda s: len(json.loads(s))).eq(4).all(), (
        "feature vector shape"
    )
    # JSON round-trips to plain floats (driver canonicalizer hashes strings)
    f0 = json.loads(a["feat_json"].iloc[0])
    assert all(isinstance(v, float) for v in f0)


def test_sample_fraction_reproducible_and_unbiased(q):
    """Seeded sample: identical across runs; rate near the target."""
    a, b = q("sample_fraction"), q("sample_fraction")
    assert sorted(map(tuple, a.values.tolist())) == sorted(map(tuple, b.values.tolist()))
    rate = len(a) / 6000  # sf0.001 lineitem rows
    assert 0.06 <= rate <= 0.14, rate


def test_sample_stratified_rates(q):
    """Per-stratum sampling rates must track the requested fractions."""
    s = q("sample_stratified")
    full = q("text_lang")  # source x lang matrix -> lang totals
    totals = full[["en", "de", "es", "fr", "zh"]].sum()
    got = s.groupby("lang").size()
    expect = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.25}
    for lang, frac in expect.items():
        n, total = got.get(lang, 0), totals[lang]
        if frac == 1.0:
            assert n == total, f"{lang}: fraction 1.0 must keep every row"
        else:
            assert abs(n / total - frac) < 0.2, f"{lang}: {n}/{total} vs {frac}"


def test_embed_quantize_bounded_error(q):
    """Dequantized codes must reconstruct the floats within half a
    quantization step (the compression contract ANN reranking relies on)."""
    import numpy as np

    qdf = q("embed_quantize").set_index("vec_id")
    import duckdb

    con = duckdb.connect()
    src = con.execute(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) e "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchdf().set_index("vec_id")
    for vid in list(qdf.index[:50]):
        lo, hi = qdf.loc[vid, "lo"], qdf.loc[vid, "hi"]
        if hi == lo or not qdf.loc[vid, "q_head"]:
            continue  # degenerate vector: codes are 0 by convention
        step = (hi - lo) / 255
        orig = np.array(src.loc[vid, "e"][:4])
        codes = [float(c) for c in qdf.loc[vid, "q_head"].split(",")]
        deq = lo + np.array(codes) * step
        assert np.abs(deq - orig).max() <= step / 2 + 1e-12


def test_curation_pipeline_gate_discriminates(q):
    """The composed pipeline's quality gate must actually filter (a gate
    that keeps 100% is vacuous) and every kept doc must be counted once."""
    out = q("curation_pipeline")
    kept = int(out["docs_kept"].sum())
    assert 0 < kept < 500, f"gate vacuous or total: {kept}/500"
    assert (out["tokens_kept"] > 0).all()


def test_dedup_clusters_match_union_find(q):
    """Label propagation must produce exactly union-find's components over
    the same near-dup pairs."""
    pairs = q("dedup_near")[["doc_a", "doc_b"]]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs.itertuples():
        union(int(r.doc_a), int(r.doc_b))
    expected: dict[int, set[int]] = {}
    for node in parent:
        expected.setdefault(find(node), set()).add(node)

    got = q("dedup_clusters")
    got_clusters = {
        int(r.cluster_rep): set(
            int(x) for x in str(r.members).strip("[]").split(",") if x.strip()
        )
        for r in got.itertuples()
    }
    assert got_clusters == expected


def test_freq_items_contains_true_heavy_hitters(q):
    """freqItems guarantee: every item above the support threshold must
    appear (false positives allowed, false negatives not)."""
    import duckdb

    freq = q("agg_freq_items")
    reported = set(zip(freq["column"], freq["frequent_item"]))
    con = duckdb.connect()
    truth = con.execute(
        f"""
        SELECT l_returnflag FROM read_parquet('{SF_DIR}/lineitem.parquet')
        GROUP BY 1 HAVING count(*) > 0.1 * (SELECT count(*)
            FROM read_parquet('{SF_DIR}/lineitem.parquet'))
        """
    ).fetchall()
    for (flag,) in truth:
        assert ("l_returnflag", flag) in reported, f"missed heavy hitter {flag}"


def test_prefix_filter_lossless_on_adversarial_hot_corpus(spark):
    """Prefix-filter theorem, adversarially: a corpus where EVERY token is
    ultra-hot (shared by most docs) must still yield every >=0.9 pair —
    the prefix (rarest-token) index cannot lose a qualifying pair."""
    from itertools import combinations

    from secdb_spark.operators.llm_pipeline import JACCARD_THRESHOLD, _jaccard_pairs

    base = [f"tok{i}" for i in range(20)]
    docs = []
    # 10 near-dup groups: each doc differs from its sibling in one token
    # out of 20 -> J = 19/21 ~ 0.905 >= 0.9; all 20 base tokens appear in
    # every doc, so document frequency is maximal for every token.
    for g in range(10):
        docs.append((2 * g, " ".join(base)))
        docs.append((2 * g + 1, " ".join(base[:-1] + [f"alt{g}"])))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in _jaccard_pairs(sdf).collect()}

    # brute-force truth in plain Python
    tsets = {i: set(t.split()) for i, t in docs}
    want = {
        (a, b)
        for a, b in combinations(sorted(tsets), 2)
        if len(tsets[a] & tsets[b]) / len(tsets[a] | tsets[b]) >= JACCARD_THRESHOLD
    }
    assert want, "adversarial corpus must contain qualifying pairs"
    assert got == want


def _mm_expected_grid(doc_id, sz):
    """Pure-python recomputation of the _mm_payloads byte generator."""
    import numpy as np

    x = np.arange(sz, dtype=np.uint64)
    return ((x * 2654435761 + np.uint64(int(doc_id) * 40503 + 7)) >> np.uint64(8)).astype(
        np.uint8
    )


def test_mm_resize_pixel_exact(spark):
    """Nearest-neighbor downsample must select exactly every-2nd pixel of
    the deterministic source bitmap (recomputed here independently)."""
    import numpy as np

    from secdb_spark.operators.llm_pipeline import MM_IMG_H, MM_IMG_W, mm_resize

    out = mm_resize(spark, "/root/testdata/sf0.001").toPandas().set_index("doc_id")
    for doc_id in list(out.index)[:5]:
        src = _mm_expected_grid(doc_id, MM_IMG_H * MM_IMG_W).reshape(MM_IMG_H, MM_IMG_W)
        want = src[::2, ::2]
        row = out.loc[doc_id]
        got = np.frombuffer(bytes(row["payload"]), dtype=np.uint8).reshape(
            row["out_h"], row["out_w"]
        )
        assert (got == want).all(), f"pixel mismatch for doc {doc_id}"
        assert row["pixel_sum"] == int(want.astype(np.int64).sum())


def test_mm_frame_sample_frame_exact(spark):
    """Every 3rd frame of the raw tensor, byte-for-byte."""
    import numpy as np

    from secdb_spark.operators.llm_pipeline import MM_IMG_H, MM_IMG_W, mm_frame_sample

    n_frames = 9
    out = mm_frame_sample(spark, "/root/testdata/sf0.001").toPandas()
    one = out[out.doc_id == out.doc_id.iloc[0]]
    assert sorted(one["frame_idx"]) == [0, 3, 6]
    doc_id = int(one.doc_id.iloc[0])
    vid = _mm_expected_grid(doc_id, n_frames * MM_IMG_H * MM_IMG_W).reshape(
        n_frames, MM_IMG_H, MM_IMG_W
    )
    for _, r in one.iterrows():
        want = vid[int(r["frame_idx"])]
        got = np.frombuffer(bytes(r["frame"]), dtype=np.uint8).reshape(
            MM_IMG_H, MM_IMG_W
        )
        assert (got == want).all()
        assert r["frame_sum"] == int(want.astype(np.int64).sum())


def test_dedup_near_mask_and_array_kernels_agree(spark, monkeypatch):
    """All three verify kernels — broadcast verify-first bitmask, shuffle
    bitmask, and open-vocab array — are exact, so forcing each dispatch
    must produce identical verified pairs."""
    from secdb_spark.operators import llm_pipeline as lp

    fast = lp.dedup_near(spark, SF_DIR)  # default: broadcast verify-first
    above_gates(monkeypatch)  # shuffle-mask
    mid = lp.dedup_near(spark, SF_DIR)
    monkeypatch.setattr(lp, "MASK_MAX_VOCAB", 0)  # force open-vocab kernel
    slow = lp.dedup_near(spark, SF_DIR)
    for x, y in ((fast, mid), (fast, slow)):
        assert x.exceptAll(y).count() == 0
        assert y.exceptAll(x).count() == 0


def test_embed_pca_components_orthonormal_and_match_numpy(q, spark):
    """embed_pca's distributed moment build must reproduce local numpy PCA
    exactly (same corpus, same eigh), and the projection geometry must be
    sound: orthonormal components, non-increasing explained variance."""
    import numpy as np

    from secdb_spark.operators.pipeline_extras import PCA_K
    from secdb_spark.catalog import table

    import json

    pdf = q("embed_pca").sort_values("vec_id").reset_index(drop=True)
    P = np.stack(pdf["pc_json"].map(json.loads).to_numpy())
    assert P.shape[1] == PCA_K

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").toPandas()
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    X = np.stack(emb["embedding"].to_numpy()).astype("float64")
    mean = X.mean(axis=0)
    cov = (X - mean).T @ (X - mean) / len(X)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    W = evecs[:, order]
    signs = np.sign(W[np.abs(W).argmax(axis=0), np.arange(PCA_K)])
    signs[signs == 0] = 1.0
    W = W * signs
    assert np.allclose(W.T @ W, np.eye(PCA_K), atol=1e-9)
    local = np.round((X - mean) @ W, 6)
    # distributed covariance uses E[xx^T]-mm^T (one pass); allow float slack
    assert np.abs(P - local).max() < 1e-3
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(PCA_K - 1))


def test_agg_hll_sketch_within_5pct_of_exact(q, spark):
    """Merged region-level HLL estimates vs exact distinct counts."""
    from secdb_spark.catalog import table
    import pyspark.sql.functions as F

    est = q("agg_hll_sketch").set_index("n_regionkey")["approx_customers"]
    c = table(spark, SF_DIR, "customer")
    n = table(spark, SF_DIR, "nation")
    exact = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_regionkey")
        .agg(F.countDistinct("c_custkey").alias("exact"))
        .toPandas()
        .set_index("n_regionkey")["exact"]
    )
    for rk, ex in exact.items():
        assert abs(int(est[rk]) - int(ex)) <= max(1, 0.05 * ex), (
            f"region {rk}: est {est[rk]} vs exact {ex}"
        )


def test_rollup_daily_equals_direct_daily(q, spark):
    """The hypertable invariant: daily rows re-aggregated from hourly
    partials must equal a direct daily aggregation over raw events."""
    import pyspark.sql.functions as F

    from secdb_spark.catalog import table

    roll = q("rollup_timeseries")
    daily = roll[roll["resolution"] == "day"].copy()
    ev = table(spark, SF_DIR, "events")
    direct = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .toPandas()
    )
    key = ["event_type", "bucket"]
    a = daily[key + ["n_events", "sum_value"]].sort_values(key).reset_index(drop=True)
    b = direct[key + ["n_events", "sum_value"]].sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a["n_events"].to_numpy() == b["n_events"].to_numpy()).all()
    import numpy as np

    assert np.abs(a["sum_value"].to_numpy() - b["sum_value"].to_numpy()).max() <= 1e-4


def test_embed_kmeans_iter1_matches_numpy_assignment(q, spark):
    """The certified one-iteration kernel must assign every vector to its
    true nearest md5-ordered seed centroid (numpy ground truth)."""
    import numpy as np
    import pyspark.sql.functions as F

    from secdb_spark.catalog import table
    from secdb_spark.operators.pipeline_extras import KMEANS_K, _kmeans_seed_expr

    a = q("embed_kmeans").sort_values("vec_id").reset_index(drop=True)
    emb = table(spark, SF_DIR, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    seeds = (
        emb.orderBy(_kmeans_seed_expr(F.col("vec_id")), "vec_id")
        .limit(KMEANS_K)
        .select("embedding")
        .collect()
    )
    C = np.stack([np.asarray(r.embedding, dtype="float64") for r in seeds])
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assert (a["cluster"].to_numpy() == d2.argmin(axis=1)).all()
    assert np.allclose(
        a["dist"].to_numpy(), np.sqrt(d2.min(axis=1)), atol=1e-6
    )


def test_embed_kmeans_lloyd_improves_on_init_and_is_deterministic(q, spark):
    """Lloyd's invariants: the fitted assignment's inertia must be no
    worse than assigning to the seeded INITIAL centroids (monotone
    improvement), every run must be bit-identical (seeded init, fixed
    iteration count), and all vectors must be assigned."""
    import numpy as np
    import pyspark.sql.functions as F

    from secdb_spark.catalog import table
    from secdb_spark.operators.pipeline_extras import KMEANS_K

    a = q("embed_kmeans_lloyd").sort_values("vec_id").reset_index(drop=True)
    b = q("embed_kmeans_lloyd").sort_values("vec_id").reset_index(drop=True)
    assert (a["cluster"].to_numpy() == b["cluster"].to_numpy()).all()
    assert np.allclose(a["dist"].to_numpy(), b["dist"].to_numpy())
    assert len(a) == 500  # sf0.001 corpus size

    emb = table(spark, SF_DIR, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    seeds = (
        emb.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h", "vec_id")
        .limit(KMEANS_K)
        .select("embedding")
        .collect()
    )
    C0 = np.stack([np.asarray(r.embedding, dtype="float64") for r in seeds])
    d2_init = ((X[:, None, :] - C0[None, :, :]) ** 2).sum(axis=2).min(axis=1)
    inertia_init = d2_init.sum()
    inertia_final = (a["dist"].to_numpy() ** 2).sum()
    assert inertia_final <= inertia_init + 1e-6, (
        f"Lloyd's must not regress: {inertia_final:.3f} > {inertia_init:.3f}"
    )


def test_shingle_prefix_filter_lossless_and_order_sensitive(spark):
    """dedup_shingle's two claims: (1) the prefix filter stays lossless at
    threshold 0.8 over bigram-shingle sets (brute-force parity on an
    adversarial shared-vocabulary corpus); (2) shingling is ORDER
    sensitive — vocabulary-equal but reversed documents must NOT pair,
    while the token-set pipeline would pair them."""
    from itertools import combinations

    from secdb_spark.operators.llm_pipeline import _jaccard_pairs
    from secdb_spark.operators.warehouse_extras import SHINGLE_THRESHOLD

    base = [f"w{i}" for i in range(12)]
    docs = []
    # near-dup pairs: same order, one tail token swapped
    for g in range(5):
        docs.append((2 * g, " ".join(base)))
        docs.append((2 * g + 1, " ".join(base[:-1] + [f"x{g}"])))
    # order probe: same vocabulary REVERSED -> shingle-Jaccard ~0
    docs.append((100, " ".join(base)))
    docs.append((101, " ".join(reversed(base))))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    import pyspark.sql.functions as F

    w = F.split("text", " ")
    shingles = F.sort_array(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(w, i), F.element_at(w, i + 1)
                ),
            )
        )
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_pairs(
            sdf, tokens=shingles, threshold=SHINGLE_THRESHOLD
        ).collect()
    }

    def sh(text):
        t = text.split()
        return {f"{a} {b}" for a, b in zip(t, t[1:])}

    tsets = {i: sh(t) for i, t in docs}
    want = {
        (a, b)
        for a, b in combinations(sorted(tsets), 2)
        if len(tsets[a] & tsets[b]) / len(tsets[a] | tsets[b])
        >= SHINGLE_THRESHOLD
    }
    assert want, "corpus must contain qualifying shingle pairs"
    assert got == want
    assert (100, 101) not in got, "reversed doc must not shingle-match"


def test_coverage_sweep_matches_bruteforce_union(spark):
    """interval_coverage's sweep kernel vs a brute-force interval union on
    seeded random data — heavy overlap, nesting, duplicates, and
    zero-length intervals included."""
    import random

    from secdb_spark.operators.warehouse_extras import coverage_sweep

    rng = random.Random(20260813)
    rows = []
    for user in range(8):
        for _ in range(40):
            s = rng.randrange(0, 1000)
            ln = rng.randrange(0, 60)  # zero-length allowed
            rows.append((user, s, s + ln))
    iv = spark.createDataFrame(rows, "user_id long, s long, e long")
    got = {r.user_id: r.covered_us for r in coverage_sweep(iv).collect()}

    def union_len(spans):
        spans = sorted((a, b) for _, a, b in spans)
        total, cur_s, cur_e = 0, None, None
        for a, b in spans:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    for user in range(8):
        want = union_len([r for r in rows if r[0] == user])
        assert got.get(user, 0) == want, f"user {user}: {got.get(user)} != {want}"


def test_jaccard_allpairs_kernel_agrees_with_prefix_path(spark):
    """r14 all-pairs bitmask kernel (closed dictionary + allpairs):
    its fused-condition BNLJ must select EXACTLY the pairs the
    prefix-filtered path emits, including pairs exactly AT the
    threshold (J == 0.8 via strict-subset sets sized 4 and 5 — the
    integer/float boundary the fused condition must not move)."""
    from secdb_spark.operators.llm_pipeline import _jaccard_pairs

    base = [f"t{i}" for i in range(5)]
    docs = []
    # J(a,b) = 4/5 exactly: b is a strict 4-subset of a's 5 tokens
    for g in range(4):
        docs.append((2 * g, " ".join(base)))
        docs.append((2 * g + 1, " ".join(base[:-1])))
    # sub-threshold distractors (J = 3/5)
    docs.append((100, " ".join(base[:3])))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    prefix = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _jaccard_pairs(sdf, threshold=0.8).collect()
    }
    allpairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _jaccard_pairs(sdf, threshold=0.8, allpairs=True).collect()
    }
    assert prefix == allpairs
    assert prefix, "boundary corpus must contain J == 0.8 pairs"


def test_jaccard_positional_filter_lossless_at_extreme_ranks(spark):
    """r14 PPJoin positional filter: pairs whose ONLY shared prefix
    token sits at maximally asymmetric ranks (rarest token of one doc,
    last prefix slot of the other) must survive — the ub bound can
    never drop a qualifying pair.  Open-vocab corpus (unique filler
    tokens per doc) so the hashed-array path with the filter runs."""
    from itertools import combinations

    from secdb_spark.operators.llm_pipeline import _jaccard_pairs

    shared = [f"s{i}" for i in range(18)]
    docs = []
    for g in range(6):
        # two docs sharing 18 of 19 tokens (J = 18/20 = 0.9 exactly),
        # plus one unique token each to keep the dictionary open and the
        # shared tokens at different df-order ranks across docs
        docs.append((2 * g, " ".join(shared + [f"u{g}a"])))
        docs.append((2 * g + 1, " ".join(shared + [f"u{g}b"])))
    # corpus-wide unique-token docs to blow the dictionary past the cap
    for i in range(30):
        docs.append((200 + i, " ".join(f"z{i}_{j}" for j in range(40))))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_pairs(sdf, threshold=0.9).collect()
    }
    tsets = {i: set(t.split()) for i, t in docs}
    want = {
        (a, b)
        for a, b in combinations(sorted(tsets), 2)
        if len(tsets[a] & tsets[b]) / len(tsets[a] | tsets[b]) >= 0.9
    }
    assert want and got == want


def test_win_range_frame_prefix_kernel_matches_native_frame(
    spark, tmp_path_factory
):
    """r14 prefix-sum restructure of win_range_frame: the cumulative-
    difference kernel must reproduce Spark's native sliding RANGE frame
    bit-for-bit on an adversarial price ladder — values exactly 10000
    apart (the boundary row stays IN the band), heavy ties (RANGE peers
    share a frame), sub-cent doubles, and a status with a single row."""
    import pandas as pd
    from pyspark.sql import Window, functions as F

    from secdb_spark.operators._helpers import DEC
    from secdb_spark.registry import all_queries

    prices = (
        [1000.0, 11000.0, 21000.0, 21000.0, 31000.0]  # exact 10k ladder+tie
        + [5000.37, 15000.37, 15000.370000001]  # boundary vs just-above
        + [99999.99] * 4  # heavy tie block
        + [250000.01]
    )
    rows = []
    for i, p in enumerate(prices):
        rows.append((i + 1, 1, "O" if i % 3 else "F", p))
    rows.append((900, 1, "P", 77777.77))  # single-row partition
    pdf = pd.DataFrame(
        rows, columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    )
    pdf["o_orderdate"] = pd.Timestamp("2024-01-01")
    pdf["o_orderpriority"] = "1-URGENT"
    d = str(tmp_path_factory.mktemp("wrf"))
    pdf.to_parquet(f"{d}/orders.parquet", index=False)

    got = {
        (r.o_orderkey, r.n_in_band, r.band_total)
        for r in all_queries()["win_range_frame"](spark, d).collect()
    }
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, 0)
    )
    native = spark.createDataFrame(
        pdf[["o_orderkey", "o_orderstatus", "o_totalprice"]]
    ).select(
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_in_band"),
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w)
        .cast("double")
        .alias("band_total"),
    )
    want = {(r.o_orderkey, r.n_in_band, r.band_total) for r in native.collect()}
    assert got == want
