"""The composable DataFrame API must work on ARBITRARY user tables —
every test here builds its own DataFrames with its own column names
(never the fixture corpus), which is the point of the layer."""

from __future__ import annotations

import pytest
from datetime import datetime

from secdb_spark import api


def test_normalize_and_quality_flags(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello, World!  This is FINE text with many different words ok " * 3),
            (2, "x"),  # too short
        ],
        "rid int, body string",
    )
    norm = api.normalize_text(df, "body", "clean").toPandas().set_index("rid")
    assert norm.loc[1, "clean"].startswith("hello world this is fine")
    flags = api.quality_flags(df, "body").toPandas().set_index("rid")
    assert bool(flags.loc[2, "fail_short"]) is True
    assert bool(flags.loc[2, "keep"]) is False


def test_near_dup_and_exact_dup_on_custom_table(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok yes"
    rows = [
        (10, base),
        (11, base),  # exact dup
        (12, base + " tail"),  # near dup of 10/11
        (13, "completely different content about spark plans and shuffles"),
    ]
    df = spark.createDataFrame(rows, "pk long, body string")
    exact = api.exact_dup_clusters(df, "pk", "body").toPandas()
    assert (exact.n_copies >= 2).sum() == 1
    assert exact[exact.n_copies == 2].keeper_id.iloc[0] == 10

    pairs = api.near_dup_pairs(df, "pk", "body", threshold=0.8).toPandas()
    got = {tuple(sorted((r.id_a, r.id_b))) for r in pairs.itertuples()}
    assert (10, 11) in got  # identical -> jaccard 1
    assert all(13 not in p for p in got)

    # exact all-pairs (recall 1) must be a superset of the LSH pairs
    full = api.jaccard_pairs(df, "pk", "body", threshold=0.8).toPandas()
    full_pairs = {tuple(sorted((r.doc_a, r.doc_b))) for r in full.itertuples()}
    assert got <= full_pairs


def test_sessionize_custom_events(spark):
    t0 = datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        ("u1", datetime(2025, 1, 1, 12, 0)),
        ("u1", datetime(2025, 1, 1, 12, 10)),   # same session
        ("u1", datetime(2025, 1, 1, 13, 30)),   # gap > 30min -> new session
        ("u2", t0),
    ]
    df = spark.createDataFrame(rows, "uid string, t timestamp")
    got = api.sessionize(df, "uid", "t").toPandas()
    u1 = got[got.uid == "u1"].sort_values("t").session_id.tolist()
    assert u1 == [1, 1, 2]
    assert got[got.uid == "u2"].session_id.tolist() == [1]


def test_asof_join_custom_tables(spark):
    trades = spark.createDataFrame(
        [
            ("A", datetime(2025, 1, 1, 10, 0, 30), 100.0),
            ("A", datetime(2025, 1, 1, 10, 2, 0), 101.0),
            ("B", datetime(2025, 1, 1, 10, 1, 0), 50.0),
        ],
        "sym string, t timestamp, px double",
    )
    quotes = spark.createDataFrame(
        [
            ("A", datetime(2025, 1, 1, 10, 0, 0), 99.5),
            ("A", datetime(2025, 1, 1, 10, 1, 0), 100.5),
            ("B", datetime(2025, 1, 1, 10, 5, 0), 49.0),  # AFTER the trade
        ],
        "sym string, t timestamp, bid double",
    )
    got = api.asof_join(trades, quotes, on="sym", left_ts="t", right_ts="t")
    pdf = got.toPandas().sort_values(["sym", "t"]).reset_index(drop=True)
    assert pdf.loc[0, "bid_asof"] == 99.5   # 10:00:30 -> 10:00 quote
    assert pdf.loc[1, "bid_asof"] == 100.5  # 10:02 -> 10:01 quote
    assert pdf.loc[2, "bid_asof"] != pdf.loc[2, "bid_asof"] or pdf.loc[2, "bid_asof"] is None  # NaN: no prior quote for B

    # tolerance: only matches within 30s survive
    tol = api.asof_join(
        trades, quotes, on="sym", left_ts="t", right_ts="t",
        tolerance_us=30_000_000,
    ).toPandas().sort_values(["sym", "t"]).reset_index(drop=True)
    assert tol.loc[0, "bid_asof"] == 99.5          # 30s old -> kept
    assert tol.bid_asof.isna().tolist() == [False, True, True]


def test_global_kernels_on_custom_table(spark):
    df = spark.createDataFrame(
        [(i, float(i % 7), i % 3) for i in range(200)],
        "rid long, score double, grp int",
    )
    ranked = api.global_rank(df, "score", ["rid"]).toPandas()
    srt = ranked.sort_values(["score", "rid"]).reset_index(drop=True)
    assert srt["rank"].tolist() == list(range(1, 201))

    csum = api.global_prefix_sum(df, "score", ["rid"], "score").toPandas()
    srt2 = csum.sort_values(["score", "rid"]).reset_index(drop=True)
    assert (
        abs(float(srt2["cumsum"].iloc[-1]) - df.toPandas().score.sum()) < 1e-6
    )

    topk = api.grouped_topk(df, ["grp"], "score", ["rid"], k=4).toPandas()
    assert (topk.groupby("grp")["rank"].count() == 4).all()
    for _g, gg in topk.groupby("grp"):
        assert gg["rank"].sort_values().tolist() == [1, 2, 3, 4]


def test_deterministic_sample_stability(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "pk long")
    a = set(api.deterministic_sample(df, "pk", 0.25).toPandas().pk)
    b = set(
        api.deterministic_sample(df.repartition(7), "pk", 0.25).toPandas().pk
    )
    assert a == b, "sample must be stable under repartitioning"
    assert 0.18 < len(a) / 2000 < 0.32
    assert a < set(
        api.deterministic_sample(df, "pk", 0.5).toPandas().pk
    ), "thresholds must nest (monotone fractions)"


def test_cosine_topk_on_custom_vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    V = rng.standard_normal((40, 8)).astype("float64")
    V[1] = V[0] + 0.001 * rng.standard_normal(8)  # near-identical pair
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(40)],
        "vid long, vec array<double>",
    )
    got = api.cosine_topk(df, "vid", "vec", k=3).toPandas()
    assert (got.groupby("query_id").neighbor_id.count() <= 3).all()
    top_for_0 = got[got.query_id == 0].sort_values("sim", ascending=False)
    assert top_for_0.neighbor_id.iloc[0] == 1
    assert (got.query_id != got.neighbor_id).all()


# --- property tests (randomized, seeded) ------------------------------------

def test_asof_join_property_vs_bruteforce(spark):
    """Randomized as-of correctness: for every left row the joined value
    must equal the brute-force 'latest right at or before' pick."""
    import random

    rng = random.Random(42)
    keys = ["k1", "k2", "k3"]
    lrows = [
        (rng.choice(keys), datetime(2025, 1, 1, rng.randrange(24),
                                    rng.randrange(60)), i)
        for i in range(60)
    ]
    rrows = [
        (rng.choice(keys), datetime(2025, 1, 1, rng.randrange(24),
                                    rng.randrange(60)), 1000 + i)
        for i in range(40)
    ]
    left = spark.createDataFrame(lrows, "k string, t timestamp, lv long")
    right = spark.createDataFrame(rrows, "k string, t timestamp, rv long")
    got = api.asof_join(left, right, on="k", left_ts="t", right_ts="t").toPandas()
    import pandas as pd

    rp = pd.DataFrame(rrows, columns=["k", "t", "rv"])
    for row in got.itertuples():
        cand = rp[(rp.k == row.k) & (rp.t <= row.t)]
        if cand.empty:
            assert pd.isna(row.rv_asof)
        else:
            # latest t; ties broken by later union-window position —
            # assert the VALUE set membership at the max timestamp
            best_t = cand.t.max()
            assert row.rv_asof in set(cand[cand.t == best_t].rv)
            assert row.t_asof == best_t


def test_near_dup_pairs_precision_is_one(spark):
    """Every emitted pair must truly have token-set Jaccard >= threshold
    (precision 1 by construction of the verify step) — randomized docs."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(30):
        n = rng.randrange(5, 20)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant a guaranteed near-dup pair
    rows.append((100, "a b c d e f g h i j"))
    rows.append((101, "a b c d e f g h i j"))
    df = spark.createDataFrame(rows, "pk long, body string")
    got = api.near_dup_pairs(df, "pk", "body", threshold=0.7).toPandas()
    texts = dict(rows)
    for r in got.itertuples():
        a = set(texts[r.id_a].split(" "))
        b = set(texts[r.id_b].split(" "))
        true_j = len(a & b) / len(a | b)
        assert true_j >= 0.7 - 1e-9
        assert abs(true_j - r.jaccard) < 1e-9
    assert {(100, 101)} <= {
        tuple(sorted((r.id_a, r.id_b))) for r in got.itertuples()
    }


def test_percentile_disc_on_custom_table(spark):
    from secdb_spark import api

    rows = [("g1", float(v)) for v in range(1, 101)] + [
        ("g2", float(v)) for v in [5, 5, 5, 9]
    ]
    df = spark.createDataFrame(rows, "grp string, score double")
    got = {
        r["grp"]: r
        for r in api.percentile_disc(df, ["grp"], "score").collect()
    }
    # g1: 1..100 -> p25=25 (rank 25), p50=50, p75=75
    assert got["g1"]["n"] == 100
    assert (got["g1"]["p25"], got["g1"]["p50"], got["g1"]["p75"]) == (
        25.0, 50.0, 75.0,
    )
    # g2: [5,5,5,9] -> ranks ceil(.25*4)=1 ->5, ceil(.5*4)=2 ->5, ceil(.75*4)=3 ->5
    assert (got["g2"]["p25"], got["g2"]["p50"], got["g2"]["p75"]) == (
        5.0, 5.0, 5.0,
    )


def test_mannwhitney_u_on_custom_table(spark):
    from secdb_spark import api

    # identical distributions -> U ~ n1*n2/2, z ~ 0
    rows = [("a", float(v)) for v in range(10)] + [
        ("b", float(v)) for v in range(10)
    ]
    df = spark.createDataFrame(rows, "grp string, x double")
    r = api.mannwhitney_u(df, "x", "grp", "a", "b").collect()[0]
    assert r["n1"] == r["n2"] == 10
    assert r["u1"] == pytest.approx(50.0)
    assert r["z"] == pytest.approx(0.0, abs=1e-9)
    # clearly shifted -> extreme U
    rows2 = [("a", float(v)) for v in range(10)] + [
        ("b", float(v + 100)) for v in range(10)
    ]
    df2 = spark.createDataFrame(rows2, "grp string, x double")
    r2 = api.mannwhitney_u(df2, "x", "grp", "a", "b").collect()[0]
    assert r2["u1"] == 0.0 and r2["z"] < -3


def test_entropy_by_on_custom_table(spark):
    import math

    from secdb_spark import api

    rows = [("u", t) for t in "aabb"] + [("p", t) for t in "aaaa"]
    df = spark.createDataFrame(rows, "grp string, tok string")
    got = {r["grp"]: r for r in api.entropy_by(df, ["grp"], "tok").collect()}
    assert got["u"]["h_bits"] == pytest.approx(1.0, abs=1e-9)
    assert got["p"]["h_bits"] == pytest.approx(0.0, abs=1e-9)
    assert got["u"]["n"] == 4 and got["p"]["n"] == 4
    assert math.isfinite(got["u"]["h_bits"])


def test_trailing_distinct_on_custom_table(spark):
    from secdb_spark import api

    rows = [(1, 0), (2, 0), (1, 1), (3, 5)]
    df = spark.createDataFrame(rows, "uid int, day int")
    got = {
        r["day"]: r["trailing_distinct"]
        for r in api.trailing_distinct(df, "uid", "day", 3).collect()
    }
    # day 0: users {1,2}; day 1: {1,2} (0-day activity covers) + {1} -> {1,2}
    # day 2: covers days 0..2 -> {1,2}; day 3: covers 1..3 -> {1}
    assert got[0] == 2 and got[1] == 2 and got[2] == 2
    assert got[3] == 1
    assert got[5] == 1 and got[7] == 1


def test_asof_join_null_right_columns_no_frankenrow(spark):
    """A NULL field in the LATEST right row must stay NULL — not fall
    through to a stale row's value (the per-column-fill frankenrow)."""
    from datetime import datetime as dt

    quotes = spark.createDataFrame(
        [
            ("k", dt(2024, 1, 1, 10), 10.0, 5.0),
            ("k", dt(2024, 1, 1, 11), 20.0, None),
        ],
        "sym string, qt timestamp, price double, qty double",
    )
    trades = spark.createDataFrame(
        [("k", dt(2024, 1, 1, 12))], "sym string, tt timestamp"
    )
    row = api.asof_join(
        trades, quotes, on="sym", left_ts="tt", right_ts="qt"
    ).collect()[0]
    assert row["price_asof"] == 20.0
    assert row["qty_asof"] is None  # NOT 5.0 from the stale row


def test_percentile_disc_global_group(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)], "score double"
    )
    row = api.percentile_disc(df, [], "score").collect()[0]
    assert row["n"] == 100
    assert (row["p25"], row["p50"], row["p75"]) == (25.0, 50.0, 75.0)


def test_lsh_candidate_pairs_rejects_bad_band_split(spark):
    sigs = spark.createDataFrame(
        [(1, "a", "b", "c")], "id int, h0 string, h1 string, h2 string"
    )
    with pytest.raises(ValueError):
        api.lsh_candidate_pairs(sigs, "id", n_bands=2)  # 3 % 2 != 0
    with pytest.raises(ValueError):
        api.lsh_candidate_pairs(sigs, "id", n_bands=6)  # rows_per_band 0


def test_cosine_topk_rejects_non_integral_ids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0])], "doc string, vec array<float>"
    )
    with pytest.raises(TypeError):
        api.cosine_topk(df, "doc", "vec")


def test_ks_drift_on_custom_table(spark):
    # group A ~ uniform small values, group B ~ shifted: KS must be large;
    # group C identical to A's distribution: KS near 0 vs the pooled rest.
    rows = (
        [("A", v) for v in [1, 2, 3, 4, 5] * 10]
        + [("B", v) for v in [101, 102, 103, 104, 105] * 10]
    )
    df = spark.createDataFrame(rows, "grp string, x int")
    got = api.ks_drift(df, "grp", "x").toPandas().set_index("grp")
    # A and B are disjoint and equal-sized: D = 1 exactly for both
    assert got.loc["A", "ks_d"] == pytest.approx(1.0)
    assert got.loc["B", "ks_d"] == pytest.approx(1.0)
    assert int(got.loc["A", "n"]) == 50

    # brute-force parity on an asymmetric mixture
    import numpy as np

    rng = [("P", int(v)) for v in range(20)] + [
        ("Q", int(v)) for v in list(range(10, 25)) * 2
    ]
    df2 = spark.createDataFrame(rng, "grp string, x int")
    got2 = api.ks_drift(df2, "grp", "x").toPandas().set_index("grp")
    pv = sorted(v for g, v in rng if g == "P")
    qv = sorted(v for g, v in rng if g == "Q")

    def ecdf(vals, x):
        return sum(1 for v in vals if v <= x) / len(vals)

    spine = sorted({v for _, v in rng})
    d_exp = max(abs(ecdf(pv, x) - ecdf(qv, x)) for x in spine)
    assert got2.loc["P", "ks_d"] == pytest.approx(d_exp, abs=1e-9)
    assert got2.loc["Q", "ks_d"] == pytest.approx(d_exp, abs=1e-9)


def test_gapfill_methods_on_custom_table(spark):
    rows = [
        ("s1", 0, 10.0),
        ("s1", 3, 40.0),
        ("s1", 5, 20.0),
        ("s2", 7, 5.0),
    ]
    df = spark.createDataFrame(rows, "series string, d int, y double")

    z = (
        api.gapfill(df, ["series"], "d", "y", method="zero")
        .toPandas().set_index(["series", "d"]).sort_index()
    )
    assert z.loc[("s1", 1), "y"] == 0.0
    assert z.loc[("s1", 3), "y"] == 40.0
    assert len(z.loc["s1"]) == 6  # days 0..5 densified
    assert len(z.loc["s2"]) == 1

    f = (
        api.gapfill(df, ["series"], "d", "y", method="ffill")
        .toPandas().set_index(["series", "d"]).sort_index()
    )
    assert f.loc[("s1", 1), "y"] == 10.0
    assert f.loc[("s1", 2), "y"] == 10.0
    assert f.loc[("s1", 4), "y"] == 40.0

    li = (
        api.gapfill(df, ["series"], "d", "y", method="linear")
        .toPandas().set_index(["series", "d"]).sort_index()
    )
    assert li.loc[("s1", 1), "y"] == pytest.approx(20.0)
    assert li.loc[("s1", 2), "y"] == pytest.approx(30.0)
    assert li.loc[("s1", 4), "y"] == pytest.approx(30.0)
    assert bool(li.loc[("s1", 3), "is_observed"]) is True
    assert bool(li.loc[("s1", 2), "is_observed"]) is False

    with pytest.raises(ValueError):
        api.gapfill(df, ["series"], "d", "y", method="nearest")


def test_ks_drift_single_group_returns_null(spark):
    # A group with an empty complement has no "rest" ECDF to test
    # against: ks_d must be an explicit NULL, never NaN-by-div0
    # (ADVICE r7: guard the n_g*(N-n_g) denominator).
    import pandas as pd

    df = spark.createDataFrame(
        [("only", v) for v in range(5)], "grp string, x int"
    )
    got = api.ks_drift(df, "grp", "x").toPandas().set_index("grp")
    assert len(got) == 1
    assert int(got.loc["only", "n"]) == 5
    assert pd.isna(got.loc["only", "ks_d"])


def test_gapfill_schema_identical_across_methods(spark):
    # Switching method must never silently change the result schema
    # (ADVICE r7: 'linear' used to cast to double while 'zero'/'ffill'
    # kept the input type).  Value col is double even from an int input.
    df = spark.createDataFrame(
        [("s", 0, 1), ("s", 2, 3)], "series string, d int, y int"
    )
    # Compare (name, dataType) — nullability may legitimately differ
    # ('zero' coalesces y to a non-nullable literal).
    schemas = {
        m: [
            (f.name, f.dataType.simpleString())
            for f in api.gapfill(df, ["series"], "d", "y", method=m).schema
        ]
        for m in ("zero", "ffill", "linear")
    }
    assert schemas["ffill"] == schemas["zero"]
    assert schemas["linear"] == schemas["zero"]
    assert dict(schemas["zero"])["y"] == "double"


def test_simhash_near_dups_on_custom_table(spark):
    # Two near-identical docs (one word changed out of 12) must pair at
    # small Hamming distance; an unrelated doc must not pair with them.
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base),
        (2, base.replace("river", "creek")),
        (3, "completely different content about spark query planning "
            "and distributed aggregation trees"),
    ]
    df = spark.createDataFrame(rows, "pk int, body string")
    got = (
        api.simhash_near_dups(df, "pk", "body", max_hamming=10)
        .toPandas()
        .set_index(["id_a", "id_b"])
    )
    assert (1, 2) in got.index
    assert got.loc[(1, 2), "hamming"] <= 10
    assert (1, 3) not in got.index and (2, 3) not in got.index
    # identical docs -> identical signature -> hamming 0
    df2 = spark.createDataFrame([(7, base), (9, base)], "pk int, body string")
    got2 = api.simhash_near_dups(df2, "pk", "body").toPandas()
    assert len(got2) == 1 and int(got2.loc[0, "hamming"]) == 0


def test_bm25_scores_on_custom_table(spark):
    import math

    rows = [
        (1, "spark spark spark engine"),
        (2, "spark engine"),
        (3, "duck pond water"),
    ]
    df = spark.createDataFrame(rows, "pk int, body string")
    got = api.bm25_scores(df, "pk", "body", ["spark"]).toPandas().set_index("pk")
    assert 3 not in got.index  # no query term
    # brute force: N=3, df(spark)=2, idf = ln((3-2+0.5)/(2+0.5)+1)
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
    avgdl = (4 + 2 + 3) / 3
    k1, b = 1.2, 0.75

    def bm25(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert got.loc[1, "bm25"] == pytest.approx(round(bm25(3, 4), 4), abs=1e-4)
    assert got.loc[2, "bm25"] == pytest.approx(round(bm25(1, 2), 4), abs=1e-4)
    with pytest.raises(ValueError):
        api.bm25_scores(df, "pk", "body", [])


def test_stratified_sample_on_custom_table(spark):
    rows = [(g, i) for g in ("x", "y") for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, rid int")
    kept = api.stratified_sample(df, ["grp"], "rid", 0.25)
    per = kept.groupBy("grp").count().toPandas().set_index("grp")["count"]
    # hash-threshold keeps ~25% per stratum (binomial tolerance)
    for g in ("x", "y"):
        assert 60 <= per[g] <= 140, per.to_dict()
    # deterministic: identical result on re-run
    a = sorted(kept.toPandas().itertuples(index=False))
    b = sorted(
        api.stratified_sample(df, ["grp"], "rid", 0.25)
        .toPandas().itertuples(index=False)
    )
    assert a == b


def test_decontaminate_on_custom_tables(spark):
    shared = "one two three four five six seven eight nine ten eleven twelve thirteen"
    train = spark.createDataFrame(
        [
            (1, "prefix words then " + shared + " and a tail"),
            (2, "totally clean document with no overlapping window at all "
                "whatsoever in any thirteen gram"),
        ],
        "pk int, body string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the eval set contains " + shared + " inside it")],
        "pk int, body string",
    )
    got = api.decontaminate(train, eval_df, "pk", "body").toPandas()
    assert got.pk.tolist() == [1]
    assert int(got.n_shared_grams.iloc[0]) >= 1

    # ngram wider than the shared span -> no contamination flagged
    none = api.decontaminate(train, eval_df, "pk", "body", ngram=20).toPandas()
    assert len(none) == 0


def test_keep_best_dedup_on_custom_table(spark):
    rows = [
        (1, "same content", 0.5),
        (2, "same content", 0.9),   # winner: higher score
        (3, "same content", 0.9),   # tie -> smaller id (2) wins
        (4, "unique content", 0.1),
    ]
    df = spark.createDataFrame(rows, "pk int, body string, q double")
    got = api.keep_best_dedup(df, "pk", "body", "q").toPandas()
    assert sorted(got.pk.tolist()) == [2, 4]
    assert int(got.set_index("pk").loc[2, "n_copies"]) == 3
    assert int(got.set_index("pk").loc[4, "n_copies"]) == 1


def test_funnel_on_custom_table(spark):
    """Order matters: a user hitting stage 3 BEFORE stage 2 must not
    count as completing the 3-step prefix."""
    rows = [
        # u1 completes all three in order
        (1, 100, "signup"), (1, 200, "activate"), (1, 300, "pay"),
        # u2 pays before activating -> counts for prefixes 1 and 2 only
        (2, 100, "signup"), (2, 150, "pay"), (2, 200, "activate"),
        # u3 only signs up
        (3, 100, "signup"),
        # u4 activates without ever signing up -> counts for nothing
        (4, 100, "activate"),
    ]
    df = spark.createDataFrame(rows, "uid int, t long, step string")
    got = (
        api.funnel(df, "uid", "t", "step", ["signup", "activate", "pay"])
        .toPandas()
        .set_index("stage")["n_users"]
    )
    assert int(got["signup"]) == 3
    assert int(got["signup>activate"]) == 2
    assert int(got["signup>activate>pay"]) == 1
    with pytest.raises(ValueError):
        api.funnel(df, "uid", "t", "step", [])


def test_retention_cohorts_on_custom_table(spark):
    rows = [
        (1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 3)),
        (1, datetime(2024, 1, 3, 12)),  # same day, must not double count
        (2, datetime(2024, 1, 2)),
    ]
    df = spark.createDataFrame(rows, "uid int, seen timestamp")
    got = api.retention_cohorts(df, "uid", "seen", grain="day").toPandas()
    m = {
        (r.cohort.date().isoformat(), int(r.periods_since)): int(r.n_users)
        for r in got.itertuples()
    }
    assert m == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }
    with pytest.raises(ValueError):
        api.retention_cohorts(df, "uid", "seen", grain="fortnight")


def test_chunk_text_on_custom_table(spark):
    df = spark.createDataFrame(
        [(7, "a b c d e f g"), (8, "x")], "doc int, body string"
    )
    got = (
        api.chunk_text(df, "doc", "body", width=3, stride=2)
        .toPandas()
        .sort_values(["doc", "chunk_id"])
    )
    d7 = got[got.doc == 7]
    assert d7.chunk.tolist() == ["a b c", "c d e", "e f g", "g"]
    assert d7.n_toks.tolist() == [3, 3, 3, 1]
    d8 = got[got.doc == 8]
    assert d8.chunk.tolist() == ["x"] and d8.n_toks.tolist() == [1]
    with pytest.raises(ValueError):
        api.chunk_text(df, "doc", "body", width=0)


def test_domain_mix_weights_on_custom_table(spark):
    """T=0.5 over a 90/10 split: weights must be proportional to
    sqrt(p), tail upsample_factor > 1 > head factor."""
    import math

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "rid int, dom string")
    got = (
        api.domain_mix_weights(df, "dom", temperature=0.5)
        .toPandas()
        .set_index("dom")
    )
    exp_big = math.sqrt(0.9) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert abs(got.loc["big", "mix_weight"] - exp_big) < 1e-6
    assert got.loc["small", "upsample_factor"] > 1 > got.loc["big", "upsample_factor"]
    with pytest.raises(ValueError):
        api.domain_mix_weights(df, "dom", temperature=0)


def test_temperature_mix_on_custom_table(spark):
    """The anchor (most tail) domain keeps everything; head domains thin
    toward the tempered ratio; the pass is deterministic."""
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "rid int, dom string")
    kept = api.temperature_mix(df, "dom", "rid", temperature=0.5)
    counts = (
        kept.groupBy("dom").count().toPandas().set_index("dom")["count"]
    )
    assert int(counts["small"]) == 100  # anchor: rate 10000 bp
    # target ratio big/small = sqrt(0.9)/sqrt(0.1) = 3.0 -> ~300 kept
    assert 240 <= int(counts["big"]) <= 360
    again = api.temperature_mix(df, "dom", "rid", temperature=0.5)
    assert sorted(r.rid for r in kept.collect()) == sorted(
        r.rid for r in again.collect()
    )


def test_cap_per_group_on_custom_table(spark):
    rows = [(i, "a" if i % 2 == 0 else "b", f"v{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "rid int, grp string, payload string")
    got = api.cap_per_group(df, ["grp"], "rid", cap=5).toPandas()
    assert set(got.columns) == {"rid", "grp", "payload"}
    per = got.groupby("grp").size()
    assert int(per["a"]) == 5 and int(per["b"]) == 5
    # deterministic: same winners across runs
    again = api.cap_per_group(df, ["grp"], "rid", cap=5).toPandas()
    assert sorted(got.rid.tolist()) == sorted(again.rid.tolist())
    with pytest.raises(ValueError):
        api.cap_per_group(df, ["grp"], "rid", cap=0)


def test_language_id_on_custom_table(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),
            (2, "der hund und die katze"),
            (3, "el perro y los gatos"),
            (4, "le chien et les chats"),
            (5, "zzz qqq"),
        ],
        "rid int, body string",
    )
    got = api.language_id(df, "body").toPandas().set_index("rid")["lang_pred"]
    assert got.to_dict() == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "unknown"}
    custom = api.language_id(
        df, "body", markers={"cat_lang": ("cat",)}
    ).toPandas().set_index("rid")["lang_pred"]
    assert custom[1] == "cat_lang" and custom[2] == "unknown"
    with pytest.raises(ValueError):
        api.language_id(df, "body", markers={})


def test_near_dup_clusters_and_dedup_corpus(spark):
    """A transitive chain (A~B, B~C, A!~C is fine) must land in ONE
    cluster, and dedup_corpus must keep exactly the min-id rep plus the
    unrelated row."""
    base = "the quick brown fox jumps over the lazy dog again and again ok yes"
    rows = [
        (10, base),
        (11, base + " tail"),          # near dup of 10
        (12, base + " tail extra"),    # near dup of 11 (chain)
        (13, "completely different content about spark plans and shuffles"),
    ]
    df = spark.createDataFrame(rows, "pk long, body string")
    cl = api.near_dup_clusters(df, "pk", "body", threshold=0.7).toPandas()
    assert set(cl.pk) >= {10, 11}  # at minimum the direct pair clusters
    assert (cl.cluster_rep == 10).all()
    assert 13 not in set(cl.pk)
    kept = api.dedup_corpus(df, "pk", "body", threshold=0.7).toPandas()
    assert 10 in set(kept.pk) and 13 in set(kept.pk)
    assert set(kept.pk) & set(cl[cl.pk != cl.cluster_rep].pk) == set()
    assert set(kept.columns) == {"pk", "body"}


def test_normalize_vectors_on_custom_table(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vid int, v array<double>"
    )
    got = api.normalize_vectors(df, "v").toPandas().set_index("vid")
    assert abs(got.loc[1, "l2_norm"] - 5.0) < 1e-12
    assert list(got.loc[1, "unit_vec"]) == [0.6, 0.8]
    assert got.loc[2, "unit_vec"] is None  # zero vector -> NULL, not NaN


def test_ann_topk_on_custom_table(spark):
    """Clustered vectors: every query's nearest neighbor is its cluster
    twin, which shares its LSH bucket with probability ~1."""
    import math

    rows = []
    for c in range(4):
        a = 2 * math.pi * c / 4
        base = [math.cos(a), math.sin(a), 0.1 * c, -0.05 * c]
        for j in range(3):
            rows.append(
                (c * 10 + j, [x + 0.01 * j for x in base])
            )
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    got = api.ann_topk(df, "vid", "emb", k=2, n_bits=6).toPandas()
    assert set(got.columns) == {"query_id", "neighbor_id", "sim"}
    assert (got.groupby("query_id").size() <= 2).all()
    # top neighbor of each query must come from the same cluster
    top = got.sort_values("sim", ascending=False).groupby("query_id").head(1)
    assert (top.query_id // 10 == top.neighbor_id // 10).all()
    with pytest.raises(ValueError):
        api.ann_topk(df, "vid", "emb", k=0)


def test_ann_topk_rejects_non_integral_ids(spark):
    """Regression (round-9 ADVICE): ann_topk silently cast string ids to
    long, turning them into NULL vec_ids — it must reject non-integral
    ids the same way cosine_topk does."""
    df = spark.createDataFrame(
        [("u-1", [1.0, 0.0]), ("u-2", [0.9, 0.1])],
        "doc string, emb array<double>",
    )
    with pytest.raises(TypeError):
        api.ann_topk(df, "doc", "emb")


def test_near_dup_clusters_warns_when_unconverged(spark):
    """Regression (round-9 ADVICE): hitting max_rounds with labels still
    moving must WARN (silent split clusters = under-dedup), and the
    default budget must stay quiet on the same input."""
    import warnings

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(3)]  # triangle: all pairwise dups
    df = spark.createDataFrame(rows, "pk long, body string")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        api.near_dup_clusters(df, "pk", "body", max_rounds=1).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "did not converge" in str(w.message)
        for w in rec
    )
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        got = api.near_dup_clusters(df, "pk", "body").toPandas()
    assert not any(
        issubclass(w.category, RuntimeWarning)
        and "did not converge" in str(w.message)
        for w in rec2
    )
    assert len(got) == 3 and set(got.cluster_size) == {3}


def test_fill_forward_on_custom_table(spark):
    rows = [
        (1, 10, None), (1, 20, 5.0), (1, 30, None), (1, 40, 7.0), (1, 50, None),
        (2, 10, None),
    ]
    df = spark.createDataFrame(rows, "k int, t long, v double")
    got = (
        api.fill_forward(df, ["k"], "t", "v")
        .toPandas()
        .sort_values(["k", "t"])
    )
    k1 = got[got.k == 1].v_ffill
    assert k1.isna().tolist() == [True, False, False, False, False]
    assert k1.dropna().tolist() == [5.0, 5.0, 7.0, 7.0]
    assert got[got.k == 2].v_ffill.isna().all()  # before first obs: NULL


def test_winsorize_on_custom_table(spark):
    rows = [("g", float(v)) for v in range(1, 100)] + [("g", 10000.0)]
    df = spark.createDataFrame(rows, "grp string, x double")
    got = api.winsorize(df, ["grp"], "x", lower=0.0, upper=0.95).toPandas()
    assert got.x_wins.max() < 10000.0  # outlier clipped to p95
    assert len(got) == 100 and set(got.columns) == {"grp", "x", "x_wins"}
    with pytest.raises(ValueError):
        api.winsorize(df, ["grp"], "x", lower=0.9, upper=0.1)


def test_profile_on_custom_table(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "pk int, s string"
    )
    got = api.profile(df).toPandas().set_index("column")
    assert int(got.loc["s", "n_null"]) == 1
    assert int(got.loc["pk", "n_null"]) == 0
    assert int(got.loc["pk", "n_rows"]) == 3
    assert got.loc["pk", "min"] == "1" and got.loc["pk", "max"] == "3"


def test_profile_numeric_minmax_is_typed_not_lexicographic(spark):
    """Regression (round-9 ADVICE): min/max must aggregate on the TYPED
    column and stringify after — casting first made them lexicographic,
    so [2, 10] reported min='10', max='2'."""
    df = spark.createDataFrame(
        [(2, 9.5), (10, 10.25), (7, -3.0)], "n int, x double"
    )
    got = api.profile(df).toPandas().set_index("column")
    assert got.loc["n", "min"] == "2" and got.loc["n", "max"] == "10"
    assert got.loc["x", "min"] == "-3.0" and got.loc["x", "max"] == "10.25"


def test_latest_by_key_on_custom_table(spark):
    rows = [
        (1, 0, 100, "old"), (1, 1, 100, "amended"),   # gen 1 wins
        (2, 0, 100, "only"),
        (3, 0, 100, "early"), (3, 0, 200, "late"),    # same gen: later ts wins
    ]
    df = spark.createDataFrame(rows, "k int, gen int, t long, tag string")
    got = (
        api.latest_by_key(df, ["k"], ["gen", "t"])
        .toPandas()
        .set_index("k")["tag"]
    )
    assert got.to_dict() == {1: "amended", 2: "only", 3: "late"}
    with pytest.raises(ValueError):
        api.latest_by_key(df, ["k"], [])


def test_scd2_on_custom_table(spark):
    import pandas as pd

    rows = [
        (1, 10, "bronze"), (1, 20, "bronze"),  # duplicate state collapses
        (1, 30, "gold"), (1, 40, "bronze"),    # back to bronze: new interval
        (2, 10, "silver"),
    ]
    df = spark.createDataFrame(rows, "uid int, t long, tier string")
    got = (
        api.scd2(df, ["uid"], "tier", "t")
        .toPandas()
        .sort_values(["uid", "valid_from"])
        .reset_index(drop=True)
    )
    u1 = got[got.uid == 1]
    assert u1.tier.tolist() == ["bronze", "gold", "bronze"]
    assert u1.valid_from.tolist() == [10, 30, 40]
    assert u1.valid_to.tolist()[:2] == [30, 40]
    assert pd.isna(u1.valid_to.tolist()[2])  # current state open-ended
    u2 = got[got.uid == 2]
    assert len(u2) == 1 and pd.isna(u2.valid_to.iloc[0])


def test_scd2_null_state_transitions(spark):
    """Regression (round-9 ADVICE): (_prev != state) is NULL when the new
    state is NULL, so a non-null -> NULL transition was silently dropped
    and the prior interval wrongly extended over it.  Null-safe compare
    must keep the NULL interval AND collapse consecutive NULLs."""
    import pandas as pd

    rows = [
        (1, 10, "a"), (1, 20, None), (1, 30, None), (1, 40, "a"),
        (2, 10, None), (2, 20, "b"),   # key starting in NULL state
    ]
    df = spark.createDataFrame(rows, "uid int, t long, st string")
    got = (
        api.scd2(df, ["uid"], "st", "t")
        .toPandas()
        .sort_values(["uid", "valid_from"])
        .reset_index(drop=True)
    )
    u1 = got[got.uid == 1]
    assert u1.valid_from.tolist() == [10, 20, 40]      # 30 collapsed
    assert u1.st.tolist() == ["a", None, "a"]
    assert u1.valid_to.tolist()[:2] == [20, 40]
    assert pd.isna(u1.valid_to.tolist()[2])
    u2 = got[got.uid == 2]
    assert u2.valid_from.tolist() == [10, 20]
    assert u2.st.tolist() == [None, "b"]


def test_stream_windowed_counts_batch_equivalence(spark, tmp_path):
    """The streaming windowed count through availableNow must equal the
    batch computation on the same data — the D-class equivalence rule."""
    rows = [
        (i, datetime(2025, 1, 1, 10 + (i % 3), 5 * (i % 7))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "eid int, t timestamp")
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)

    # complete mode: append would hold back the FINAL window (no later
    # event ever advances the watermark past its end — the D-class
    # eviction-timing edge the registry streaming ops document)
    streamed = api.run_available_now(
        api.stream_windowed_counts(sdf, "t", window="1 hour",
                                   watermark="10 minutes"),
        output_mode="complete",
    ).toPandas().set_index("window_start")["n"]
    batch = (
        api.stream_windowed_counts(df, "t", window="1 hour")
        .toPandas()
        .set_index("window_start")["n"]
    )
    assert streamed.sort_index().to_dict() == batch.sort_index().to_dict()


def test_stream_dedupe_batch(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, v string"
    )
    got = api.stream_dedupe(df, ["k"]).toPandas()
    assert sorted(got.k.tolist()) == [1, 2]


def test_funnel_property_vs_bruteforce(spark):
    """Randomized ordered-funnel correctness: per-user prefix completion
    computed by a pure-python scan must match the window formulation."""
    import random

    rng = random.Random(99)
    stages = ["s1", "s2", "s3"]
    rows = [
        (rng.randrange(25), i, rng.choice(stages + ["noise"]))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "uid int, t long, step string")
    got = (
        api.funnel(df, "uid", "t", "step", stages, tie_col="step")
        .toPandas()
        .set_index("stage")["n_users"]
        .to_dict()
    )

    # brute force: scan each user's (t, step)-ordered events, tracking
    # the deepest prefix completed STRICTLY in order
    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, t, step in rows:
        by_user[uid].append((t, step))
    reached = [0, 0, 0]
    for evs in by_user.values():
        depth = 0
        for _t, step in sorted(evs):
            if depth < len(stages) and step == stages[depth]:
                depth += 1
        for k in range(depth):
            reached[k] += 1
    assert got["s1"] == reached[0]
    assert got["s1>s2"] == reached[1]
    assert got["s1>s2>s3"] == reached[2]


def test_scd2_property_vs_bruteforce(spark):
    """Randomized SCD2: collapsed intervals must equal the pure-python
    run-length encoding of each key's state sequence."""
    import random

    rng = random.Random(7)
    rows = [
        (rng.randrange(10), i, rng.choice("ab"))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "uid int, t long, st string")
    got = (
        api.scd2(df, ["uid"], "st", "t")
        .toPandas()
        .sort_values(["uid", "valid_from"])
        .reset_index(drop=True)
    )

    from collections import defaultdict

    by_user = defaultdict(list)
    for uid, t, st in rows:
        by_user[uid].append((t, st))
    exp = []
    for uid, evs in by_user.items():
        runs = []
        for t, st in sorted(evs):
            if not runs or runs[-1][1] != st:
                runs.append([t, st])
        for i, (t, st) in enumerate(runs):
            vt = runs[i + 1][0] if i + 1 < len(runs) else None
            exp.append((uid, st, t, vt))
    exp.sort(key=lambda r: (r[0], r[2]))
    assert len(got) == len(exp)
    for row, (uid, st, vf, vt) in zip(got.itertuples(), exp):
        assert (row.uid, row.st, row.valid_from) == (uid, st, vf)
        if vt is None:
            assert row.valid_to != row.valid_to or row.valid_to is None
        else:
            assert row.valid_to == vt


def test_temperature_mix_property_exact_membership(spark):
    """The kept set is a PURE FUNCTION of the inputs: recompute the
    tempered quantized weights, anchor, rational rates, and md5 bucket
    membership in pure python — the Spark result must equal it EXACTLY
    (no statistical tolerance)."""
    import hashlib
    import math
    import random
    from collections import Counter

    rng = random.Random(31)
    doms = ["w", "x", "y", "z"]
    rows = [(i, rng.choice(doms)) for i in range(1500)]
    df = spark.createDataFrame(rows, "rid int, dom string")
    T = 0.7
    got = set(
        r.rid
        for r in api.temperature_mix(df, "dom", "rid", temperature=T).collect()
    )

    n = Counter(d for _, d in rows)
    total = sum(n.values())
    qw = {
        d: math.floor((n[d] / total) ** T * 1_000_000_000_000 + 0.5)
        for d in doms
    }
    anchor = min(doms, key=lambda d: (n[d] / qw[d], d))
    rate_bp = {
        d: (n[anchor] * 10000 * qw[d]) // (qw[anchor] * n[d]) for d in doms
    }

    def bucket(rid: int) -> int:
        h = hashlib.md5(f"mix:{rid}".encode()).hexdigest()[:8]
        return int(h, 16) % 10_000

    want = {rid for rid, d in rows if bucket(rid) < rate_bp[d]}
    assert got == want
    assert rate_bp[anchor] == 10_000  # the anchor keeps everything


def test_resample_on_custom_table(spark):
    rows = [
        ("a", datetime(2025, 3, 1, 10, 5), 1.0),
        ("a", datetime(2025, 3, 1, 10, 55), 3.0),
        ("a", datetime(2025, 3, 1, 11, 0), 5.0),
        ("b", datetime(2025, 3, 1, 10, 30), 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    got = (
        api.resample(df, "t", "v", grain="hour", keys=["k"])
        .toPandas()
        .set_index(["k", "bucket"])
        .sort_index()
    )
    a10 = got.loc[("a", datetime(2025, 3, 1, 10))]
    assert int(a10.n) == 2 and a10.sum_value == 4.0 and a10.avg_value == 2.0
    assert a10.min_value == 1.0 and a10.max_value == 3.0
    assert int(got.loc[("a", datetime(2025, 3, 1, 11))].n) == 1
    assert int(got.loc[("b", datetime(2025, 3, 1, 10))].n) == 1
    with pytest.raises(ValueError):
        api.resample(df, "t", "v", grain="fortnight")


def test_write_partitioned_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, 2020 + i % 3, f"p{i}") for i in range(30)],
        "rid int, yr int, payload string",
    )
    d = str(tmp_path)
    back = api.write_partitioned(df, d, "yr")
    assert back.count() == 30
    # partition pruning surface: one directory per year
    import os

    dirs = [f for f in os.listdir(d) if f.startswith("yr=")]
    assert sorted(dirs) == ["yr=2020", "yr=2021", "yr=2022"]
    # values survive the round trip
    got = back.toPandas().sort_values("rid").reset_index(drop=True)
    src = df.toPandas().sort_values("rid").reset_index(drop=True)
    assert got.payload.tolist() == src.payload.tolist()
    assert got.yr.tolist() == src.yr.tolist()


def test_token_stats_on_custom_table(spark):
    df = spark.createDataFrame(
        [(1, "hello world42, ok!"), (2, "a b")], "rid int, body string"
    )
    got = api.token_stats(df, "rid", "body").toPandas().set_index("rid")
    # hello | world | 42 | , | ok | !  -> 6 BPE-ish tokens
    assert int(got.loc[1, "n_bpe_tokens"]) == 6
    assert int(got.loc[1, "n_ws_tokens"]) == 3
    assert int(got.loc[1, "n_est_tokens"]) == 5  # ceil(18/4)
    assert int(got.loc[2, "n_ws_tokens"]) == 2


def test_ngram_counts_on_custom_table(spark):
    df = spark.createDataFrame(
        [
            (1, "to be or not to be"),
            (2, "to be or"),
            (3, "xy"),  # shorter than n -> contributes nothing
        ],
        "rid int, body string",
    )
    got = api.ngram_counts(df, "rid", "body", n=3, k=10).toPandas()
    top = got.set_index("ngram")
    assert int(top.loc["to be or", "n"]) == 2
    assert int(top.loc["to be or", "n_docs"]) == 2
    assert got.iloc[0].ngram == "to be or"  # count desc, then lexical
    assert int(top.loc["be or not", "n_docs"]) == 1
    with pytest.raises(ValueError):
        api.ngram_counts(df, "rid", "body", n=0)


def test_fingerprint_on_custom_table(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "pk int, s string"
    )
    f1 = api.fingerprint(df).collect()[0]
    assert f1.n_rows == 3 and f1.fingerprint > 0
    # order-independent: repartitioned input fingerprints identically
    f2 = api.fingerprint(df.repartition(5)).collect()[0]
    assert (f1.n_rows, f1.fingerprint) == (f2.n_rows, f2.fingerprint)
    # sensitive to content
    df2 = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "d")], "pk int, s string"
    )
    f3 = api.fingerprint(df2).collect()[0]
    assert f3.fingerprint != f1.fingerprint
    # NULL vs the literal sentinel string must differ fingerprint-wise
    # when hashed with the id column alongside (the sentinel is scoped
    # per cell, not per row)
    f4 = api.fingerprint(df.select("s")).collect()[0]
    assert f4.n_rows == 3


def test_resize_bitmaps_on_custom_table(spark):
    import numpy as np

    h, w = 8, 6
    img = np.arange(h * w, dtype=np.uint8).reshape(h, w)
    df = spark.createDataFrame(
        [(7, bytearray(img.tobytes()), h, w)],
        "pid int, img binary, h int, w int",
    )
    got = api.resize_bitmaps(df, "pid", "img", "h", "w", factor=2).collect()[0]
    small = img[::2, ::2]
    assert (got.out_h, got.out_w) == small.shape
    assert bytes(got.payload) == small.tobytes()  # pixel-exact selection
    assert got.pixel_sum == int(small.astype(np.int64).sum())
    with pytest.raises(ValueError):
        api.resize_bitmaps(df, "pid", "img", "h", "w", factor=0)


def test_sample_frames_on_custom_table(spark):
    import numpy as np

    nf, h, w = 7, 4, 3
    vid = np.arange(nf * h * w, dtype=np.uint8).reshape(nf, h, w)
    df = spark.createDataFrame(
        [(9, bytearray(vid.tobytes()), nf, h, w)],
        "vid_id int, v binary, nf int, h int, w int",
    )
    got = (
        api.sample_frames(df, "vid_id", "v", "nf", "h", "w", stride=3)
        .toPandas()
        .sort_values("frame_idx")
    )
    assert got.frame_idx.tolist() == [0, 3, 6]
    for _, row in got.iterrows():
        assert bytes(row.frame) == vid[row.frame_idx].tobytes()
        assert row.frame_sum == int(vid[row.frame_idx].astype(np.int64).sum())


def test_dedup_corpus_collapses_exact_copies_first(spark):
    """Exact copies must not reach the near-dup pass, and the surviving
    set must be identical to the all-rows formulation: min id per
    near-dup component plus all unrelated rows."""
    base = "the quick brown fox jumps over the lazy dog again and again ok yes"
    rows = (
        [(i, base) for i in range(20, 26)]              # 6 literal copies
        + [(30, base + " tail")]                        # near dup of the group
        + [(40, "completely different content about spark plans and shuffles")]
        + [(41, "completely different content about spark plans and shuffles")]
    )
    df = spark.createDataFrame(rows, "pk long, body string")
    kept = sorted(
        r.pk for r in api.dedup_corpus(df, "pk", "body", threshold=0.7).collect()
    )
    # component {20..25, 30} -> 20 survives; {40, 41} exact -> 40 survives
    assert kept == [20, 40]


def test_vector_search_vs_numpy_bruteforce(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    C = rng.standard_normal((60, 8))
    Q = rng.standard_normal((5, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(60)],
        "cid long, cv array<double>",
    )
    queries = spark.createDataFrame(
        [(100 + j, [float(x) for x in Q[j]]) for j in range(5)],
        "qid long, qv array<double>",
    )
    got = (
        api.vector_search(corpus, queries, "cid", "cv", "qid", "qv", k=3)
        .toPandas()
        .sort_values(["query_id", "sim"], ascending=[True, False])
    )
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = np.round(Qn @ Cn.T, 6)
    for j in range(5):
        order = np.lexsort((np.arange(60), -S[j]))[:3]
        gq = got[got.query_id == 100 + j]
        assert gq.neighbor_id.tolist() == [int(i) for i in order]
        for nid, sim in zip(gq.neighbor_id, gq.sim):
            assert abs(sim - S[j][nid]) < 1e-9
    with pytest.raises(ValueError):
        api.vector_search(corpus, queries, "cid", "cv", "qid", "qv", k=0)


def test_curate_corpus_end_to_end(spark):
    """The one-call pipeline: quality gate -> exact dedup -> optional
    near dedup -> optional decontamination, each stage verified against
    a brute-force recompute on a hand-built corpus."""
    good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")  # 20 toks
    rows = [
        (1, good),                      # keeper of exact cluster {1,2}
        (2, good),                      # exact dup of 1 -> dropped
        (3, good + " phi"),             # near dup of 1 (survives exact)
        (4, "x"),                       # fails quality (short)
        (5, "completely different words " + " ".join(f"word{i}" for i in range(17))),
    ]
    df = spark.createDataFrame(rows, "pk long, body string")
    base = api.curate_corpus(df, "pk", "body").toPandas()
    assert sorted(base.pk) == [1, 3, 5]          # 2 deduped, 4 gated
    assert base.set_index("pk").n_copies.to_dict() == {1: 2, 3: 1, 5: 1}

    near = api.curate_corpus(df, "pk", "body", near_dup=True).toPandas()
    assert sorted(near.pk) == [1, 5]             # 3 collapsed into 1

    ev = spark.createDataFrame(
        [(100, good)], "eid long, etext string"
    )
    decon = api.curate_corpus(
        df, "pk", "body", eval_df=ev, eval_text_col="etext", near_dup=True
    ).toPandas()
    assert sorted(decon.pk) == [5]               # 1 shares 13-grams w/ eval
    with pytest.raises(ValueError):
        api.curate_corpus(df, "pk", "body", eval_df=ev)


def test_connected_components_vs_union_find(spark):
    """Randomized graphs: min-label propagation must match a pure-python
    union-find on every component (label = component min, sizes exact)."""
    import random

    rng = random.Random(20260815)
    for trial in range(4):
        n = rng.randrange(10, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        in_graph = {x for e in edges for x in e}
        comp = {}
        for x in in_graph:
            comp.setdefault(find(x), set()).add(x)
        expect = {}
        for members in comp.values():
            rep = min(members)
            for x in members:
                expect[x] = (rep, len(members))

        df = spark.createDataFrame(edges, "a long, b long")
        for mode in ("minlabel", "doubling"):
            got = api.connected_components(df, "a", "b", mode=mode).toPandas()
            actual = {
                r.node: (r.component, r.component_size)
                for r in got.itertuples()
            }
            assert actual == expect, f"trial {trial} mode {mode}"


def test_connected_components_doubling_logn_rounds(spark):
    """mode='doubling' closes a diameter-100 chain in O(log d) rounds
    where the default min-label rule needs ~d rounds and warns at the
    default max_rounds=15 (the round-9 directive's long-chain case)."""
    import warnings

    chain = [(i, i + 1) for i in range(100)]  # path 0-1-...-100
    df = spark.createDataFrame(chain, "a long, b long")
    got = api.connected_components(df, "a", "b", max_rounds=15,
                                   mode="doubling").toPandas()
    assert api._LAST_NDC_ROUNDS <= 9  # ceil(log2(100)) + convergence check
    assert set(got.component) == {0}
    assert set(got.component_size) == {101}
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        split = api.connected_components(df, "a", "b", max_rounds=15).toPandas()
    assert any("did not converge" in str(w.message) for w in rec)
    assert len(set(split.component)) > 1  # min-label at 15 rounds: split


def test_pagerank_mass_and_determinism(spark):
    """On a symmetrized edge list total rank mass is conserved (~1) and
    the result is repartition-invariant (decimal-quantized sums)."""
    rows = [(i, (i + 1) % 10) for i in range(10)] + [(0, 5), (3, 8)]
    sym = rows + [(b, a) for a, b in rows]
    df = spark.createDataFrame(sym, "s long, d long")
    pr = api.pagerank(df, "s", "d", iters=5).toPandas()
    assert abs(pr.pr.sum() - 1.0) < 1e-9
    pr2 = api.pagerank(
        spark.createDataFrame(sym, "s long, d long").repartition(13),
        "s", "d", iters=5,
    ).toPandas()
    a = pr.sort_values("node").pr.tolist()
    b = pr2.sort_values("node").pr.tolist()
    assert a == b  # bit-identical under repartitioning


def test_pagerank_directed_keeps_source_only_nodes(spark):
    """Directed contract (ADVICE r9): the returned node set is ALL edge
    endpoints; a source-only node (no in-edges) holds the teleport
    floor (1-d)/n every iteration instead of vanishing after iter 1."""
    # 1 -> 2 -> 3: node 1 has no in-edges, node 3 no out-edges
    df = spark.createDataFrame([(1, 2), (2, 3)], "s long, d long")
    pr = api.pagerank(df, "s", "d", iters=4, damping=0.85).toPandas()
    got = dict(zip(pr.node, pr.pr))
    assert set(got) == {1, 2, 3}
    floor = 0.15 / 3
    assert abs(got[1] - floor) < 1e-12          # pure source: floor only
    assert abs(got[2] - (floor + 0.85 * floor)) < 1e-12  # fed by 1's floor
    assert got[3] > got[2] > got[1]
    # numpy cross-check of the same no-dangling-redistribution recursion
    import numpy as np

    r = np.full(3, 1 / 3)
    A = np.array([[0, 1, 0], [0, 0, 1], [0, 0, 0]], dtype=float)
    deg = np.array([1, 1, 1], dtype=float)
    for _ in range(4):
        r = 0.15 / 3 + 0.85 * (A.T @ (r / deg))
    for i, node in enumerate((1, 2, 3)):
        assert abs(got[node] - r[i]) < 1e-9


def test_connected_components_null_endpoints_dropped(spark):
    """Edges with a NULL endpoint are dropped explicitly (documented):
    the non-null partner keeps its OTHER edges; a node whose only edges
    are null-partnered is absent."""
    df = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (None, None)], "a long, b long"
    )
    got = api.connected_components(df, "a", "b").toPandas()
    actual = {r.node: (r.component, r.component_size) for r in got.itertuples()}
    assert actual == {1: (1, 2), 2: (1, 2)}  # 5 absent: null-only edges


def test_histogram_sub_centi_width_labels_distinct(spark):
    """bucket_lo stays faithful below width 0.01 (ADVICE r9): adjacent
    buckets get distinct labels equal to bucket*width."""
    vals = [(i / 1000.0,) for i in range(10)]
    df = spark.createDataFrame(vals, "x double")
    h = api.histogram(df, "x", 0.001).toPandas().sort_values("bucket")
    assert len(h) == 10
    assert h.bucket_lo.nunique() == 10
    for r in h.itertuples():
        assert abs(r.bucket_lo - r.bucket * 0.001) < 1e-12


def test_stream_running_stats_batch_equivalence(spark, tmp_path):
    """classic backend through availableNow: the FINAL update-mode row
    per key must equal the batch twin (stream_stateful's D-class rule,
    generic columns)."""
    from datetime import datetime

    rows = [
        (i % 5, 1.07 * i, datetime(2025, 1, 1, 10, i % 60))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "uid int, value double, t timestamp")
    d = str(tmp_path)
    df.coalesce(2).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)

    streamed = api.run_available_now(
        api.stream_running_stats(sdf, ["uid"], "value"),
        output_mode="update",
    ).toPandas()
    # update mode emits one row per (key, micro-batch); keep the final
    final = streamed.groupby("uid").last().sort_index()
    batch = (
        api.stream_running_stats(df, ["uid"], "value")
        .toPandas()
        .set_index("uid")
        .sort_index()
    )
    assert final["n_events"].to_dict() == batch["n_events"].to_dict()
    assert final["total_value"].to_dict() == batch["total_value"].to_dict()


def test_stream_running_stats_matches_certified_kernel(spark):
    """Batch path on the corpus equals the certified stream_stateful
    oracle shape (count + cents-exact total per user)."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = (
        api.stream_running_stats(ev, ["user_id"], "value")
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                / 100.0
            ).alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert got["n_events"].to_dict() == want["n_events"].to_dict()
    assert got["total_value"].to_dict() == want["total_value"].to_dict()


def test_stream_running_stats_tws_gate(spark, tmp_path):
    """backend='tws' needs protobuf; without it the gate must raise the
    documented RuntimeError (and never a cryptic worker crash).  If the
    environment HAS protobuf the call must at least build the plan."""
    from datetime import datetime

    import pytest

    rows = [(1, 2.0, datetime(2025, 1, 1))]
    df = spark.createDataFrame(rows, "uid int, value double, t timestamp")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)
    try:
        from google.protobuf import descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False
    if has_protobuf:
        out = api.stream_running_stats(sdf, ["uid"], "value", backend="tws")
        assert out.isStreaming
    else:
        with pytest.raises(RuntimeError, match="classic"):
            api.stream_running_stats(sdf, ["uid"], "value", backend="tws")


def test_stream_running_stats_rejects_unknown_backend(spark):
    import pytest

    sdf = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="unknown backend"):
        api.stream_running_stats(sdf, ["value"], "value", backend="nope")


def test_plan_scan_census_counts_duplicate_scans(spark, tmp_path):
    """An unpinned two-consumer self-union must show 2 scans of the same
    parquet source; the census sees exactly what the repo audit sees."""
    d = str(tmp_path)
    spark.range(100).write.mode("overwrite").parquet(d)
    base = spark.read.parquet(d)
    two = base.unionByName(base)
    census = {
        r["source"]: r["n_scans"]
        for r in api.plan_scan_census(two).collect()
    }
    n_ex = census.pop("_exchanges")
    assert n_ex >= 0
    assert sum(census.values()) == 2
    one = {
        r["source"]: r["n_scans"]
        for r in api.plan_scan_census(base).collect()
    }
    one.pop("_exchanges")
    assert sum(one.values()) == 1


def test_assert_single_scan_gate(spark, tmp_path):
    import pytest

    d = str(tmp_path)
    spark.range(50).write.mode("overwrite").parquet(d)
    base = spark.read.parquet(d)
    api.assert_single_scan(base)  # 1 scan: passes
    tri = base.unionByName(base).unionByName(base)
    with pytest.raises(AssertionError, match="multiscan"):
        api.assert_single_scan(tri)
    api.assert_single_scan(tri, max_scans=3)  # raised threshold passes


def test_triangle_count_edge_graphs(spark):
    """Empty edge list, star graph (wedges but no closure), and a single
    triangle — the degree-orientation rewrite must keep every edge
    case."""
    empty = spark.createDataFrame([], "a int, b int")
    r = api.triangle_count(empty, "a", "b").collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (0, 0, 0)
    assert r["global_clustering"] is None  # 0 wedges -> NULL, not 0/0
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "a int, b int")
    r = api.triangle_count(star, "a", "b").collect()[0]
    assert r["n_triangles"] == 0 and r["n_edges"] == 5
    assert r["global_clustering"] == 0.0
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a int, b int")
    r = api.triangle_count(tri, "a", "b").collect()[0]
    assert r["n_triangles"] == 1 and r["global_clustering"] == 1.0


def test_price_index_explicit_base_period(spark):
    df = spark.createDataFrame(
        [(2020, "x", 100, 1), (2021, "x", 150, 1),
         (2020, "y", 200, 2), (2021, "y", 100, 2)],
        "t int, i string, cents long, units long",
    )
    out = {
        r["period"]: r["index"]
        for r in api.price_index(
            df, "t", "i", "cents", "units",
            spend_scale=100.0, base_period=2021,
        ).collect()
    }
    assert abs(out[2021] - 100.0) < 1e-9  # base year is exactly 100
    # 2020 vs 2021 base: x 1.00->1.50 (q0=1), y 1.00<-0.50 (q0=2):
    # sum(p_2020*q0)=1.0*1+1.0*2=3.0 over sum(p_2021*q0)=1.5+1.0=2.5
    assert abs(out[2020] - 100.0 * 3.0 / 2.5) < 1e-9


def test_retention_matrix_single_entity(spark):
    from pyspark.sql import functions as F

    one = spark.createDataFrame(
        [(1, "2024-01-05"), (1, "2024-03-02")], "e int, d string"
    ).select("e", F.col("d").cast("timestamp").alias("d"))
    rows = {
        (str(r["cohort_month"])[:7], r["age_months"]): r["n_active"]
        for r in api.retention_matrix(one, "e", "d").collect()
    }
    assert rows[("2024-01", 0)] == 1 and rows[("2024-01", 2)] == 1
    assert ("2024-01", 1) not in rows  # inactive month: absent, not 0


def test_mode_exact_string_values(spark):
    """The generic kernel's tie-break (smallest value) must hold on
    string domains, not just the certified int kernel's."""
    sdf = spark.createDataFrame(
        [("g", "b"), ("g", "a"), ("g", "b"), ("g", "a")], "g string, v string"
    )
    m = api.mode_exact(sdf, ["g"], "v").collect()[0]
    assert m["mode_value"] == "a" and m["n_at_mode"] == 2


def test_ewma_partition_head_renormalizes(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (2, 1, 7.0)], "g int, t int, x double"
    )
    out = {
        (r.g, r.t): r.ewma
        for r in api.ewma(df, "x", ["t"], by=["g"], alpha=0.5, k=3).collect()
    }
    # first row of each partition: weights renormalize to the value itself
    assert out[(1, 1)] == 10.0
    assert out[(2, 1)] == 7.0
    # second row: (1*20 + 0.5*10) / 1.5
    assert out[(1, 2)] == round(25.0 / 1.5, 4)


def test_drawdown_monotone_series_is_zero(spark):
    df = spark.createDataFrame(
        [(1, 1, 5), (1, 2, 3), (1, 3, 4)], "g int, t int, x long"
    )
    row = api.drawdown(df, "x", ["t"], by=["g"]).collect()[0]
    assert row.n_rows == 3 and row.max_dd == 0


def test_drawdown_price_level_mode(spark):
    # cumulate=False: the column IS the equity curve; peak 9 -> trough 4
    df = spark.createDataFrame(
        [(1, 1, 9), (1, 2, 4), (1, 3, 8)], "g int, t int, px long"
    )
    row = api.drawdown(df, "px", ["t"], by=["g"], cumulate=False).collect()[0]
    assert row.max_dd == 5


def test_vwap_exact_ratio(spark):
    df = spark.createDataFrame(
        [("a", 10.0, 2.0), ("a", 20.0, 3.0)], "g string, p double, q double"
    )
    row = api.vwap(df, "p", "q", by=["g"]).collect()[0]
    assert row.price_c == 3000 and row.qty_c == 500
    assert row.vwap4 == 6.0


def test_bollinger_single_row_frame_degenerate(spark):
    df = spark.createDataFrame([("a", 1, 3.5)], "g string, t int, v double")
    row = api.bollinger(df, "v", "t", by=["g"], days=7, k=2.0).collect()[0]
    assert row.ma == row.lower == row.upper == 3.5


def test_weighted_median_heavy_tail_value_wins(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 10)],
        "k string, v double, w long",
    )
    row = api.weighted_median(df, "v", "w", by=["k"]).collect()[0]
    assert row.w_median == 3.0 and row.total_weight == 12.0


def test_weighted_median_tie_peers_pooled(spark):
    # equal values are frame peers: cumw at v=2 includes BOTH weight-2 rows
    df = spark.createDataFrame(
        [("g", 1.0, 2), ("g", 2.0, 1), ("g", 2.0, 1)],
        "k string, v double, w long",
    )
    row = api.weighted_median(df, "v", "w", by=["k"]).collect()[0]
    assert row.w_median == 1.0  # cumw(1.0)=2, 2*2 >= 4 -> crossing at 1.0


def test_skew_kurt_uniform_three_points(spark):
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0)], "k string, x double"
    )
    row = api.skew_kurt(df, "x", by=["k"]).collect()[0]
    assert row.n == 3 and row.skewness == 0.0 and row.kurtosis == -1.5


def test_welch_ttest_identical_groups(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0),
         ("b", 1.0), ("b", 2.0), ("b", 3.0)],
        "g string, x double",
    )
    row = api.welch_ttest(df, "g", "a", "b", "x").collect()[0]
    assert row.n1 == 3 and row.n2 == 3
    assert row.mean_diff == 0.0 and row.t == 0.0 and row.df == 4.0


def test_kaplan_meier_hand_computed_curve(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 0), (2, 1), (3, 1)], "t int, e int"
    )
    rows = {r.duration: r for r in api.kaplan_meier(df, "t", "e").collect()}
    # t=1: 4 at risk, 1 event -> S=0.75; t=2: 2 at risk, 1 event -> 0.375
    # t=3: d == n_risk -> dropped (S would hit 0; ln undefined)
    assert set(rows) == {1, 2}
    assert rows[1].n_risk == 4 and rows[1].survival == 0.75
    assert rows[2].n_risk == 2 and rows[2].survival == 0.375


def test_degree_dist_directed_vs_undirected(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a long, b long"
    )
    und = {
        r.log2_bucket: r
        for r in api.degree_dist(edges, "a", "b").collect()
    }
    # undirected: every node has degree 2 -> one bucket (log2=1), 3 nodes
    assert set(und) == {1} and und[1].n_nodes == 3
    dird = {
        r.log2_bucket: r
        for r in api.degree_dist(edges, "a", "b", directed=True).collect()
    }
    # directed out-degrees: node1=2, node2=1 -> buckets {1: 1 node, 0: 1 node}
    assert dird[1].n_nodes == 1 and dird[0].n_nodes == 1


def test_khop_hand_graph(spark):
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 11), (4, 12)], "c long, s long"
    )
    rows = {r.node: r for r in api.khop(edges, "c", "s", n_seeds=1).collect()}
    # seed = node 1 (degree 2); 2-hop reach: nodes 2 (via 10) and 3 (via 11)
    assert set(rows) == {1}
    assert rows[1].n_dst_1hop == 2 and rows[1].n_src_2hop == 2


def test_interval_islands_merges_nested_and_counts_gaps(spark):
    df = spark.createDataFrame(
        [("u", 0, 10), ("u", 2, 5), ("u", 20, 30)],
        "g string, s long, e long",
    )
    row = api.interval_islands(df, "s", "e", by=["g"]).collect()[0]
    # [0,10] swallows [2,5]; [20,30] is its own island
    assert row.n_islands == 2 and row.covered == 20 and row.longest == 10


def test_xyz_classify_exact_boundaries(spark):
    df = spark.createDataFrame(
        [("cst", 1, 10), ("cst", 2, 10), ("cst", 3, 10),
         ("mid", 1, 1), ("mid", 2, 9),
         ("err", 1, 0), ("err", 2, 10)],
        "k string, b int, q long",
    )
    rows = {r.k: r.xyz_class
            for r in api.xyz_classify(df, ["k"], "b", "q").collect()}
    # cst: cv=0 -> X; mid: cv=0.8 -> Y; err: cv=1.0 (not < 1) -> Z
    assert rows == {"cst": "X", "mid": "Y", "err": "Z"}


def test_corr_matrix_perfect_correlations(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0)],
        "x double, y double, z double",
    )
    row = api.corr_matrix(df, ["x", "y", "z"]).collect()[0]
    assert row.n == 3
    assert row.corr_x_y == 1.0      # y = 2x
    assert row.corr_x_z == -1.0     # z = -x
    assert row.corr_y_z == -1.0


def test_autocorr_alternating_series(spark):
    # perfect alternation -> acf1 = -1
    df = spark.createDataFrame(
        [("g", i, 10 if i % 2 == 0 else 0) for i in range(8)],
        "k string, t int, c long",
    )
    row = api.autocorr(df, "c", "t", by=["k"]).collect()[0]
    assert row.n_pairs == 7 and row.acf == -1.0


def test_cusum_step_change_peaks_at_step(spark):
    # rate jumps 0 -> 10 after t=4: cusum deviation peaks at t=4
    df = spark.createDataFrame(
        [("g", t, 0 if t <= 4 else 10) for t in range(1, 9)],
        "k string, t int, c long",
    )
    row = api.cusum(df, "c", "t", by=["k"]).collect()[0]
    assert row.n_points == 8 and row.peak_at == 4
    # |8*0 - 4*40| / 8 = 20
    assert row.peak_dev == 20.0


def test_calendar_gaps_detects_missing_days(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [(d(2025, 1, 1),), (d(2025, 1, 2),), (d(2025, 1, 2),),
         (d(2025, 1, 5),)],
        "day date",
    )
    row = api.calendar_gaps(df, "day").collect()[0]
    # spine 1..5 Jan: 5 days, missing {3,4}, 4 rows
    assert row.days_total == 5 and row.days_missing == 2 and row.n_rows == 4


def test_rfm_scores_quartile_sanity(spark):
    df = spark.createDataFrame(
        [(i, float(i), i % 5 + 1, float(i * 10)) for i in range(1, 9)],
        "id long, rec double, freq int, mon double",
    )
    out = api.rfm_scores(df, "id", "rec", "freq", "mon").collect()
    assert len(out) == 8
    for r in out:
        assert 1 <= r.r_score <= 4 and 1 <= r.m_score <= 4
        assert r.segment == f"{r.r_score}{r.f_score}{r.m_score}"
    # recency ranks follow id here: ids 1-2 -> tile 1, ids 7-8 -> tile 4
    by_id = {r.id: r for r in out}
    assert by_id[1].r_score == 1 and by_id[8].r_score == 4
    assert by_id[1].m_score == 1 and by_id[8].m_score == 4


def test_streaks_gap_splits_run(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [("u", d(2025, 1, 1)), ("u", d(2025, 1, 2)), ("u", d(2025, 1, 2)),
         ("u", d(2025, 1, 4)), ("u", d(2025, 1, 5)), ("u", d(2025, 1, 6))],
        "g string, day date",
    )
    row = api.streaks(df, ["g"], "day").collect()[0]
    assert row.longest_streak == 3 and row.n_active_days == 5


def test_markov_stationary_two_state_chain(spark):
    # transitions a->b and b->a only: stationary = (0.5, 0.5)
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a")] * 4, "s string, d string"
    )
    rows = {r.state: r.pi9
            for r in api.markov_stationary(df, "s", "d", iters=6).collect()}
    assert rows == {"a": 500_000_000, "b": 500_000_000}


def test_seasonal_decompose_flat_series_zero_seasonal(spark):
    df = spark.createDataFrame(
        [("g", t, t % 4, 5.0) for t in range(20)],
        "k string, t int, season int, v double",
    )
    out = api.seasonal_decompose(df, "v", "t", "season", by=["k"], half=2)
    for r in out.collect():
        assert r.seasonal == 0.0  # constant series has no seasonal component


def test_ohlc_hand_bar(spark):
    df = spark.createDataFrame(
        [("a", 1, 1, 5.0), ("a", 1, 2, 9.0), ("a", 1, 3, 2.0),
         ("a", 1, 4, 7.0)],
        "g string, b int, t int, v double",
    )
    row = api.ohlc(df, "v", "t", "b", by=["g"]).collect()[0]
    assert (row.open, row.high, row.low, row.close) == (5.0, 9.0, 2.0, 7.0)
    assert row.n_ticks == 4 and row.volume == 23.0


def test_twap_step_function_weighting(spark):
    # value 10 held 3s then 0 held 1s -> twap = 30/4 = 7.5; last obs drops
    df = spark.createDataFrame(
        [("u", 0, 10.0), ("u", 3_000_000, 0.0), ("u", 4_000_000, 99.0)],
        "g string, us long, v double",
    )
    row = api.twap(df, "v", "us", by=["g"]).collect()[0]
    assert row.twap == 7.5


def test_rsi_monotone_series_pins_100(spark):
    df = spark.createDataFrame(
        [("g", t, float(t)) for t in range(1, 8)], "k string, t int, c double"
    )
    rows = api.rsi(df, "c", "t", by=["k"], days=3).collect()
    assert rows and all(r.rsi == 100.0 for r in rows)  # sl=0 edge


def test_rolling_corr_perfect_inverse(spark):
    df = spark.createDataFrame(
        [("g", t, t, 100 - t) for t in range(10)],
        "k string, t int, x long, y long",
    )
    rows = api.rolling_corr(df, "x", "y", "t", by=["k"], days=4).collect()
    assert rows and all(r.corr == -1.0 for r in rows)


def test_pmi_bigrams_hand_collocation(spark):
    # "new york" always adjacent; "the" everywhere -> pmi(new,york) high
    rows = [("new york city",)] * 6 + [("the city the town",)] * 6
    df = spark.createDataFrame(rows, "text string")
    out = api.pmi_bigrams(df, "text", min_count=2, k=5).collect()
    assert out, "must find collocations"
    top = out[0]
    assert (top.w1, top.w2) == ("new", "york") and top.n_pair == 6
    assert top.pmi6 > 0


def test_zipf_slope_uniform_corpus_is_flat(spark):
    # every term equally frequent -> ln(freq) constant -> slope 0
    df = spark.createDataFrame(
        [("alpha beta gamma delta",)] * 5, "text string"
    )
    row = api.zipf_slope(df, "text").collect()[0]
    assert row.n_terms == 4 and row.zipf_slope == 0.0


def test_readability_simple_vs_complex(spark):
    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran."),
         (2, "Extraordinarily sophisticated considerations necessitate "
             "comprehensive investigation.")],
        "id int, body string",
    )
    rows = {r.id: r for r in api.readability(df, "body").collect()}
    assert rows[1].n_sents == 2
    assert rows[1].flesch > rows[2].flesch  # short words read easier


def test_geomean_powers_of_two(spark):
    df = spark.createDataFrame(
        [("g", 2.0), ("g", 8.0)], "k string, v double"
    )
    row = api.geomean(df, "v", by=["k"]).collect()[0]
    assert row.n == 2 and row.geomean == 4.0  # sqrt(2*8)
    # NULLs are skipped (n and the divisor count non-NULL values); a
    # value <= 0 has no logarithm, so its group's geomean is NULL
    df = spark.createDataFrame(
        [("null", 2.0), ("null", 8.0), ("null", None),
         ("zero", 2.0), ("zero", 8.0), ("zero", 0.0),
         ("neg", 2.0), ("neg", 8.0), ("neg", -4.0),
         ("all_null", None)],
        "k string, v double",
    )
    got = {
        r.k: (r.n, r.geomean)
        for r in api.geomean(df, "v", by=["k"]).collect()
    }
    assert got == {
        "null": (2, 4.0),
        "zero": (3, None),
        "neg": (3, None),
        "all_null": (0, None),
    }


def test_bloom_filter_membership_no_false_negatives(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "k long")
    words = {r.word_idx: r.word
             for r in api.bloom_filter(df, "k", bits=256, hashes=3).collect()}
    from secdb_spark.operators.pipeline_extras import _hash_bucket
    from secdb_spark.operators.sketch_extras import BLOOM_WORD
    from pyspark.sql import functions as F

    # re-derive every key's bit positions and assert each is set
    probe = spark.createDataFrame([(i,) for i in range(50)], "k long").select(
        "k",
        *[_hash_bucket(F.concat(F.lit(f"bloom{j}:"),
                                F.col("k").cast("string")), 256).alias(f"b{j}")
          for j in range(3)],
    )
    for r in probe.collect():
        for j in range(3):
            b = getattr(r, f"b{j}")
            w = words.get(b // BLOOM_WORD, 0)
            assert w & (1 << (b % BLOOM_WORD)), f"bit {b} unset for key {r.k}"


def test_cms_point_estimate_upper_bounds_truth(spark):
    rows = [("hot",)] * 40 + [(f"cold{i}",) for i in range(30)]
    df = spark.createDataFrame(rows, "term string")
    cells = {(r.row, r.col): r.cnt
             for r in api.cms(df, "term", depth=3, width=16).collect()}
    from secdb_spark.operators.pipeline_extras import _hash_bucket
    from pyspark.sql import functions as F

    probe = spark.createDataFrame([("hot",)], "term string").select(
        *[_hash_bucket(F.concat(F.lit(f"cms{r}:"), F.col("term")), 16)
          .alias(f"c{r}") for r in range(3)]
    ).collect()[0]
    est = min(cells[(r, getattr(probe, f"c{r}"))] for r in range(3))
    assert est >= 40  # CMS never under-counts
    total = sum(v for (r, _), v in cells.items() if r == 0)
    assert total == 70  # each row sums to the stream size


def test_bottomk_sample_coordinated_across_versions(spark):
    v1 = spark.createDataFrame([(i,) for i in range(200)], "id long")
    v2 = spark.createDataFrame([(i,) for i in range(190)], "id long")
    s1 = {r.id for r in api.bottomk_sample(v1, "id", k=20).collect()}
    s2 = {r.id for r in api.bottomk_sample(v2, "id", k=20).collect()}
    # coordination: every v1 sample member that survives into v2 keeps
    # its hash, so it MUST stay sampled (only dropped ids leave)
    survivors = {i for i in s1 if i < 190}
    assert survivors <= s2
    assert len(s2) == 20  # refilled from the next-smallest hashes


def test_hash_features_stateless_and_bounded(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b")], "id int, body string"
    )
    out = api.hash_features(df, "id", "body", dim=8).collect()
    assert all(0 <= r.bucket < 8 for r in out)
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, 0)
        by_id[r.id] += r.cnt
    assert by_id == {1: 4, 2: 2}  # counts preserved through hashing


def test_period_growth_doubling_series(spark):
    df = spark.createDataFrame(
        [("g", 1, 100.0), ("g", 2, 200.0), ("g", 3, 400.0)],
        "k string, t int, v double",
    )
    rows = {r.t: r for r in
            api.period_growth(df, "v", "t", by=["k"]).collect()}
    assert rows[1].growth_pct is None  # no prior period
    assert rows[2].growth_pct == 100.0 and rows[3].growth_pct == 100.0


def test_path_topk_counts_and_lengths(spark):
    df = spark.createDataFrame(
        [("u", 1, "a"), ("u", 2, "b"), ("u", 3, "c"), ("u", 4, "a"),
         ("v", 1, "a"), ("v", 2, "b"), ("v", 3, "c")],
        "e string, t int, s string",
    )
    rows = {r.path: r.n
            for r in api.path_topk(df, "e", "s", ["t"], k=5).collect()}
    assert rows["a>b>c"] == 2 and rows["b>c>a"] == 1
    assert all(len(p.split(">")) == 3 for p in rows)


def test_churn_anchor_convention(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [("g", 1, d(2025, 1, 1)), ("g", 1, d(2025, 6, 1)),
         ("g", 2, d(2025, 1, 15)), ("g", 3, d(2025, 5, 30))],
        "grp string, id int, day date",
    )
    row = api.churn(df, "id", "day", by=["grp"], churn_days=90).collect()[0]
    # anchor = 2025-06-01; entity 2 last seen 137 days before -> churned
    assert row.n_entities == 3 and row.n_churned == 1
    assert row.churn_rate == 0.3333


def test_skyline_dominance(spark):
    df = spark.createDataFrame(
        [(1.0, 5), (1.0, 5), (2.0, 3), (3.0, 4), (4.0, 1)],
        "price double, size int",
    )
    pts = {(r.x, r.y): r.n_rows
           for r in api.skyline(df, "price", "size").collect()}
    # (3.0, 4) dominated by (2.0, 3); duplicates of (1.0, 5) both counted
    assert pts == {(1.0, 5): 2, (2.0, 3): 1, (4.0, 1): 1}


def test_anova_eta_perfect_separation(spark):
    # groups fully determine the value -> eta^2 = 1
    df = spark.createDataFrame(
        [("a", 10), ("a", 10), ("b", 20), ("b", 20), ("c", 30), ("c", 30)],
        "g string, v long",
    )
    row = api.anova_eta(df, "g", "v").collect()[0]
    assert row.n_groups == 3 and row.n_obs == 6
    assert row.eta_squared == 1.0


def test_anova_eta_no_effect(spark):
    # identical distribution in every group -> eta^2 = 0
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 1), ("b", 3)], "g string, v long"
    )
    row = api.anova_eta(df, "g", "v").collect()[0]
    assert row.eta_squared == 0.0


def test_rate_ci_wilson_properties(spark):
    df = spark.createDataFrame(
        [("x", 100, 0), ("y", 100, 100), ("z", 10, 5)],
        "g string, n long, k long",
    )
    rows = {r.g: r for r in api.rate_ci(df, "n", "k").collect()}
    # never exits [0,1]; non-degenerate at p in {0,1}
    for r in rows.values():
        assert 0.0 <= r.ci_lo <= r.rate <= r.ci_hi <= 1.0
    assert rows["x"].ci_hi > 0.0 and rows["y"].ci_lo < 1.0
    assert rows["z"].rate == 0.5


def test_ab_ztest_aa_split_not_significant(spark):
    # A/A: one population, hash split -> H0 true, z small
    df = spark.createDataFrame(
        [(i, 10.0 + (i % 7)) for i in range(2000)], "uid long, v double"
    )
    row = api.ab_ztest(df, "uid", "v").collect()[0]
    assert row.na + row.nb == 2000
    assert not row.significant
    assert abs(row.z_score) < 1.96


def test_table_diff_statuses_and_null_safety(spark):
    new = spark.createDataFrame(
        [(1, 10.0), (2, None), (4, 40.0)], "k int, v double"
    )
    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    rows = {r.k: r for r in
            api.table_diff(new, old, ["k"], ["v"]).collect()}
    # 1 unchanged (absent), 2 changed (20 -> null), 3 removed, 4 added
    assert set(rows) == {2, 3, 4}
    assert rows[2].status == "changed" and rows[2].new_v is None
    assert rows[3].status == "removed" and rows[4].status == "added"


def test_fk_check_counts_violations(spark):
    fact = spark.createDataFrame(
        [(1,), (2,), (3,), (3,), (9,)], "fk int"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    row = api.fk_check(fact, "fk", dim, "pk").collect()[0]
    assert row.n_checked == 5 and row.n_violations == 1
    assert row.constraint_name == "fk->pk"


def test_skew_report_integer_ratios(spark):
    rows = [("hot",)] * 80 + [("a",)] * 10 + [("b",)] * 10
    df = spark.createDataFrame(rows, "k string")
    out = {r.key: r for r in api.skew_report(df, "k", k=3).collect()}
    # hot: 80/100 rows -> 800000 ppm; mean count = 100/3; 80*3*100/100 = 240%
    assert out["hot"].share_ppm == 800000
    assert out["hot"].x_mean_pct == 240
    assert out["a"].share_ppm == 100000


def test_ltv_curve_cumulative_and_cohort(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [(1, d(2025, 1, 5), 10.0), (1, d(2025, 2, 10), 20.0),
         (2, d(2025, 2, 1), 5.0)],
        "id int, day date, v double",
    )
    rows = {(str(r.cohort)[:7], r.age): r
            for r in api.ltv_curve(df, "id", "day", "v").collect()}
    assert rows[("2025-01", 0)].value_c == 1000
    assert rows[("2025-01", 1)].cum_value_c == 3000
    assert rows[("2025-02", 0)].n_active == 1


def test_stickiness_daily_user_is_sticky(spark):
    import datetime as dt

    rows = [(1, dt.datetime(2025, 1, d, 12)) for d in range(1, 15)]
    df = spark.createDataFrame(rows, "uid int, ts timestamp")
    out = {str(r.day)[:10]: r
           for r in api.stickiness(df, "uid", "ts",
                                   anchor="2025-01-01").collect()}
    # a single every-day user: dau = wau = 1 -> stickiness 1.0 always
    assert all(r.stickiness == 1.0 for r in out.values())
    assert len(out) == 14


def test_rolling_active_window_semantics(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2025, 1, 1, 9)), (2, dt.datetime(2025, 1, 3, 9))],
        "uid int, ts timestamp",
    )
    out = {r.window_day: r.active
           for r in api.rolling_active(df, "uid", "ts", days=7).collect()}
    # only days present in the data survive the domain join
    assert out == {"2025-01-01": 1, "2025-01-03": 2}


def test_gap_stats_hand_gaps(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [(1, d(2025, 1, 1)), (1, d(2025, 1, 4)), (1, d(2025, 1, 10)),
         (2, d(2025, 3, 1))],
        "id int, day date",
    )
    rows = {r.id: r for r in api.gap_stats(df, "id", "day").collect()}
    assert set(rows) == {1}  # single-row entity 2 drops out
    r1 = rows[1]
    assert r1.n_gaps == 2 and r1.avg_gap_days == 4.5
    assert r1.max_gap_days == 6 and r1.median_gap_days == 4.5


def test_moving_median_robust_to_spike(spark):
    df = spark.createDataFrame(
        [("g", t, 10 if t != 3 else 1000) for t in range(1, 6)],
        "k string, t int, c long",
    )
    rows = {r.t: r.moving_median
            for r in api.moving_median(df, "c", "t", by=["k"], days=3).collect()}
    # median window shrugs off the t=3 spike from t=4 on
    assert rows[4] == 10.0 and rows[5] == 10.0
    assert rows[3] == 10.0  # [10, 10, 1000] -> 10


def test_reset_cumsum_session_boundaries(spark):
    df = spark.createDataFrame(
        [("u", 0, 1.0), ("u", 10, 2.0), ("u", 1000, 5.0)],
        "g string, t long, v double",
    )
    rows = {r.t: r for r in
            api.reset_cumsum(df, "v", "t", by=["g"], gap=100,
                             scale=0).collect()}
    assert rows[0].session_id == 1 and rows[10].running_value == 3
    assert rows[1000].session_id == 2 and rows[1000].running_value == 5


def test_running_distinct_monotone_counter(spark):
    df = spark.createDataFrame(
        [("u", 1, "a"), ("u", 2, "b"), ("u", 3, "a"), ("u", 4, "c")],
        "g string, t int, x string",
    )
    rows = {r.t: r.n_distinct
            for r in api.running_distinct(df, "x", ["t"], by=["g"]).collect()}
    assert rows == {1: 1, 2: 2, 3: 2, 4: 3}


def test_topk_ties_includes_tied_rows(spark):
    df = spark.createDataFrame(
        [("g", 1, 10), ("g", 2, 10), ("g", 3, 5), ("g", 4, 1)],
        "k string, id int, v long",
    )
    out = api.topk_ties(df, "v", by=["k"], k=1).collect()
    assert {r.id for r in out} == {1, 2}  # both rows tying the top value
    assert all(r.rk == 1 for r in out)


def test_containment_pairs_subset_detection(spark):
    long = " ".join(f"w{i}" for i in range(30))
    short = " ".join(f"w{i}" for i in range(25))  # subset of long
    df = spark.createDataFrame(
        [(1, long), (2, short)], "id int, body string"
    )
    row = api.containment_pairs(df, "id", "body", min_common=25).collect()[0]
    assert (row.id_a, row.id_b) == (1, 2)
    assert row.containment_b == 1.0          # short fully contained
    assert row.containment_a == round(25 / 30, 4)


def test_iqr_outliers_flags_extreme(spark):
    rows = [("g", i, 10.0) for i in range(20)] + [("g", 99, 1000.0)]
    df = spark.createDataFrame(rows, "k string, id int, v double")
    row = api.iqr_outliers(df, "v", by=["k"], tie_col="id").collect()[0]
    assert row.n == 21 and row.n_out_hi == 1 and row.n_out_lo == 0


def test_burst_detect_range_peers(spark):
    df = spark.createDataFrame(
        [("u", 0), ("u", 0), ("u", 50), ("u", 200)], "id string, t long"
    )
    row = api.burst_detect(df, "id", "t", window=100).collect()[0]
    # window 100: at t=50 the frame holds {0,0,50} -> burst 3
    assert row.max_burst == 3 and row.n_rows == 4


def test_quantile_bins_equal_population(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id int, v double"
    )
    out = {r.bin: r for r in api.quantile_bins(df, "v", "id", n_bins=4).collect()}
    assert all(out[b].n == 25 for b in range(1, 5))
    assert out[1].lo == 0.0 and out[4].hi == 99.0


def test_last_touch_first_event_is_default(spark):
    df = spark.createDataFrame(
        [("u", 1, "buy", 10.0), ("u", 2, "ad", 0.0), ("u", 3, "buy", 5.0)],
        "id string, t int, ev string, v double",
    )
    rows = {r.channel: r for r in
            api.last_touch(df, "id", "ev", "v", ["t"],
                           conversion="buy").collect()}
    assert rows["direct"].attributed_value == 10.0  # first event
    assert rows["ad"].attributed_value == 5.0


def test_window_conversion_window_boundary(spark):
    df = spark.createDataFrame(
        [("u", 0, "view"), ("u", 50, "buy"), ("u", 500, "buy")],
        "id string, t long, ev string",
    )
    row = api.window_conversion(
        df, "id", "ev", "t", trigger="view", conversion="buy", window=100
    ).collect()[0]
    # buy@50 converts (view 50 ago); buy@500 outside the window
    assert row.n_conversions == 2 and row.n_converted == 1
    assert row.conv_rate == 0.5


def test_stage_latency_ordered_stages(spark):
    df = spark.createDataFrame(
        [("u", 0, "a"), ("u", 10, "b"), ("u", 30, "c"),
         ("v", 0, "b"), ("v", 5, "a"), ("v", 8, "b")],
        "id string, t long, ev string",
    )
    rows = {r.stage: r for r in
            api.stage_latency(df, "id", "ev", "t", ["a", "b", "c"],
                              time_scale=1.0).collect()}
    # u: a@0 -> b@10 -> c@30; v: a@5 -> b@8 (b@0 precedes a, skipped)
    assert rows["a->b"].n_entities == 2
    assert rows["a->b"].p50 == 6.5  # median of {10, 3}
    assert rows["b->c"].n_entities == 1 and rows["b->c"].p50 == 20.0


def test_bounce_rate_single_event_sessions(spark):
    df = spark.createDataFrame(
        [("u", 1, 0, "home"), ("u", 2, 10, "search"),
         ("u", 3, 1000, "home"),
         ("v", 4, 0, "promo")],
        "id string, eid int, t long, ev string",
    )
    rows = {r.entry_type: r for r in
            api.bounce_rate(df, "id", "ev", "t", "eid", gap=100).collect()}
    # sessions: u[home,search] (no bounce), u[home] (bounce), v[promo] (bounce)
    assert rows["home"].n_sessions == 2 and rows["home"].n_bounce == 1
    assert rows["promo"].bounce_rate == 1.0


def test_onehot_unknown_category_to_other(spark):
    df = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "Z")], "id int, cat string"
    )
    rows = {r.id: r for r in
            api.onehot(df, "cat", ["A", "B"], prefix="c").collect()}
    assert rows[1].c_a == 1 and rows[1].c_other == 0
    assert rows[3].c_a == 0 and rows[3].c_b == 0 and rows[3].c_other == 1


def test_feature_scale_bounds_and_zero_mean(spark):
    df = spark.createDataFrame(
        [("g", float(v)) for v in (0, 5, 10)], "k string, v double"
    )
    rows = sorted(
        api.feature_scale(df, "v", by=["k"]).collect(), key=lambda r: r.v
    )
    assert rows[0].mm == 0.0 and rows[-1].mm == 1.0
    assert rows[1].z == 0.0  # the mean point
    assert abs(sum(r.z for r in rows)) < 1e-9


def test_k_anonymity_small_groups(spark):
    rows = [("a", i) for i in range(10)] + [("b", 0)]
    df = spark.createDataFrame(rows, "qi string, x int")
    row = api.k_anonymity(df, ["qi"], k=5).collect()[0]
    assert row.n_groups == 2 and row.min_group_size == 1
    assert row.n_small_groups == 1 and row.n_exposed_rows == 1
    assert row.exposed_share == round(1 / 11, 4)


def test_transition_matrix_loyalty_diagonal(spark):
    df = spark.createDataFrame(
        [("u", 1, "x"), ("u", 2, "x"), ("u", 3, "y"),
         ("v", 1, "y"), ("v", 2, "x")],
        "id string, t int, s string",
    )
    rows = {(r.from_state, r.to_state): r
            for r in api.transition_matrix(df, "id", "s", ["t"]).collect()}
    assert rows[("x", "x")].n_transitions == 1
    assert rows[("x", "x")].is_loyal and not rows[("x", "y")].is_loyal
    assert rows[("y", "x")].n_transitions == 1


def test_lexical_diversity_all_unique_vs_repeated(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x")], "id int, body string"
    )
    rows = {r.id: r for r in
            api.lexical_diversity(df, ["id"], "body").collect()}
    assert rows[1].ttr6 == 1_000_000 and rows[1].hapax6 == 1_000_000
    assert rows[2].n_types == 1 and rows[2].ttr6 == 250_000
    assert rows[2].n_hapax == 0


def test_repetition_score_templated_text(spark):
    df = spark.createDataFrame(
        [(1, "spam ham " * 20), (2, "one two three four five six"),
         (3, "too short")],
        "id int, body string",
    )
    rows = {r.id: r for r in
            api.repetition_score(df, "id", "body").collect()}
    assert 3 not in rows  # < 3 tokens emits nothing
    assert rows[1].rep6 > 900_000   # heavy repetition
    assert rows[2].rep6 == 0        # all trigrams unique


def test_token_entropy_uniform_vs_constant(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "z z z z")], "id int, body string"
    )
    rows = {r.id: r for r in
            api.token_entropy(df, ["id"], "body").collect()}
    import math

    assert rows[1].ent6 == round(math.log(4) * 1e6)  # uniform: ln(4)
    assert rows[2].ent6 == 0                          # constant: 0


def test_hapax_by_group_case_folding(spark):
    df = spark.createDataFrame(
        [("s", "Word word RARE")], "src string, body string"
    )
    row = api.hapax_by_group(df, ["src"], "body").collect()[0]
    # lowercasing folds Word/word -> one type with count 2; rare is hapax
    assert row.vocab == 2 and row.hapax == 1 and row.hapax_ratio == 0.5


def test_latency_percentiles_exact_interpolation(spark):
    df = spark.createDataFrame(
        [("g", v) for v in (0, 10, 20, 30)], "k string, lag int"
    )
    row = api.latency_percentiles(
        df, "lag", by=["k"], ps=(0.5, 1.0)
    ).collect()[0]
    assert row.n == 4 and row.p50 == 15.0 and row.p100 == 30.0


def test_peak_to_avg_flat_load_is_one(spark):
    df = spark.createDataFrame(
        [("g", b) for b in range(5) for _ in range(7)], "k string, b int"
    )
    row = api.peak_to_avg_ratio(df, ["k"], "b").collect()[0]
    assert row.n_buckets == 5 and row.peak_to_avg == 1.0


def test_top_share_whale_concentration(spark):
    rows = [("g", i, 1) for i in range(9)] + [("g", 99, 91)]
    df = spark.createDataFrame(rows, "k string, id int, v long")
    row = api.top_share(df, "v", by=["k"], pct=10).collect()[0]
    # 10 entities: top 10% = 1 entity = the whale with 91 of 100
    assert row.n_entities == 10 and row.top_value == 91
    assert row.top_share == 0.91


def test_dispersion_index_poisson_vs_clumped(spark):
    flat = [("flat", b) for b in range(10) for _ in range(5)]
    clump = [("clump", 0)] * 50 + [("clump", b) for b in range(1, 10)]
    df = spark.createDataFrame(flat + clump, "k string, b int")
    rows = {r.k: r.dispersion
            for r in api.dispersion_index(df, ["k"], "b").collect()}
    assert rows["flat"] == 0.0          # constant counts: zero variance
    assert rows["clump"] > 10           # heavy clumping


def test_vocab_overlap_identical_sources(spark):
    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z"), ("c", "p q")],
        "src string, body string",
    )
    rows = {(r.group_a, r.group_b): r
            for r in api.vocab_overlap(df, "src", "body").collect()}
    assert rows[("a", "b")].jaccard == 1.0
    assert ("a", "c") not in rows  # no shared terms -> no candidate pair


def test_cross_entropy_identical_distribution_zero_kl(spark):
    df = spark.createDataFrame(
        [("a", "x y"), ("b", "x y")], "src string, body string"
    )
    rows = {r.group: r
            for r in api.cross_entropy(df, "src", "body").collect()}
    # both groups match the corpus distribution exactly -> KL = 0
    assert rows["a"].kl_bits == 0.0 and rows["b"].kl_bits == 0.0
    assert rows["a"].h_self == 1.0  # two equiprobable tokens = 1 bit


def test_novelty_score_shared_vs_unique(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "id int, body string"
    )
    rows = {r.id: r for r in
            api.novelty_score(df, "id", "body").collect()}
    # trigrams doc1: {a b c, b c d}; doc2: {a b c, b c e}; 'a b c' shared
    assert rows[1].n_trigrams == 2 and rows[1].n_unique == 1
    assert rows[1].novelty == 0.5 and rows[2].novelty == 0.5


def test_otd_rate_sla_boundary(spark):
    df = spark.createDataFrame(
        [("s", 5), ("s", 10), ("s", 11), ("s", 20)], "k string, lag int"
    )
    row = api.otd_rate(df, ["k"], "lag", sla=10).collect()[0]
    # lag > 10 counts late: {11, 20}; delays {1, 10}
    assert row.n_late == 2 and row.late_ratio == 0.5
    assert row.max_delay == 10 and row.avg_late_delay == 5.5


def test_reorder_rate_counts(spark):
    df = spark.createDataFrame(
        [("g", 1), ("g", 1), ("g", 2), ("g", 3), ("g", 3), ("g", 3)],
        "k string, id int",
    )
    row = api.reorder_rate(df, ["k"], "id").collect()[0]
    assert row.n_entities == 3 and row.n_repeat == 2
    assert row.reorder_rate == 0.6667 and row.avg_rows == 2.0


def test_new_vs_returning_split_first_month(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [(1, d(2025, 1, 5), 10.0), (1, d(2025, 1, 20), 5.0),
         (1, d(2025, 2, 1), 7.0), (2, d(2025, 2, 10), 3.0)],
        "id int, day date, v double",
    )
    rows = {str(r.month)[:7]: r
            for r in api.new_vs_returning_split(df, "id", "day", "v").collect()}
    jan, feb = rows["2025-01"], rows["2025-02"]
    # entity 1 is new ALL of January (both orders in the first month)
    assert jan.n_new == 1 and jan.n_returning == 0 and jan.val_new == 15.0
    assert feb.n_new == 1 and feb.n_returning == 1
    assert feb.val_new == 3.0 and feb.val_returning == 7.0


def test_dup_histogram_mixed_multiplicities(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("c",), ("c",)], "body string"
    )
    rows = {r.cluster_size: r for r in
            api.dup_histogram(df, "body").collect()}
    assert rows[3].n_clusters == 1 and rows[3].n_docs == 3
    assert rows[2].n_clusters == 1 and rows[1].n_clusters == 1
    assert sum(r.n_docs for r in rows.values()) == 6


def test_size_dist_fanout(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (3,), (3,)], "k int"
    )
    rows = {r.size: r for r in api.size_dist(df, "k").collect()}
    assert rows[3].n_groups == 1 and rows[2].n_groups == 1
    assert rows[1].total_groups == 3


def test_gap_hist_bit_length_buckets(spark):
    # gaps of 0, 1, 5 seconds -> buckets 0, 1, 3 (bit lengths)
    df = spark.createDataFrame(
        [("u", "t", 0, 1), ("u", "t", 0, 2),           # gap 0
         ("u", "t", 1_000_000, 3),                      # gap 1s -> bucket 1
         ("u", "t", 6_000_000, 4)],                     # gap 5s -> bucket 3
        "uid string, et string, us long, eid int",
    )
    rows = {r.bucket: r.n for r in
            api.gap_hist(df, ["et"], ["uid", "et"], "us",
                         tie_cols=["eid"]).collect()}
    assert rows == {0: 1, 1: 1, 3: 1}


def test_dow_hour_heatmap_iso_weekday(spark):
    import datetime as dt

    # 2025-01-06 is a Monday -> ISO dow 1
    df = spark.createDataFrame(
        [(dt.datetime(2025, 1, 6, 9),), (dt.datetime(2025, 1, 12, 23),)],
        "ts timestamp",
    )
    rows = {(r.dow, r.hr): r.n
            for r in api.dow_hour_heatmap(df, "ts").collect()}
    assert rows == {(1, 9): 1, (7, 23): 1}  # Monday=1, Sunday=7


def test_embedding_dim_stats_hand_values(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 10.0]), (2, [3.0, 10.0])], "id int, v array<double>"
    )
    rows = {r.pos: r for r in api.embedding_dim_stats(df, "v").collect()}
    assert rows[0].mean == 2.0 and rows[0].vmin == 1.0 and rows[0].vmax == 3.0
    assert rows[1].std == 0.0  # constant dimension


def test_embedding_norms_pythagorean(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id int, v array<double>"
    )
    rows = {r.id: r for r in api.embedding_norms(df, "id", "v").collect()}
    assert rows[1].l2_norm == 5.0 and rows[1].dim == 2
    assert rows[2].l2_norm == 0.0


def test_matryoshka_report_energy_split(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 0.0, 4.0, 0.0])], "id int, v array<double>"
    )
    row = api.matryoshka_report(df, "id", "v", keep_dims=2).collect()[0]
    # full norm 5; first 2 dims hold 9 of 25 energy
    assert row.norm_full == 5.0 and row.norm_half == 3.0
    assert row.energy_ratio == 0.36


def test_item_similarity_hand_cosine(spark):
    # baskets: {A,B} x3, {A,C} x1 -> seed A (f=4): cos(A,B)=3/sqrt(4*3)
    rows = ([(i, "A") for i in range(4)]
            + [(i, "B") for i in range(3)] + [(3, "C")])
    df = spark.createDataFrame(rows, "bk int, it string")
    out = {r.item: r for r in
           api.item_similarity(df, "bk", "it", n_seeds=1, min_co=1,
                               k=5).collect()}
    import math

    assert out["B"].co_baskets == 3
    assert out["B"].cosine == round(3 / math.sqrt(4 * 3), 4)
    assert out["C"].co_baskets == 1 and out["C"].rk == 2


def test_tfidf_topk_terms_idf_zero_for_ubiquitous(spark):
    df = spark.createDataFrame(
        [(1, "common rare1"), (2, "common rare2")], "id int, body string"
    )
    out = {(r.id, r.term): r.score
           for r in api.tfidf_topk_terms(df, "id", "body", k=2).collect()}
    assert out[(1, "common")] == 0           # df = N -> idf = 0
    assert out[(1, "rare1")] > 0


def test_copurchase_pairs_ordering(spark):
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z")],
        "bk int, it string",
    )
    out = api.copurchase_pairs(df, "bk", "it", k=5).collect()
    assert (out[0].item_a, out[0].item_b, out[0].n_baskets) == ("x", "y", 2)
    assert all(r.item_a < r.item_b for r in out)


def test_rank_shift_climber(spark):
    df = spark.createDataFrame(
        [("a", 100.0, 10.0), ("b", 50.0, 90.0)], "k string, v1 double, v2 double"
    )
    rows = {r.k: r for r in api.rank_shift(df, "k", "v1", "v2").collect()}
    assert rows["a"].rank_1 == 1 and rows["a"].rank_2 == 2
    assert rows["b"].shift == 1  # climbed from 2 to 1


def test_seasonality_index_mean_is_one(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "m int, v double"
    )
    rows = {r.bucket: r.seasonality_index
            for r in api.seasonality_index(df, "m", "v").collect()}
    assert rows[2] == 1.0  # the average month
    assert abs(sum(rows.values()) - 3.0) < 1e-9


def test_sla_rate_and_worst_lag(spark):
    df = spark.createDataFrame(
        [("g", 1), ("g", 7), ("g", 8), ("g", 30)], "k string, lag int"
    )
    row = api.sla_rate(df, ["k"], "lag", sla=7).collect()[0]
    assert row.n_met == 2 and row.sla_rate == 0.5 and row.worst_lag == 30


def test_flag_rate_counts(spark):
    df = spark.createDataFrame(
        [("d", True), ("d", False), ("d", False), ("d", True)],
        "k string, f boolean",
    )
    row = api.flag_rate(df, ["k"], "f").collect()[0]
    assert row.n_flagged == 2 and row.rate == 0.5


def test_first_touch_shares_sum_to_one(spark):
    df = spark.createDataFrame(
        [("u", 1, "ad"), ("u", 2, "buy"), ("v", 1, "search"),
         ("w", 1, "ad")],
        "id string, t int, ev string",
    )
    rows = {r.first_event: r
            for r in api.first_touch(df, "id", "ev", ["t"]).collect()}
    assert rows["ad"].n_entities == 2 and rows["ad"].share == 0.6667
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-3


def test_supply_concentration_single_source(spark):
    df = spark.createDataFrame(
        [("p1", "s1", 10.0), ("p2", "s1", 5.0), ("p2", "s2", 5.0)],
        "part string, supp string, q double",
    )
    rows = {r.part: r for r in
            api.supply_concentration(df, "part", "supp", "q").collect()}
    assert rows["p1"].hhi == 1.0 and rows["p1"].top_share == 1.0
    assert rows["p2"].hhi == 0.5 and rows["p2"].n_members == 2


def test_aging_buckets_boundaries(spark):
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [("g", d(2025, 6, 1), 1.0),   # anchor day -> 0-30
         ("g", d(2025, 4, 1), 1.0),   # 61 days -> 31-90
         ("g", d(2024, 1, 1), 1.0)],  # 517 days -> 365+
        "k string, day date, v double",
    )
    rows = {r.age_bucket: r.n_rows for r in
            api.aging_buckets(df, ["k"], "day", "v").collect()}
    assert rows == {"0-30": 1, "31-90": 1, "365+": 1}


def test_cumulative_entities_monotone(spark):
    import datetime as dt

    t = dt.datetime
    df = spark.createDataFrame(
        [(1, t(2025, 1, 1, 9)), (1, t(2025, 1, 2, 9)),
         (2, t(2025, 1, 2, 10)), (3, t(2025, 1, 3, 8))],
        "id int, ts timestamp",
    )
    rows = sorted(api.cumulative_entities(df, "id", "ts").collect(),
                  key=lambda r: r.day)
    assert [r.cum_entities for r in rows] == [1, 2, 3]
    assert [r.dau for r in rows] == [1, 2, 1]
    assert [r.new_entities for r in rows] == [1, 1, 1]


def test_assortativity_hub_to_leaves_negative(spark):
    # hub (deg 3) mostly hits deg-1 leaves; the deg-2 dst pairs once
    # with a deg-1 source -> disassortative (note: a graph where either
    # side's degree is CONSTANT has zero variance and the correlation
    # is undefined — ANSI division error, same as the registry twin)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (8, 1), (9, 4)], "s long, p long"
    )
    row = api.assortativity(edges, "s", "p").collect()[0]
    assert row.n_edges == 5 and row.assortativity < 0


def test_breadth_hist_dedup(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a")], "id int, item string"
    )
    rows = {r.breadth: r.n_entities
            for r in api.breadth_hist(df, "id", "item").collect()}
    assert rows == {2: 1, 1: 1}  # duplicate (1, a) counted once


def test_band_rollup_sums(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "band int, v double"
    )
    rows = {r.band: r for r in
            api.band_rollup(df, "band", val_cols={"total": "v"}).collect()}
    assert rows[1].n_rows == 2 and rows[1].total == 30.0
    assert rows[2].total == 5.0


def test_json_field_stats_extraction(spark):
    df = spark.createDataFrame(
        [("g", '{"k": 5}'), ("g", '{"k": 15}')], "t string, props string"
    )
    row = api.json_field_stats(df, ["t"], "props", "$.k").collect()[0]
    assert row.sum == 20 and row.avg == 10.0
    assert row.min == 5 and row.max == 15


def test_linfit_perfect_line(spark):
    df = spark.createDataFrame(
        [("g", float(x), 2.0 * x + 1) for x in range(10)],
        "k string, x double, y double",
    )
    row = api.linfit(df, "x", "y", by=["k"]).collect()[0]
    assert row.slope == 2.0 and row.r2 == 1.0


def test_trend_slope_linear_growth(spark):
    df = spark.createDataFrame(
        [("g", t, 5 * t + 3) for t in range(8)], "k string, x int, y long"
    )
    row = api.trend_slope(df, "x", "y", by=["k"]).collect()[0]
    assert row.n_points == 8 and row.slope == 5.0


def test_loglog_elasticity_power_law(spark):
    # y = x^-2 -> elasticity -2
    df = spark.createDataFrame(
        [("g", float(x), float(x) ** -2.0) for x in (1, 2, 4, 8, 16)],
        "k string, x double, y double",
    )
    row = api.loglog_elasticity(df, "x", "y", by=["k"]).collect()[0]
    assert row.n == 5 and abs(row.elasticity - (-2.0)) < 1e-3


def test_ewma_alpha_decay_follows_recursion(spark):
    # alpha=0.9 must track fast (decay (1-a)^i = 0.1^i), close to the
    # exact recursion on a long series; the inverted a^i basis would
    # smooth heavily instead (review fix)
    series = [10.0] * 10 + [20.0]
    df = spark.createDataFrame(
        [("g", t, v) for t, v in enumerate(series)],
        "k string, t int, x double",
    )
    out = {r.t: r.ewma
           for r in api.ewma(df, "x", ["t"], by=["k"], alpha=0.9,
                             k=5).collect()}
    # recursion from a settled 10: e = 0.9*20 + 0.1*10 = 19.0
    assert abs(out[10] - 19.0) < 0.01
    # the inverted basis would give (1*20 + .9*10 + .81*10 + ...) / sum ~ 12.4
    assert out[10] > 18.0


def test_onehot_case_collision_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, "US")], "id int, cat string")
    with pytest.raises(ValueError, match="collide after lowercasing"):
        api.onehot(df, "cat", ["US", "us"])


def test_onehot_null_category_lands_in_other(spark):
    df = spark.createDataFrame([(1, None), (2, "A")], "id int, cat string")
    rows = {r.id: r for r in api.onehot(df, "cat", ["A"]).collect()}
    assert rows[1].cat_other == 1 and rows[1].cat_a == 0
    assert rows[2].cat_other == 0 and rows[2].cat_a == 1


def test_stage_latency_rejects_single_stage(spark):
    import pytest

    df = spark.createDataFrame([("u", 1, "a")], "id string, t long, ev string")
    with pytest.raises(ValueError, match="needs >= 2 stages"):
        api.stage_latency(df, "id", "ev", "t", stages=["a"])


def test_corr_matrix_underscore_columns(spark):
    import pytest

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0), (2.0, 4.0, 5.0, 9.0), (3.0, 6.0, 8.0, 1.0)],
        "x double, y_z double, x_y double, z double",
    )
    # ('x','y_z') and ('x_y','z') collide on the OUTPUT name corr_x_y_z:
    # the kernel now raises instead of emitting ambiguous duplicates
    # (the internal moments used to collide silently the same way)
    with pytest.raises(ValueError, match="output names collide"):
        api.corr_matrix(df, ["x", "y_z", "x_y", "z"]).collect()
    # non-colliding underscore names work and stay numerically correct
    row = api.corr_matrix(df, ["x", "y_z"]).collect()[0]
    assert row.corr_x_y_z == 1.0  # y_z = 2x exactly


def test_interval_islands_duplicate_intervals_one_island(spark):
    df = spark.createDataFrame(
        [("g", 1, 0, 1), ("g", 2, 5, 9), ("g", 3, 5, 9)],
        "k string, eid int, s long, e long",
    )
    row = api.interval_islands(
        df, "s", "e", by=["k"], tie_cols=["eid"]
    ).collect()[0]
    # duplicates of [5,9] are ONE island; [0,1] is the other
    assert row.n_islands == 2 and row.covered == 5 and row.longest == 4


def test_ohlc_caller_column_named_like_an_intermediate(spark):
    """A caller column that shares a name with a column the kernel adds
    raises ValueError naming it, instead of being silently overwritten
    (open/close then read row numbers); any other name is an ordinary
    column."""
    rows = [(0, 1, 10.0), (0, 2, 30.0), (0, 3, 20.0)]
    for v in ("v", "_rn_a"):
        df = spark.createDataFrame(rows, f"b int, t int, {v} double")
        got = api.ohlc(df, v, "t", "b").collect()[0]
        assert (got.open, got.high, got.low, got.close) == (10.0, 30.0, 10.0, 20.0)
    df = spark.createDataFrame(rows, "b int, t int, RN_A double")
    with pytest.raises(ValueError, match="rn_a"):
        api.ohlc(df, "RN_A", "t", "b")
