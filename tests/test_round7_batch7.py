"""Brute-force parity for round-7 batches 7-10 (stats_extras2,
embed_extras, warehouse_extras9, corpus_extras)."""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.stats_extras2 import (
    KS_A,
    KS_B,
    MW_A,
    MW_B,
    WT_A,
    WT_B,
)
from secdb_spark.operators.warehouse_extras9 import (
    RANK_SPLIT,
    STOCH_DAYS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def events_pdf(spark):
    return table(spark, SF_DIR, "events").toPandas()


def _cents(v):
    return np.floor(np.asarray(v) * 100 + 0.5).astype(np.int64)


# --- stats_extras2 ---------------------------------------------------------


def test_stat_mannwhitney_vs_bruteforce(q, events_pdf):
    ev = events_pdf[events_pdf.event_type.isin([MW_A, MW_B])]
    a = np.sort(_cents(ev[ev.event_type == MW_A].value))
    b = np.sort(_cents(ev[ev.event_type == MW_B].value))
    combined = np.concatenate([a, b])
    order = np.sort(combined)
    # average ranks by value, brute force
    rank_of = {}
    for v, grp in Counter(order).items():
        lo = np.searchsorted(order, v, "left") + 1
        rank_of[v] = lo + (grp - 1) / 2
    r1 = sum(rank_of[v] for v in a)
    u1 = r1 - len(a) * (len(a) + 1) / 2
    got = q("stat_mannwhitney").iloc[0]
    assert got.n1 == len(a) and got.n2 == len(b)
    assert got.u1 == pytest.approx(u1, abs=1e-9)
    # z sanity: tie-corrected normal approximation
    n1, n2 = len(a), len(b)
    nn = n1 + n2
    ties = sum(t**3 - t for t in Counter(order).values())
    var = n1 * n2 / 12 * ((nn + 1) - ties / (nn * (nn - 1)))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    assert got.z == pytest.approx(z, abs=1e-3)


def test_stat_ks_2samp_vs_bruteforce(q, events_pdf):
    ev = events_pdf[events_pdf.event_type.isin([KS_A, KS_B])]
    a = np.sort(_cents(ev[ev.event_type == KS_A].value))
    b = np.sort(_cents(ev[ev.event_type == KS_B].value))
    grid = np.unique(np.concatenate([a, b]))
    ecdf_a = np.searchsorted(a, grid, "right") / len(a)
    ecdf_b = np.searchsorted(b, grid, "right") / len(b)
    d = np.abs(ecdf_a - ecdf_b).max()
    got = q("stat_ks_2samp").iloc[0]
    assert got.n1 == len(a) and got.n2 == len(b)
    assert got.d == pytest.approx(d, abs=1e-3)
    assert got.c_stat == pytest.approx(
        d * math.sqrt(len(a) * len(b) / (len(a) + len(b))), abs=1e-3
    )


def test_stat_welch_ttest_vs_bruteforce(q, events_pdf):
    ev = events_pdf[events_pdf.event_type.isin([WT_A, WT_B])]
    a = _cents(ev[ev.event_type == WT_A].value) / 100.0
    b = _cents(ev[ev.event_type == WT_B].value) / 100.0
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))
    got = q("stat_welch_ttest").iloc[0]
    assert got.n1 == len(a) and got.n2 == len(b)
    assert got.mean_diff == pytest.approx(a.mean() - b.mean(), abs=1e-3)
    assert got.t == pytest.approx(t, abs=1e-3)
    assert got.df == pytest.approx(df, rel=1e-4)


# --- embed_extras ----------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    pdf = table(spark, SF_DIR, "embeddings").toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    return pdf.vec_id.to_numpy(), pdf.label.to_numpy(), mat


def test_embed_dim_stats_vs_numpy(q, emb):
    _, _, mat = emb
    got = q("embed_dim_stats").set_index("pos").sort_index()
    assert len(got) == mat.shape[1]
    np.testing.assert_allclose(got["mean"], mat.mean(axis=0), atol=1e-3)
    np.testing.assert_allclose(got["std"], mat.std(axis=0, ddof=1), atol=1e-3)
    np.testing.assert_allclose(got["vmin"], mat.min(axis=0), atol=0)
    np.testing.assert_allclose(got["vmax"], mat.max(axis=0), atol=0)
    assert (got.n == mat.shape[0]).all()


def test_embed_label_outliers_vs_numpy(q, emb):
    vec_id, label, mat = emb
    got = q("embed_label_outliers")
    for lab in np.unique(label):
        sel = label == lab
        cent = mat[sel].mean(axis=0)
        d2q = np.floor((mat[sel] - cent) ** 2 * 1e6 + 0.5).sum(axis=1)
        ids = vec_id[sel]
        order = sorted(zip(-d2q, ids))[:3]
        want = [vid for _, vid in order]
        rows = got[got.label == lab].sort_values("rk")
        assert list(rows.vec_id) == want
        np.testing.assert_allclose(
            rows.d2, [-negd / 1e6 for negd, _ in order], atol=1e-3
        )


def test_embed_margin_vs_numpy(q, emb):
    _, label, mat = emb
    labs = np.unique(label)
    cents = np.stack([mat[label == lab].mean(axis=0) for lab in labs])
    # e6-quantized distances to every centroid
    d2 = np.stack(
        [
            np.floor((mat - c) ** 2 * 1e6 + 0.5).sum(axis=1)
            for c in cents
        ],
        axis=1,
    )
    own = d2[np.arange(len(mat)), np.searchsorted(labs, label)]
    masked = d2.copy()
    masked[np.arange(len(mat)), np.searchsorted(labs, label)] = np.inf
    other = masked.min(axis=1)
    got = q("embed_margin").set_index("label")
    for lab in labs:
        sel = label == lab
        row = got.loc[lab]
        assert row.n == sel.sum()
        assert row.n_confused == int((other[sel] < own[sel]).sum())
        assert row.avg_margin == pytest.approx(
            (other[sel] - own[sel]).mean() / 1e6, abs=1e-3
        )


# --- warehouse_extras9 -----------------------------------------------------


def test_ts_stochastic_vs_bruteforce(q, events_pdf):
    ev = events_pdf.copy()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_stochastic")
    for et, g in ev.groupby("event_type"):
        closes = (
            g.sort_values(["ts", "event_id"])
            .groupby("day")
            .last()
            .value.sort_index()
        )
        days = closes.index
        sub = got[got.event_type == et].set_index("day").sort_index()
        assert list(sub.index) == list(days)
        for i, day in enumerate(days):
            lo_days = [
                d for d in days if 0 <= (day - d).days <= STOCH_DAYS - 1
            ]
            window = closes.loc[lo_days]
            lo, hi = window.min(), window.max()
            want = (
                round((closes.loc[day] - lo) / (hi - lo), 4)
                if hi > lo
                else None
            )
            gotk = sub.loc[day, "pct_k"]
            if want is None:
                assert gotk != gotk  # NaN
            else:
                assert gotk == pytest.approx(want, abs=1e-9)


def test_ts_cusum_vs_bruteforce(q, events_pdf):
    ev = events_pdf.copy()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_cusum").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("day").size().sort_index()
        n, total = len(daily), daily.sum()
        cum = daily.cumsum()
        ex = abs(n * cum - np.arange(1, n + 1) * total)
        peak = ex.max()
        peak_day = ex.index[ex.to_numpy() == peak].min()
        row = got.loc[et]
        assert row.n_days == n
        assert row.peak_day == peak_day
        assert row.peak_dev == pytest.approx(peak / n, abs=1e-3)


def test_event_gap_hist_buckets(q, events_pdf):
    ev = events_pdf.copy()
    ev["us"] = ev.ts.astype("int64") // 1000
    buckets = Counter()
    for (_, _), g in ev.groupby(["user_id", "event_type"]):
        s = g.sort_values(["us", "event_id"]).us.to_numpy()
        for gap in np.diff(s):
            gap_s = int(gap // 1_000_000)
            buckets[(g.event_type.iloc[0], 0 if gap_s <= 0 else gap_s.bit_length())] += 1
    got = q("event_gap_hist")
    assert got.n.sum() == sum(buckets.values())
    for _, row in got.iterrows():
        assert buckets[(row.event_type, row.bucket)] == row.n
    # shares sum to 1 per type
    for _, g in got.groupby("event_type"):
        assert g.share.sum() == pytest.approx(1.0, abs=0.01)


def test_brand_rank_shift_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    p = table(spark, SF_DIR, "part").toPandas()
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    j["rev"] = j.l_extendedprice * (1 - j.l_discount)
    split = np.datetime64(RANK_SPLIT)
    h1 = j[j.l_shipdate < split].groupby("p_brand").rev.sum()
    h2 = j[j.l_shipdate >= split].groupby("p_brand").rev.sum()
    got = q("brand_rank_shift").set_index("p_brand")
    r1 = h1.rank(ascending=False, method="first")
    for brand, row in got.iterrows():
        assert row.rev_h1 == pytest.approx(h1.get(brand, 0), rel=1e-6)
        assert row.rev_h2 == pytest.approx(h2.get(brand, 0), rel=1e-6)
        assert row["shift"] == row.rank_h1 - row.rank_h2
    # rank_h1 is a permutation and tracks revenue ordering
    assert sorted(got.rank_h1) == list(range(1, len(got) + 1))
    top = got[got.rank_h1 == 1].index[0]
    assert h1[top] == h1.max()
    assert r1.notna().all()


def test_part_supplier_concentration_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    li["q100"] = _cents(li.l_quantity)
    got = q("part_supplier_concentration").set_index("l_partkey")
    grouped = li.groupby(["l_partkey", "l_suppkey"]).q100.sum()
    for pk, g in grouped.groupby(level=0):
        row = got.loc[pk]
        tot = g.sum()
        assert row.n_suppliers == len(g)
        assert row.total_q100 == tot
        assert row.top_share == pytest.approx(g.max() / tot, abs=1e-3)
        assert row.hhi == pytest.approx((g**2).sum() / tot**2, abs=1e-3)


def test_order_priority_aging_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    maxd = o.o_orderdate.max()
    open_o = o[o.o_orderstatus == "O"].copy()
    age = (maxd - open_o.o_orderdate).dt.days
    open_o["bucket"] = np.select(
        [age <= 30, age <= 90, age <= 365], ["0-30", "31-90", "91-365"], "365+"
    )
    got = q("order_priority_aging")
    assert got.n_orders.sum() == len(open_o)
    want = open_o.groupby(["o_orderpriority", "bucket"])
    for (pri, b), g in want:
        row = got[(got.o_orderpriority == pri) & (got.age_bucket == b)]
        assert len(row) == 1
        assert row.n_orders.iloc[0] == len(g)
        assert row.open_value.iloc[0] == pytest.approx(
            g.o_totalprice.sum(), rel=1e-9
        )


# --- corpus_extras ---------------------------------------------------------


def test_text_readability_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    got = q("text_readability").set_index("doc_id")
    for _, doc in docs.head(50).iterrows():
        words = len(re.findall(r"\S+", doc.text))
        sents = max(1, len(re.findall(r"[.!?]+", doc.text)))
        syll = max(1, len(re.findall(r"[aeiouy]+", doc.text.lower())))
        row = got.loc[doc.doc_id]
        assert row.n_words == words
        assert row.n_sents == sents
        assert row.n_syll == syll
        flesch = 206.835 - 1.015 * words / sents - 84.6 * syll / max(1, words)
        assert row.flesch == pytest.approx(flesch, abs=1e-3)


def test_corpus_word_len_dist_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    counts = Counter()
    for _, doc in docs.iterrows():
        for tok in doc.text.lower().split(" "):
            if tok:
                counts[(doc.lang, min(20, len(tok)))] += 1
    got = q("corpus_word_len_dist")
    assert got.n.sum() == sum(counts.values())
    for _, row in got.iterrows():
        assert counts[(row.lang, row.wl)] == row.n
    for _, g in got.groupby("lang"):
        assert g.share.sum() == pytest.approx(1.0, abs=0.01)


# --- plan pins (SCALE.md §28) ----------------------------------------------

import contextlib
import io


def _plan(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_text_readability_is_map_only(spark):
    p = _plan(spark, "text_readability")
    assert re.findall(r"\(\d+\) Exchange\b", p) == [], (
        "readability must stay fused in the scan (zero Exchange)"
    )
    assert "CartesianProduct" not in p


def test_embed_dim_stats_single_exchange(spark):
    p = _plan(spark, "embed_dim_stats")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1, (
        "dim stats must be one combinable aggregate (single shuffle)"
    )
    assert p.count("HashAggregate") >= 2, "partial aggregation regressed"


def test_embed_ops_broadcast_centroids_no_cartesian(spark):
    for name in ("embed_label_outliers", "embed_margin"):
        p = _plan(spark, name)
        assert "BroadcastHashJoin" in p, f"{name}: centroid join must broadcast"
        assert "CartesianProduct" not in p, name


def test_stat_kernels_no_global_window_over_data(spark):
    """The rank/ECDF windows must be partitioned by _bucket (the kernel),
    never partition-less over the distinct-value frame."""
    for name in ("stat_mannwhitney", "stat_ks_2samp"):
        p = _plan(spark, name)
        for m in re.finditer(r"Window .*", p):
            assert "_bucket" in m.group(0) or "partitionBy" not in m.group(0)
        assert "CartesianProduct" not in p


def test_part_supplier_concentration_two_shuffles(spark):
    p = _plan(spark, "part_supplier_concentration")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2, (
        "cascaded aggregates must reuse the partkey partitioning"
    )
