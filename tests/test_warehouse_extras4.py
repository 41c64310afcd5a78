"""Brute-force parity checks for the round-6 batch-2 operators
(warehouse_extras4.py).  The DuckDB oracle certifies cross-engine value
equality; these tests certify the ALGORITHMS against independent python /
numpy formulations, so an oracle that merely mirrors a wrong formula
cannot go green silently.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _docs_tokens(spark):
    d = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    return {r.doc_id: r.text.split(" ") for r in d.itertuples()}


def test_dedup_clusters_exact_matches_union_find(q, spark):
    """Clusters == union-find over the exact LSH candidate pairs, with
    min-id representative and complete sorted membership."""
    pairs = q("lsh_candidates")
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.itertuples():
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    got = q("dedup_clusters_exact")
    assert len(got) == len(comps)
    for r in got.itertuples():
        members = sorted(comps[r.cluster_rep])
        assert r.cluster_size == len(members)
        assert r.members == "[" + ", ".join(str(m) for m in members) + "]"
        assert r.cluster_rep == members[0]


def test_pagerank_against_numpy_power_iteration(q, spark):
    """Top-k quantized ranks == a dense numpy power iteration with the
    same decimal-quantization of contributions."""
    import numpy as np
    from decimal import Decimal

    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey").toPandas()
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey").toPandas()
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    e0 = {("c%d" % c, "s%d" % s) for c, s in zip(m["o_custkey"], m["l_suppkey"])}
    edges = list(e0) + [(b, a) for a, b in e0]
    deg = Counter(src for src, _ in edges)
    nodes = sorted(deg)
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        acc = {v: Decimal(0) for v in nodes}
        for src, dst in edges:
            acc[dst] += Decimal(pr[src] / deg[src]).quantize(Decimal("1e-18"))
        pr = {v: 0.15 / n + 0.85 * float(acc[v]) for v in nodes}
    brute = sorted(
        ((v, math.floor(pr[v] * 1e9 + 0.5)) for v in nodes),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    got = [(r.node, r.pr9) for r in q("graph_pagerank").itertuples()]
    assert got == brute
    # sanity: total rank mass conserved to quantization error
    assert abs(sum(pr.values()) - 1.0) < 1e-6


def test_text_quality_signals_brute_force(q, spark):
    """repetition / entropy / TTR vs direct Counter math on every doc."""
    toks = _docs_tokens(spark)
    rep = {r.doc_id: r for r in q("text_repetition").itertuples()}
    ent = {r.doc_id: r for r in q("text_entropy_tokens").itertuples()}
    ttr = {r.doc_id: r for r in q("text_ttr").itertuples()}
    assert set(rep) == set(toks) and set(ent) == set(toks)
    for doc_id, t in toks.items():
        tris = [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]
        r = rep[doc_id]
        assert (r.n_tri, r.n_uniq) == (len(tris), len(set(tris)))
        assert r.rep6 == math.floor((1.0 - len(set(tris)) / len(tris)) * 1e6 + 0.5)
        c = Counter(t)
        total = len(t)
        h = math.log(total) - sum(v * math.log(v) for v in c.values()) / total
        assert abs(ent[doc_id].ent6 - math.floor(h * 1e6 + 0.5)) <= 1
        r = ttr[doc_id]
        hapax = sum(1 for v in c.values() if v == 1)
        assert (r.n_tokens, r.n_types, r.n_hapax) == (total, len(c), hapax)


def test_corpus_ngram_topk_brute_force(q, spark):
    toks = _docs_tokens(spark)
    cnt: Counter = Counter()
    docs: dict[str, set] = {}
    for doc_id, t in toks.items():
        for i in range(len(t) - 2):
            g = " ".join(t[i : i + 3])
            cnt[g] += 1
            docs.setdefault(g, set()).add(doc_id)
    brute = sorted(((-n, g) for g, n in cnt.items()))[:50]
    got = q("corpus_ngram_topk")
    assert [(-r.n, r.trigram) for r in got.itertuples()] == brute
    for r in got.itertuples():
        assert r.n_docs == len(docs[r.trigram])


def test_win_drawdown_brute_force(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = (o["o_totalprice"] * 100 + 0.5).apply(math.floor)
    got = {r.o_custkey: r for r in q("win_drawdown").itertuples()}
    for ck, g in o.groupby("o_custkey"):
        g = g.sort_values(["o_orderdate", "o_orderkey"])
        eq, peak, dd = 0, 0, 0
        for c in g["cents"]:
            eq += c
            peak = max(peak, eq)
            dd = max(dd, peak - eq)
        assert (got[ck].n_orders, got[ck].max_dd_c) == (len(g), dd)


def test_orders_open_backlog_brute_force(q, spark):
    """Backlog at sampled days == direct interval-stabbing count; the
    series starts and ends at zero-sum (every +1 gets its -1)."""
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate").toPandas()
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_shipdate").toPandas()
    close = li.groupby("l_orderkey")["l_shipdate"].max()
    iv = [
        (r.o_orderdate.date(), max(close[r.o_orderkey].date(), r.o_orderdate.date()))
        for r in o.itertuples()
        if r.o_orderkey in close.index
    ]
    s = q("orders_open_backlog").sort_values("day").reset_index(drop=True)
    assert int(s["backlog"].iloc[-1]) == 0, "all orders eventually close"
    assert (s["backlog"] >= 0).all()
    for idx in range(0, len(s), 97):  # sampled stabbing check
        day = s["day"].iloc[idx].date()
        brute = sum(1 for p, c in iv if p <= day <= c)
        assert int(s["backlog"].iloc[idx]) == brute


def test_gini_hhi_brute_force(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey").toPandas()
    o["cents"] = (o["o_totalprice"] * 100 + 0.5).apply(math.floor)
    spend = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .groupby(["c_nationkey", "o_custkey"])["cents"]
        .sum()
        .reset_index()
    )
    gini = {r.c_nationkey: r for r in q("agg_gini").itertuples()}
    hhi = {r.c_nationkey: r for r in q("agg_hhi").itertuples()}
    for nk, g in spend.groupby("c_nationkey"):
        xs = [
            int(x)
            for x in g.sort_values(["cents", "o_custkey"])["cents"]
        ]
        n = len(xs)
        a = sum((i + 1) * x for i, x in enumerate(xs))
        gv = (2.0 * a) / (n * sum(xs)) - (n + 1.0) / n
        assert gini[nk].n_cust == n
        assert gini[nk].gini6 == math.floor(gv * 1e6 + 0.5)
        shares = [x / sum(xs) for x in xs]
        assert abs(hhi[nk].hhi4 - 10000 * sum(s * s for s in shares)) < 1e-2


def test_join_nearest_ts_brute_force(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["us"] = ev["ts"].astype("int64") // 1000
    p = ev[ev["event_type"] == "purchase"]
    v = ev[ev["event_type"] == "view"]
    got = {r.p_id: (r.v_id, r.diff_us) for r in q("join_nearest_ts").itertuples()}
    for r in p.itertuples():
        cands = v[v["user_id"] == r.user_id]
        if len(cands) == 0:
            assert r.event_id not in got
            continue
        best = min(
            (abs(int(x.us) - int(r.us)), x.event_id) for x in cands.itertuples()
        )
        assert got[r.event_id] == (best[1], best[0])


def test_events_burst_brute_force(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["us"] = ev["ts"].astype("int64") // 1000
    got = {r.user_id: r for r in q("events_burst").itertuples()}
    for uid, g in ev.groupby("user_id"):
        us = sorted(int(x) for x in g["us"])
        brute = max(
            sum(1 for u in us if t - 3_600_000_000 <= u <= t) for t in us
        )
        assert (got[uid].max_burst_1h, got[uid].n_events) == (brute, len(us))


def test_scd2_asof_lookup_brute_force(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["us"] = ev["ts"].astype("int64") // 1000
    got = {r.p_id: r.state for r in q("scd2_asof_lookup").itertuples()}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["us", "event_id"])
        # collapse consecutive duplicate non-purchase states
        changes = []
        for r in g[g["event_type"] != "purchase"].itertuples():
            if not changes or changes[-1][2] != r.event_type:
                changes.append((int(r.us), r.event_id, r.event_type))
        for r in g[g["event_type"] == "purchase"].itertuples():
            valid = [c for c in changes if c[0] <= int(r.us)]
            if not valid:
                assert r.event_id not in got
            else:
                assert got[r.event_id] == max(valid)[2]


def test_bitmap_distinct_equals_plain(q):
    s = q("agg_bitmap_distinct")
    assert (s["n_distinct_bitmap"] == s["n_distinct_plain"]).all()


def test_skew_report_brute_force(q, spark):
    li = table(spark, SF_DIR, "lineitem").select("l_partkey").toPandas()
    cnt = Counter(li["l_partkey"])
    n, nk = sum(cnt.values()), len(cnt)
    top = sorted(((-c, k) for k, c in cnt.items()))[:5]
    got = q("data_skew_report")
    assert [(-r.cnt, r.key) for r in got.itertuples()] == top
    for r in got.itertuples():
        assert r.share_ppm == r.cnt * 1_000_000 // n
        assert r.x_mean_pct == r.cnt * 100 * nk // n


def test_cohort_ltv_consistency(q, spark):
    """Cumulative column is the prefix sum of rev_c within each cohort,
    and total revenue reconciles with the orders table."""
    o = table(spark, SF_DIR, "orders").toPandas()
    total = int((o["o_totalprice"] * 100 + 0.5).apply(math.floor).sum())
    s = q("cohort_ltv")
    assert int(s["rev_c"].sum()) == total
    for _, g in s.groupby("cohort"):
        g = g.sort_values("age")
        assert g["cum_rev_c"].tolist() == g["rev_c"].cumsum().tolist()
        assert g["age"].min() == 0
