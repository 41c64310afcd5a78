"""Brute-force parity for round-10 batch-1 (warehouse_extras37.py)."""

from __future__ import annotations

import itertools
import json
import math
from collections import Counter, defaultdict

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras37 import (
    COSUPPLY_MIN_ORDERS,
    MIN_PAIR_SUPPORT,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def he4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000.0


def test_graph_triangle_count_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).toPandas()
    pairs = Counter()
    for _, grp in li.drop_duplicates().groupby("l_orderkey"):
        for a, b in itertools.combinations(sorted(set(grp.l_suppkey)), 2):
            pairs[(a, b)] += 1
    edges = {p for p, n in pairs.items() if n >= COSUPPLY_MIN_ORDERS}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if c > b  # a < b < c: count each triangle once
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    got = q("graph_triangle_count").iloc[0]
    assert got.n_nodes == len(adj)
    assert got.n_edges == len(edges)
    assert got.n_triangles == tri
    if wedges:
        assert got.global_clustering == he4(3.0 * tri / wedges)


def test_agg_mode_exact_vs_counter(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    ).toPandas()
    got = q("agg_mode_exact")
    for row in got.itertuples():
        sub = li[
            (li.l_returnflag == row.l_returnflag)
            & (li.l_linestatus == row.l_linestatus)
        ]
        counts = Counter(int(round(v)) for v in sub.l_quantity)
        best_n = max(counts.values())
        best_q = min(k for k, v in counts.items() if v == best_n)
        assert (row.mode_qty, row.n_at_mode) == (best_q, best_n)


def test_ts_kendall_tau_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").select(
        "o_orderdate", "o_totalprice"
    ).toPandas()
    o["day"] = o.o_orderdate.dt.floor("D")
    o["y"] = o.o_orderdate.dt.year
    o["cents"] = (o.o_totalprice * 100 + 0.5).apply(math.floor)
    daily = o.groupby(["y", "day"]).agg(
        n=("cents", "size"), rev=("cents", "sum")
    ).reset_index()
    got = q("ts_kendall_tau").set_index("year")
    for y, grp in daily.groupby("y"):
        rows = list(grp.sort_values("day")[["n", "rev"]].itertuples(index=False))
        c = d = tx = ty = 0
        for (n1, r1), (n2, r2) in itertools.combinations(rows, 2):
            p = (n2 - n1) * (r2 - r1)
            c += p > 0
            d += p < 0
            tx += n1 == n2
            ty += r1 == r2
        n0 = len(rows) * (len(rows) - 1) // 2
        row = got.loc[y]
        assert (row.concordant, row.discordant, row.n_pairs) == (c, d, n0)
        assert row.tau_b == he4((c - d) / math.sqrt((n0 - tx) * (n0 - ty)))


def test_assoc_rules_lift_identities(q, spark):
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey").toPandas()
    n = li.l_orderkey.nunique()  # every order has >=1 part, so >=1 brand
    got = q("assoc_rules_lift")
    assert (got.n_both >= MIN_PAIR_SUPPORT).all()
    assert (got.brand_a < got.brand_b).all()
    for r in got.itertuples():
        assert r.support == he4(r.n_both / n)
        assert r.confidence_a_b == he4(r.n_both / r.n_a)
        assert r.lift == he4((r.n_both * n) / (r.n_a * r.n_b))


def test_price_index_laspeyres_base_year_is_100(q):
    got = q("price_index_laspeyres").sort_values("year")
    base = got.iloc[0]
    assert base.year == got.year.min()
    assert base.laspeyres_index == 100.0  # p0*q0 / p0*q0
    assert (got.n_parts > 0).all()


def test_retention_triangle_vs_pandas(q, spark):
    o = table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderdate"
    ).toPandas()
    o["mo"] = o.o_orderdate.dt.to_period("M")
    first = o.groupby("o_custkey").mo.min().rename("m0")
    j = o.join(first, on="o_custkey")
    j["age"] = (j.mo - j.m0).apply(lambda d: d.n)
    want = (
        j.groupby([j.m0.astype(str), "age"])
        .o_custkey.nunique()
        .rename("n")
    )
    got = q("retention_triangle")
    got["key"] = got.cohort_month.dt.to_period("M").astype(str)
    assert len(got) == len(want)
    for r in got.itertuples():
        assert want.loc[(r.key, r.age_months)] == r.n_active
    # age 0 of each cohort contains the whole cohort
    a0 = got[got.age_months == 0].set_index("key").n_active
    cohort_sizes = first.astype(str).value_counts()
    for k, v in a0.items():
        assert cohort_sizes[k] == v


def test_sql_lateral_join_topk(q, spark):
    c = table(spark, SF_DIR, "customer").toPandas()
    n = table(spark, SF_DIR, "nation").toPandas()
    got = q("sql_lateral_join")
    for name, grp in got.groupby("n_name"):
        nk = n[n.n_name == name].n_nationkey.iloc[0]
        sub = c[c.c_nationkey == nk].sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        )
        want = list(sub.head(2).c_custkey)
        assert sorted(grp.c_custkey) == sorted(want)


def test_fn_json_extract_vs_json_loads(q, spark):
    ev = table(spark, SF_DIR, "events").select(
        "event_type", "props"
    ).toPandas()
    ev["k"] = ev.props.apply(lambda s: json.loads(s).get("k"))
    got = q("fn_json_extract").set_index("event_type")
    for t, grp in ev.groupby("event_type"):
        row = got.loc[t]
        assert row.n == len(grp)
        assert row.n_missing == grp.k.isna().sum()
        assert row.sum_k == grp.k.dropna().sum()
        assert row.min_k == grp.k.min() and row.max_k == grp.k.max()


def test_fn_higher_order_array_vs_python(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).toPandas()
    li["cents"] = (li.l_extendedprice * 100 + 0.5).apply(math.floor)
    per = {}
    for _, grp in li.groupby("l_orderkey"):
        a = sorted(grp.cents)
        per.setdefault(len(a), []).append(
            (sum(x * x for x in a), sum(x > 5_000_000 for x in a), a[-1] - a[0])
        )
    got = q("fn_higher_order_array").set_index("n_items")
    assert set(got.index) == set(per)
    for k, rows in per.items():
        r = got.loc[k]
        assert r.n_orders == len(rows)
        assert r.n_big_total == sum(x[1] for x in rows)
        assert r.max_sumsq == max(x[0] for x in rows)
        assert r.min_span == min(x[2] for x in rows)
        assert r.max_span == max(x[2] for x in rows)


def test_ts_ar1_fit_vs_numpy(q, spark):
    import numpy as np

    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_ar1_fit").set_index("event_type")
    for t, grp in ev.groupby("event_type"):
        x = grp.groupby("day").size().sort_index().to_numpy(dtype=float)
        xl, xt = x[:-1], x[1:]
        n = len(xt)
        den = n * (xl @ xl) - xl.sum() ** 2
        phi = (n * (xt @ xl) - xl.sum() * xt.sum()) / den
        row = got.loc[t]
        assert row.n_pairs == n
        assert abs(row.phi - phi) < 1e-3
        if 0 < phi < 1:
            assert abs(row.halflife_days - (-math.log(2) / math.log(phi))) < 1e-2


def test_dedup_minhash_b_bit_estimator_shape(q):
    got = q("dedup_minhash_b_bit").sort_values("agree_bits")
    assert got.n_pairs.sum() > 0
    assert (got.agree_bits.between(0, 16)).all()
    for r in got.itertuples():
        assert r.j_est == he4(max(0.0, (2.0 * r.agree_bits - 16) / 16))
        assert 0.0 <= r.avg_j_exact <= 1.0
    # calibration monotonicity on the high-agreement buckets: a full
    # 16/16 agreement bucket (J_est = 1) must hold the highest exact mean
    if 16 in set(got.agree_bits):
        top = got[got.agree_bits == 16].avg_j_exact.iloc[0]
        assert top == got.avg_j_exact.max()


def test_join_interval_overlap_vs_pandas(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate"
    ).toPandas()
    last = li.groupby("l_orderkey").l_shipdate.max()
    o = o.join(last, on="o_orderkey")
    epoch = o.o_orderdate.min().floor("D")  # any ref works for diffs
    o["s"] = (o.o_orderdate.dt.floor("D") - epoch).dt.days
    o["e"] = (o.l_shipdate.dt.floor("D") - epoch).dt.days
    o["urgent"] = o.o_orderpriority.isin(["1-URGENT", "2-HIGH"])
    want_n, want_d = Counter(), Counter()
    for ck, grp in o.groupby("o_custkey"):
        u = grp[grp.urgent]
        nu = grp[~grp.urgent]
        for _, ru in u.iterrows():
            for _, rn in nu.iterrows():
                if ru.s <= rn.e and rn.s <= ru.e:
                    want_n[ck] += 1
                    want_d[ck] += min(ru.e, rn.e) - max(ru.s, rn.s) + 1
    got = q("join_interval_overlap")
    assert len(got) == len(want_n)
    for r in got.itertuples():
        assert want_n[r.custkey] == r.n_overlap_pairs
        assert want_d[r.custkey] == r.overlap_days
