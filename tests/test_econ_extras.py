"""Brute-force parity for round-6 batch-16 (econ_extras.py)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.econ_extras import LN_SCALE
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_text_novelty_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    tris = {}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        tris[r.doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    df = Counter(g for s in tris.values() for g in s)
    got = q("text_novelty").set_index("doc_id")
    assert len(got) == len(docs)
    for did, grams in tris.items():
        uniq = sum(1 for g in grams if df[g] == 1)
        r = got.loc[did]
        assert r.n_trigrams == len(grams)
        assert r.n_unique == uniq
        assert abs(r.novelty - uniq / len(grams)) < 1e-3


def test_price_elasticity_vs_numpy(q, spark):
    li = table(spark, SF_DIR, "lineitem").select("l_partkey", "l_quantity").toPandas()
    part = table(spark, SF_DIR, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    ).toPandas()
    qty = (
        li.assign(qi=li.l_quantity.map(lambda v: math.floor(v + 0.5)))
        .groupby("l_partkey")
        .qi.sum()
    )
    merged = part[part.p_partkey.isin(qty.index)]
    got = q("price_elasticity").set_index("p_brand")
    for brand, grp in merged.groupby("p_brand"):
        x = np.array(
            [
                math.floor(math.log(p) * LN_SCALE + 0.5)
                for p in grp.p_retailprice
            ],
            dtype=float,
        )
        y = np.array(
            [
                math.floor(math.log(float(qty[pk])) * LN_SCALE + 0.5)
                for pk in grp.p_partkey
            ],
            dtype=float,
        )
        slope = np.polyfit(x, y, 1)[0]
        r = got.loc[brand]
        assert r.n_parts == len(grp)
        assert abs(r.elasticity - slope) < 1e-3
    # every brand has enough parts for a meaningful fit
    assert (got.n_parts >= 2).all()


def test_chi2_independence_vs_numpy(q, spark):
    o = table(spark, SF_DIR, "orders").select("o_custkey", "o_orderpriority").toPandas()
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment").toPandas()
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    cells = Counter(zip(m.c_mktsegment, m.o_orderpriority))
    segs = sorted({s for s, _ in cells})
    pris = sorted({p for _, p in cells})
    n = sum(cells.values())
    row = defaultdict(int)
    col = defaultdict(int)
    for (s, p), v in cells.items():
        row[s] += v
        col[p] += v
    chi2 = 0
    for (s, p), obs in cells.items():
        e = row[s] * col[p] / n
        chi2 += math.floor((obs - e) ** 2 / e * 1_000_000 + 0.5)
    chi2 = round(chi2 / 1_000_000, 4)
    got = q("chi2_independence").iloc[0]
    assert got.n_rows_dim == len(segs)
    assert got.n_cols_dim == len(pris)
    assert got.dof == (len(segs) - 1) * (len(pris) - 1)
    assert got.chi2 == chi2
    # TPC-H dims are independent by construction: chi2 ~ dof, far below
    # any significance blowup
    assert got.chi2 < 3 * got.dof + 20


def test_sla_attainment_vs_bruteforce(q, spark):
    from secdb_spark.operators.econ_extras import SLA_DAYS

    o = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    ).toPandas()
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_shipdate").toPandas()
    first = li.groupby("l_orderkey").l_shipdate.min()
    m = o[o.o_orderkey.isin(first.index)]
    got = q("sla_attainment").set_index("o_orderpriority")
    for pri, grp in m.groupby("o_orderpriority"):
        lags = [
            (first[k].date() - d.date()).days
            for k, d in zip(grp.o_orderkey, grp.o_orderdate)
        ]
        met = sum(1 for v in lags if v <= SLA_DAYS)
        r = got.loc[pri]
        assert r.n_orders == len(lags)
        assert r.n_met == met
        assert r.worst_lag_days == max(lags)
        assert abs(r.sla_rate - met / len(lags)) < 1e-3


def test_top_decile_share_vs_bruteforce(q, spark):
    import math as _m

    o = table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice").toPandas()
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey").toPandas()
    n = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name").toPandas()
    spend = (
        o.assign(cents=o.o_totalprice.map(lambda v: _m.floor(v * 100 + 0.5)))
        .groupby("o_custkey")
        .cents.sum()
    )
    nation_of = c.set_index("c_custkey").c_nationkey.map(
        n.set_index("n_nationkey").n_name
    )
    per_nation = defaultdict(list)
    for ck, cents in spend.items():
        per_nation[nation_of[ck]].append(int(cents))
    got = q("top_decile_share").set_index("n_name")
    for nm, vals in per_nation.items():
        vals.sort(reverse=True)
        k = sum(1 for i in range(len(vals)) if (i + 1) * 100 <= len(vals) * 10)
        top = sum(vals[:k])
        r = got.loc[nm]
        assert r.n_customers == len(vals)
        assert r.top_cents == top
        assert r.total_cents == sum(vals)
        assert abs(r.top_decile_share - top / sum(vals)) < 1e-3
        # concentration share is at least the uniform decile share
        assert r.top_decile_share >= (k / len(vals)) - 1e-9


def test_brand_transition_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    ).toPandas()
    part = table(spark, SF_DIR, "part").select("p_partkey", "p_brand").toPandas()
    brand_of_part = part.set_index("p_partkey").p_brand
    qty = defaultdict(lambda: defaultdict(int))
    for r in li.itertuples():
        qty[r.l_orderkey][brand_of_part[r.l_partkey]] += math.floor(
            r.l_quantity + 0.5
        )
    dominant = {
        ok: min(brands, key=lambda b: (-brands[b], b))
        for ok, brands in qty.items()
    }
    o = (
        table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .toPandas()
        .sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    )
    trans = Counter()
    for _, grp in o.groupby("o_custkey"):
        seq = [dominant[k] for k in grp.o_orderkey if k in dominant]
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    got = q("brand_transition")
    assert {
        (r.from_brand, r.to_brand): r.n_transitions for r in got.itertuples()
    } == dict(trans)
    for r in got.itertuples():
        assert bool(r.is_loyal) == (r.from_brand == r.to_brand)


def test_trade_balance_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    ).toPandas()
    li["cents"] = li.l_extendedprice.map(lambda v: math.floor(v * 100 + 0.5))
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey").toPandas()
    cust = table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey").toPandas()
    supp = table(spark, SF_DIR, "supplier").select("s_suppkey", "s_nationkey").toPandas()
    nat = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name").toPandas()
    name_of = nat.set_index("n_nationkey").n_name
    buy = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .assign(nm=lambda d: d.c_nationkey.map(name_of))
        .groupby("nm")
        .cents.sum()
    )
    sell = (
        li.merge(supp, left_on="l_suppkey", right_on="s_suppkey")
        .assign(nm=lambda d: d.s_nationkey.map(name_of))
        .groupby("nm")
        .cents.sum()
    )
    got = q("trade_balance").set_index("n_name")
    for nm in got.index:
        r = got.loc[nm]
        assert r.buy_cents == buy[nm]
        assert r.sell_cents == sell[nm]
        assert r.net_cents == sell[nm] - buy[nm]
    # global trade balances to zero across nations present on both sides
    if set(buy.index) == set(sell.index):
        assert got.net_cents.sum() == 0


def test_sla_percentiles_vs_numpy(q, spark):
    o = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    ).toPandas()
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_shipdate").toPandas()
    first = li.groupby("l_orderkey").l_shipdate.min()
    m = o[o.o_orderkey.isin(first.index)]
    got = q("sla_percentiles").set_index("o_orderpriority")
    for pri, grp in m.groupby("o_orderpriority"):
        lags = np.array(
            [
                (first[k].date() - d.date()).days
                for k, d in zip(grp.o_orderkey, grp.o_orderdate)
            ],
            dtype=float,
        )
        r = got.loc[pri]
        assert r.n_orders == len(lags)
        for col, pq in (("p50_days", 50), ("p95_days", 95), ("p99_days", 99)):
            assert abs(r[col] - np.percentile(lags, pq)) < 1e-3
        assert r.p50_days <= r.p95_days <= r.p99_days


def test_peak_to_avg_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["bucket"] = ev.ts.dt.floor("h")
    got = q("peak_to_avg").set_index("event_type")
    for et, grp in ev.groupby("event_type"):
        hourly = grp.bucket.value_counts()
        r = got.loc[et]
        assert r.n_hours == len(hourly)
        assert r.peak_hour_events == hourly.max()
        assert r.total_events == hourly.sum()
        expect = hourly.max() * len(hourly) / hourly.sum()
        assert abs(r.peak_to_avg - expect) < 1e-3
        assert r.peak_to_avg >= 1.0
