"""Brute-force parity checks for the round-6 batch-3 operators
(warehouse_extras5.py).  The DuckDB oracle certifies cross-engine value
equality; these tests certify the ALGORITHMS against independent python /
numpy formulations, so an oracle that merely mirrors a wrong formula
cannot go green silently.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras5 import (
    BOLL_DAYS,
    BOLL_K,
    CHURN_DAYS,
    DUP_BUCKET,
    DUP_DAYS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def orders_pd(spark):
    return (
        table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .toPandas()
    )


def test_sql_any_all_is_customer_max_orders(q, orders_pd):
    got = q("sql_any_all")
    by_cust = orders_pd.groupby("o_custkey")
    expected = {}
    for ck, grp in by_cust:
        mx = grp.o_totalprice.max()
        for r in grp.itertuples():
            if r.o_totalprice >= mx:
                others = grp[grp.o_orderkey != r.o_orderkey].o_totalprice
                beats = len(others) > 0 and r.o_totalprice > others.min()
                expected[r.o_orderkey] = (ck, beats)
    assert set(got.o_orderkey) == set(expected)
    for r in got.itertuples():
        ck, beats = expected[r.o_orderkey]
        assert r.o_custkey == ck
        assert bool(r.beats_some_sibling) == beats


def test_sql_distinct_on_latest_per_customer(q, orders_pd):
    got = q("sql_distinct_on")
    latest = (
        orders_pd.sort_values(
            ["o_custkey", "o_orderdate", "o_orderkey"],
            ascending=[True, False, False],
        )
        .groupby("o_custkey")
        .first()
        .reset_index()
    )
    assert len(got) == len(latest)
    merged = got.merge(latest, on="o_custkey", suffixes=("", "_exp"))
    assert (merged.o_orderkey == merged.o_orderkey_exp).all()


def test_agg_corr_matrix_vs_numpy(q, spark):
    li = (
        table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .toPandas()
    )
    got = q("agg_corr_matrix").set_index("l_returnflag")
    for flag, grp in li.groupby("l_returnflag"):
        x = np.floor(grp.l_quantity.values * 100 + 0.5)
        y = np.floor(grp.l_extendedprice.values * 100 + 0.5)
        z = np.floor(grp.l_discount.values * 10000 + 0.5)
        r = got.loc[flag]
        assert r.n == len(grp)
        assert abs(r.corr_qty_price - np.corrcoef(x, y)[0, 1]) < 1e-3
        assert abs(r.corr_qty_disc - np.corrcoef(x, z)[0, 1]) < 1e-3
        assert abs(r.corr_price_disc - np.corrcoef(y, z)[0, 1]) < 1e-3


def test_agg_weighted_median_vs_bruteforce(q, spark):
    li = (
        table(spark, SF_DIR, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .toPandas()
    )
    got = q("agg_weighted_median").set_index("l_returnflag")
    for flag, grp in li.groupby("l_returnflag"):
        rows = sorted(
            (p, int(math.floor(qty + 0.5)))
            for p, qty in zip(grp.l_extendedprice, grp.l_quantity)
        )
        tot = sum(w for _, w in rows)
        cum = 0
        med = None
        for p, w in rows:
            cum += w
            if 2 * cum >= tot:
                med = p
                break
        r = got.loc[flag]
        assert r.total_weight == tot
        assert r.w_median_price == med
        # the weighted median must sit at the half-mass point: weight
        # strictly below it is < tot/2, weight at-or-below is >= tot/2
        below = sum(w for p, w in rows if p < med)
        at_or_below = sum(w for p, w in rows if p <= med)
        assert 2 * below < tot <= 2 * at_or_below


def test_ts_bollinger_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select("event_type", "ts", "value").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    daily = (
        ev.assign(v=np.floor(ev.value * 10000 + 0.5).astype(np.int64))
        .groupby(["event_type", "day"])
        .v.sum()
        .reset_index()
        .sort_values(["event_type", "day"])
    )
    got = q("ts_bollinger").set_index(["event_type", "day"])
    assert len(got) == len(daily)
    for et, grp in daily.groupby("event_type"):
        vals = grp.v.values
        days = list(grp.day)
        for i in range(len(vals)):
            fr = vals[max(0, i - (BOLL_DAYS - 1)) : i + 1].astype(object)
            n = len(fr)
            s, sq = sum(fr), sum(v * v for v in fr)
            mean = s / n
            sd = math.sqrt(float(n * sq - s * s)) / n
            r = got.loc[(et, days[i])]
            assert abs(r.ma - mean / 10000) < 1e-3
            assert abs(r.lower - (mean - BOLL_K * sd) / 10000) < 1e-3
            assert abs(r.upper - (mean + BOLL_K * sd) / 10000) < 1e-3
            assert r.lower <= r.ma <= r.upper


def test_new_vs_returning_vs_bruteforce(q, orders_pd):
    o = orders_pd.copy()
    o["month"] = o.o_orderdate.dt.to_period("M")
    first = o.groupby("o_custkey").month.min()
    o["is_new"] = o.month.eq(o.o_custkey.map(first))
    got = q("new_vs_returning")
    got["m"] = got.month.dt.to_period("M")
    got = got.set_index("m")
    for m, grp in o.groupby("month"):
        r = got.loc[m]
        assert r.n_new == grp[grp.is_new].o_custkey.nunique()
        assert r.n_returning == grp[~grp.is_new].o_custkey.nunique()
        assert abs(r.rev_new - grp[grp.is_new].o_totalprice.sum()) < 0.01
        assert abs(r.rev_returning - grp[~grp.is_new].o_totalprice.sum()) < 0.01
    # every customer is new exactly once across all months
    assert got.n_new.sum() == o.o_custkey.nunique()


def test_revenue_bridge_ties_out(q, spark):
    got = q("revenue_bridge")
    # the bridge identity must hold AS PUBLISHED (rounded figures)
    for r in got.itertuples():
        assert abs((r.gross - r.discount_amt) - r.net) < 1e-3
        assert abs((r.net + r.tax_amt) - r.billed) < 1e-3
        assert r.discount_amt >= 0 and r.tax_amt >= 0
    li = table(spark, SF_DIR, "lineitem").select(
        "l_shipdate", "l_extendedprice", "l_discount", "l_tax"
    ).toPandas()
    assert abs(got.gross.sum() - li.l_extendedprice.sum()) < 1.0
    assert (
        abs(
            got.discount_amt.sum()
            - (li.l_extendedprice * li.l_discount).sum()
        )
        < 1.0
    )


def test_customer_churn_vs_bruteforce(q, orders_pd, spark):
    anchor = orders_pd.o_orderdate.max()
    last = orders_pd.groupby("o_custkey").o_orderdate.max()
    churned = ((anchor - last).dt.days > CHURN_DAYS)
    cust = table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey").toPandas()
    nat = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name").toPandas()
    nation_of = cust.set_index("c_custkey").c_nationkey.map(
        nat.set_index("n_nationkey").n_name
    )
    exp_n = defaultdict(int)
    exp_ch = defaultdict(int)
    for ck in last.index:
        nm = nation_of[ck]
        exp_n[nm] += 1
        exp_ch[nm] += int(churned[ck])
    got = q("customer_churn").set_index("n_name")
    assert set(got.index) == set(exp_n)
    for nm in exp_n:
        r = got.loc[nm]
        assert r.n_customers == exp_n[nm]
        assert r.n_churned == exp_ch[nm]
        assert abs(r.churn_rate - exp_ch[nm] / exp_n[nm]) < 1e-3


def test_audit_dup_payments_vs_bruteforce(q, orders_pd):
    got = q("audit_dup_payments")
    expected = set()
    for ck, grp in orders_pd.groupby("o_custkey"):
        rows = list(grp.itertuples())
        for i, a in enumerate(rows):
            for b in rows[i + 1 :]:
                if math.floor(a.o_totalprice / DUP_BUCKET) != math.floor(
                    b.o_totalprice / DUP_BUCKET
                ):
                    continue
                gap = abs((a.o_orderdate - b.o_orderdate).days)
                if gap <= DUP_DAYS:
                    k1, k2 = sorted((a.o_orderkey, b.o_orderkey))
                    expected.add((ck, k1, k2, gap))
    assert (
        set(
            zip(got.o_custkey, got.orderkey_a, got.orderkey_b, got.day_gap)
        )
        == expected
    )
    assert (got.orderkey_a < got.orderkey_b).all()


def test_purchase_gaps_vs_bruteforce(q, orders_pd):
    got = q("purchase_gaps").set_index("o_custkey")
    for ck, grp in orders_pd.groupby("o_custkey"):
        dates = sorted(grp.o_orderdate)
        gaps = [
            (b - a).days for a, b in zip(dates, dates[1:])
        ]
        if not gaps:
            assert ck not in got.index
            continue
        r = got.loc[ck]
        assert r.n_orders == len(dates)
        assert r.n_gaps == len(gaps)
        assert r.max_gap_days == max(gaps)
        assert abs(r.avg_gap_days - sum(gaps) / len(gaps)) < 1e-3
        assert abs(r.median_gap_days - float(np.median(gaps))) < 1e-3


def test_part_xyz_cv_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    ).toPandas()
    li["month"] = li.l_shipdate.dt.to_period("M")
    li["qi"] = np.floor(li.l_quantity + 0.5).astype(np.int64)
    monthly = li.groupby(["l_partkey", "month"]).qi.sum()
    part = table(spark, SF_DIR, "part").select("p_partkey", "p_brand").toPandas()
    brand_of = part.set_index("p_partkey").p_brand
    exp = defaultdict(int)
    for pk, grp in monthly.groupby(level=0):
        v = grp.values.astype(object)
        n, sx = len(v), sum(v)
        sxx = sum(x * x for x in v)
        num = n * sxx - sx * sx
        if 4 * num < sx * sx:
            cls = "X"
        elif num < sx * sx:
            cls = "Y"
        else:
            cls = "Z"
        exp[(brand_of[pk], cls)] += 1
    got = q("part_xyz_cv")
    assert {
        (r.p_brand, r.xyz_class): r.n_parts for r in got.itertuples()
    } == dict(exp)
