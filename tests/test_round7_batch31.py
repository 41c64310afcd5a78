"""Brute-force parity for round-7 batch 31 (warehouse_extras26.py)."""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras26 import (
    FISCAL_ANCHOR,
    SESSION_GAP_MIN,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_fiscal_445_rollup_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    anchor = pd.Timestamp(FISCAL_ANCHOR)
    o = o[o.o_orderdate >= anchor]
    cents = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    wk = ((o.o_orderdate - anchor).dt.days // 7).astype(int)
    fy = wk // 52
    fq = (wk % 52) // 13 + 1
    wq = wk % 13
    fp = np.where(wq < 4, 1, np.where(wq < 8, 2, 3))
    agg = defaultdict(lambda: [0, 0])
    for y, qq, p, c in zip(fy, fq, fp, cents):
        a = agg[(y, qq, p)]
        a[0] += 1
        a[1] += int(c)
    got = q("fiscal_445_rollup").set_index(
        ["fiscal_year", "fiscal_quarter", "fiscal_period"]
    )
    assert len(got) == len(agg)
    for key, (n, rev) in agg.items():
        row = got.loc[key]
        assert row.n_orders == n
        assert row.revenue_cents == rev
    # every fiscal quarter has at most 3 periods, 1-indexed
    assert set(got.index.get_level_values(2)) <= {1, 2, 3}


def test_trade_matrix_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    s = table(spark, SF_DIR, "supplier").toPandas()
    n = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    li["rev"] = np.floor(
        li.l_extendedprice * (1 - li.l_discount)
    ).astype(np.int64)
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    j["cust_nation"] = j.c_nationkey.map(n.n_name)
    j["supp_nation"] = j.s_nationkey.map(n.n_name)
    flow = j.groupby(["cust_nation", "supp_nation"]).rev.sum()
    got = q("trade_matrix").set_index(["cust_nation", "supp_nation"])
    assert len(got) == len(flow)
    grand = flow.sum()
    assert got.revenue.sum() == grand
    for (cnat, snat), rev in flow.items():
        row = got.loc[(cnat, snat)]
        assert row.revenue == rev
        assert row.share == pytest.approx(rev / grand, abs=1e-4)
        assert bool(row.domestic) == (cnat == snat)
    assert got.share.sum() == pytest.approx(1.0, abs=1e-2)


def test_first_session_conversion_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["us"] = ev.ts.astype("int64") // 1000
    n_users = ev.user_id.nunique()
    conv_first = conv_later = multi = later_conv = 0
    for _, g in ev.groupby("user_id"):
        sess = 0
        prev = None
        first_purchase = later_purchase = False
        for r in g.itertuples():
            if prev is None or r.us - prev > SESSION_GAP_MIN * 60 * 1_000_000:
                sess += 1
            prev = r.us
            if r.event_type == "purchase":
                if sess == 1:
                    first_purchase = True
                else:
                    later_purchase = True
        conv_first += first_purchase
        if sess > 1:
            multi += 1
            later_conv += later_purchase
    row = q("first_session_conversion").iloc[0]
    assert row.n_users == n_users
    assert row.first_session_cr == pytest.approx(
        conv_first / n_users, abs=1e-4
    )
    assert row.multi_session_share == pytest.approx(
        multi / n_users, abs=1e-4
    )
    assert row.later_session_cr == pytest.approx(
        later_conv / multi, abs=1e-4
    )
