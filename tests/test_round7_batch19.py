"""Brute-force parity for round-7 batch 19 (warehouse_extras17.py)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras17 import (
    BD_ANCHOR,
    BUDGET_PCT,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_gap_expfit_ks_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["us"] = ev.ts.astype("int64") // 1000
    got = q("gap_expfit_ks").set_index("event_type")
    for et in ev.event_type.unique():
        gaps = []
        for _, g in ev[ev.event_type == et].groupby("user_id"):
            s = g.us.to_numpy()
            gaps.extend(int(d // 1_000_000) for d in np.diff(s))
        gaps = [x for x in gaps if x > 0]
        n, total = len(gaps), sum(gaps)
        lam = n / total
        counts = Counter(gaps)
        cum = 0
        d = 0.0
        for v in sorted(counts):
            model = 1 - math.exp(-lam * v)
            lo = cum / n
            cum += counts[v]
            hi = cum / n
            d = max(d, abs(hi - model), abs(lo - model))
        row = got.loc[et]
        assert row.n_gaps == n
        assert row.lambda_per_megasec == pytest.approx(lam * 1e6, rel=1e-3)
        assert row.ks_d == pytest.approx(d, abs=1e-3)
        assert 0 <= row.ks_d <= 1


def test_greedy_budget_pick_vs_bruteforce(q, spark):
    p = table(spark, SF_DIR, "part").toPandas()
    li = table(spark, SF_DIR, "lineitem").toPandas()
    li["rev"] = np.floor(li.l_extendedprice * (1 - li.l_discount)).astype(
        np.int64
    )
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    val = j.groupby("p_partkey").rev.sum()
    cost = np.floor(
        p.set_index("p_partkey").p_retailprice * 100 + 0.5
    ).astype(np.int64)
    items = [
        (val[pk] / cost[pk], pk, cost[pk], val[pk]) for pk in val.index
    ]
    items.sort(key=lambda t: (-t[0], t[1]))
    budget = int(cost.loc[val.index].sum() * BUDGET_PCT / 100)
    spent = value = picked = 0
    for _, pk, c, v in items:
        if spent + c > budget:
            break
        spent += c
        value += v
        picked += 1
    row = q("greedy_budget_pick").iloc[0]
    assert row.budget == budget
    assert row.n_picked == picked
    assert row.total_cost == spent
    assert row.total_value == value
    assert row.total_cost <= row.budget


def test_fn_business_days_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    got = q("fn_business_days").set_index("o_orderpriority")
    # the op's lead time is SIGN-SYMMETRIC (f(b)-f(a) = -(f(a)-f(b)));
    # numpy's reversed-range busday_count flips the half-open side, so
    # compute the forward count and negate for ship-before-order rows
    a = j.o_orderdate.to_numpy().astype("datetime64[D]")
    b = j.l_shipdate.to_numpy().astype("datetime64[D]")
    fwd = np.busday_count(np.minimum(a, b), np.maximum(a, b))
    j = j.assign(bd=np.where(b >= a, fwd, -fwd))
    assert got.n_lines.sum() == len(j)
    for pri, g in j.groupby("o_orderpriority"):
        row = got.loc[pri]
        assert row.n_lines == len(g)
        assert row.avg_busdays == pytest.approx(g.bd.mean(), abs=1e-3)
        assert row.max_busdays == g.bd.max()
    # sanity: anchor really is a Monday
    assert np.datetime64(BD_ANCHOR, "D").astype("datetime64[D]").item().weekday() == 0
