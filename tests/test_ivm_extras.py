"""Brute-force parity for round-6 batch-13 (ivm_extras.py)."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.ivm_extras import FP_SPACE, IVM_CUTOFF, TOPK_TIES
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def orders_pd(spark):
    return table(spark, SF_DIR, "orders").toPandas()


def test_ivm_delta_agg_equals_full_recompute(q, orders_pd):
    o = orders_pd.copy()
    o["month"] = o.o_orderdate.dt.to_period("M")
    o["cents"] = o.o_totalprice.map(lambda v: math.floor(v * 100 + 0.5))
    full = o.groupby("month").agg(n=("cents", "size"), s=("cents", "sum"))
    got = q("ivm_delta_agg")
    got["m"] = got.month.dt.to_period("M")
    got = got.set_index("m")
    assert len(got) == len(full)
    for m, row in full.iterrows():
        assert got.loc[m].n_orders == row.n
        assert got.loc[m].revenue_c == row.s
    # the delta split is non-trivial: both sides of the cutoff populated
    import pandas as pd

    cutoff = pd.Timestamp(IVM_CUTOFF)
    assert (orders_pd.o_orderdate < cutoff).any()
    assert (orders_pd.o_orderdate >= cutoff).any()


def test_result_fingerprint_vs_hashlib(q, spark, orders_pd):
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey").toPandas()
    n = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name").toPandas()
    merged = orders_pd.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    merged["cents"] = merged.o_totalprice.map(lambda v: math.floor(v * 100 + 0.5))
    agg = merged.groupby("n_name").agg(n=("cents", "size"), s=("cents", "sum"))
    fp = 0
    for name, row in agg.iterrows():
        canon = f"{name}|{row.n}|{row.s}"
        fp += int(hashlib.md5(canon.encode()).hexdigest()[:8], 16) % FP_SPACE
    got = q("result_fingerprint").iloc[0]
    assert got.n_rows == len(agg)
    assert got.fingerprint == fp


def test_win_topk_ties_vs_bruteforce(q, orders_pd):
    got = q("win_topk_ties")
    expected = set()
    for ck, grp in orders_pd.groupby("o_custkey"):
        vals = sorted(set(grp.o_totalprice), reverse=True)
        kth = vals[min(TOPK_TIES, len(vals)) - 1]
        for r in grp.itertuples():
            # rank() <= k admits every row whose value is among the top
            # k DISTINCT-RANK positions, i.e. fewer than k rows strictly
            # above it
            n_above = int((grp.o_totalprice > r.o_totalprice).sum())
            if n_above < TOPK_TIES:
                expected.add(r.o_orderkey)
    assert set(got.o_orderkey) == expected
    # rank values are consistent: rk = 1 + rows strictly above
    by_key = orders_pd.set_index("o_orderkey")
    for r in got.itertuples():
        grp = orders_pd[orders_pd.o_custkey == r.o_custkey]
        assert r.rk == 1 + int(
            (grp.o_totalprice > by_key.loc[r.o_orderkey].o_totalprice).sum()
        )
