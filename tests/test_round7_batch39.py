"""Brute-force parity for round-7 batch 39 (warehouse_extras33.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras33 import (
    ANGLE_BUCKETS,
    PVM_Y1,
    PVM_Y2,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_rollup_calendar_grains_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    got = q("rollup_calendar_grains")
    expect = {}
    for grain, fn in (
        ("year", lambda d: d.dt.to_period("Y").dt.start_time),
        ("quarter", lambda d: d.dt.to_period("Q").dt.start_time),
        ("month", lambda d: d.dt.to_period("M").dt.start_time),
    ):
        g = o.groupby(fn(o.o_orderdate)).agg(
            n=("cents", "size"), rev=("cents", "sum")
        )
        for period, r in g.iterrows():
            expect[(grain, period)] = (int(r.n), int(r.rev))
    assert len(got) == len(expect)
    for r in got.itertuples():
        key = (r.grain, pd.Timestamp(r.period_start))
        n, rev = expect[key]
        assert r.n_orders == n and r.revenue_cents == rev, key
    # each grain's totals must reconcile to the same grand total
    tot = got.groupby("grain").revenue_cents.sum()
    assert tot.nunique() == 1


def test_embed_angle_hist_vs_bruteforce(q, spark):
    emb = table(spark, SF_DIR, "embeddings").toPandas()
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    buckets = defaultdict(list)
    for vid in vecs:
        b = int(hashlib.md5(f"ang:{vid}".encode()).hexdigest()[:8], 16)
        buckets[b % ANGLE_BUCKETS].append(vid)
    bands = Counter()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, c = vecs[ids[i]], vecs[ids[j]]
                cos = float(a @ c) / (
                    np.sqrt(float(a @ a)) * np.sqrt(float(c @ c))
                )
                bands[int(np.floor(cos * 10))] += 1
    got = q("embed_angle_hist").set_index("cos_band")
    assert len(got) == len(bands)
    total = sum(bands.values())
    for band, cnt in bands.items():
        row = got.loc[band]
        assert row.n_pairs == cnt
        assert row.share == pytest.approx(cnt / total, abs=1e-3)
    assert got.n_pairs.sum() == total


def test_price_volume_mix_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    p = table(spark, SF_DIR, "part").toPandas()
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    j["y"] = j.l_shipdate.dt.year
    j = j[j.y.isin([PVM_Y1, PVM_Y2])]
    j["qty"] = np.floor(j.l_quantity).astype(np.int64)
    j["cents"] = np.floor(
        j.l_extendedprice * (1 - j.l_discount) * 100 + 0.5
    ).astype(np.int64)
    yr = j.groupby(["p_brand", "y"]).agg(
        q=("qty", "sum"), r=("cents", "sum")
    )
    got = q("price_volume_mix").set_index("brand")
    brands = sorted(
        set(yr.loc[(slice(None), PVM_Y1), :].index.get_level_values(0))
        & set(yr.loc[(slice(None), PVM_Y2), :].index.get_level_values(0))
    )
    assert len(got) == len(brands)
    for b in brands:
        q1, r1 = yr.loc[(b, PVM_Y1)]
        q2, r2 = yr.loc[(b, PVM_Y2)]
        row = got.loc[b]
        assert row.q1 == q1 and row.q2 == q2
        assert row.rev1_cents == r1 and row.rev2_cents == r2
        p1, p2 = r1 / q1, r2 / q2
        vol = (q2 - q1) * p1
        price = (p2 - p1) * q2
        assert row.volume_effect_cents == pytest.approx(vol, abs=0.01)
        assert row.price_effect_cents == pytest.approx(price, abs=0.01)
        # exact decomposition identity
        assert vol + price == pytest.approx(float(r2 - r1), rel=1e-9)
