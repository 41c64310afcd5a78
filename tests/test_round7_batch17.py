"""Brute-force parity for round-7 batch 17 (warehouse_extras15.py)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras15 import RIP_PS
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_ts_sharpe_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_sharpe").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        closes = (
            g.sort_values(["ts", "event_id"]).groupby("day").last().value
        ).sort_index().to_numpy()
        rets = np.round(closes[1:] / closes[:-1] - 1, 6)
        row = got.loc[et]
        assert row.n_days == len(rets)
        assert row.mean_ret_bp == pytest.approx(
            rets.mean() * 10000, abs=1e-3
        )
        sharpe = rets.mean() / rets.std(ddof=1) * math.sqrt(365)
        assert row.sharpe_ann == pytest.approx(sharpe, abs=1e-3)


def test_brand_size_chi2_vs_bruteforce(q, spark):
    p = table(spark, SF_DIR, "part").toPandas()
    cells = p.groupby(["p_brand", "p_size"]).size()
    szm = p.groupby("p_size").size()
    n = len(p)
    got = q("brand_size_chi2").set_index("brand")
    for brand, g in p.groupby("p_brand"):
        nb = len(g)
        chi2 = 0.0
        for sz, cs in szm.items():
            o = cells.get((brand, sz), 0)
            e = nb * cs / n
            chi2 += math.floor((o - e) ** 2 / e * 1e6 + 0.5) / 1e6
        row = got.loc[brand]
        assert row.n_parts == nb
        assert row.n_cells == len(szm)
        assert row.chi2 == pytest.approx(chi2, abs=1e-3)


def test_reorder_interval_percentiles_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    gaps = []
    for _, g in o.sort_values(["o_orderdate", "o_orderkey"]).groupby(
        "o_custkey"
    ):
        d = g.o_orderdate.to_numpy()
        gaps.extend(((d[1:] - d[:-1]) / np.timedelta64(1, "D")).astype(int))
    gaps.sort()
    row = q("reorder_interval_percentiles").iloc[0]
    assert row.n == len(gaps)
    for num, den in RIP_PS:
        rank = -(-num * len(gaps) // den)
        assert row[f"p{int(num * 100 // den)}"] == gaps[rank - 1]


def test_session_depth_dist_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["us"] = ev.ts.astype("int64") // 1000
    gap = 30 * 60 * 1_000_000
    depths = Counter()
    for _, g in ev.groupby("user_id"):
        depth, prev = 0, None
        for us in g.us:
            if prev is not None and us - prev > gap:
                depths[min(10, depth)] += 1
                depth = 0
            depth += 1
            prev = us
        depths[min(10, depth)] += 1
    got = q("session_depth_dist").set_index("depth_bucket")
    assert got.n_sessions.sum() == sum(depths.values())
    for b, c in depths.items():
        assert got.loc[b].n_sessions == c
    assert got.share.sum() == pytest.approx(1.0, abs=0.01)


def test_customer_order_count_dist_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    per = o.groupby("o_custkey").size()
    buckets = Counter(min(20, n) for n in per)
    got = q("customer_order_count_dist").set_index("orders_bucket")
    assert got.n_customers.sum() == len(per)
    for b, c in buckets.items():
        assert got.loc[b].n_customers == c


def test_source_dup_rate_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    freq = Counter(hashlib.md5(t.encode()).hexdigest() for t in docs.text)
    got = q("source_dup_rate").set_index("source")
    assert got.n_docs.sum() == len(docs)
    for src, g in docs.groupby("source"):
        dup = sum(
            1
            for t in g.text
            if freq[hashlib.md5(t.encode()).hexdigest()] >= 2
        )
        row = got.loc[src]
        assert row.n_docs == len(g)
        assert row.n_dup == dup
        assert row.dup_rate == pytest.approx(dup / len(g), abs=1e-3)
