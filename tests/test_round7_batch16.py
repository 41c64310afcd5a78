"""Brute-force parity for round-7 batch 16 (warehouse_extras14.py)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras14 import (
    FAST_A,
    FAST_K,
    SESSION_GAP_US,
    SLOW_A,
    SLOW_K,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _ewma(series, alpha, k):
    out = []
    for i in range(len(series)):
        num = den = 0.0
        for j in range(k):
            if i - j >= 0:
                w = alpha * (1 - alpha) ** j
                num += w * series[i - j]
                den += w
        out.append(round(num / den, 4))
    return out


def test_ts_ewma_cross_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_ewma_cross")
    total = 0
    for et, g in ev.groupby("event_type"):
        closes = (
            g.sort_values(["ts", "event_id"]).groupby("day").last().value
        ).sort_index()
        fast = _ewma(list(closes), FAST_A, FAST_K)
        slow = _ewma(list(closes), SLOW_A, SLOW_K)
        sig = [1 if f > s else (-1 if f < s else 0) for f, s in zip(fast, slow)]
        crossings = [
            (closes.index[i], sig[i - 1], sig[i])
            for i in range(1, len(sig))
            if sig[i] != sig[i - 1]
        ]
        sub = got[got.event_type == et].sort_values("day")
        assert len(sub) == len(crossings)
        for (day, ps, cs), (_, row) in zip(crossings, sub.iterrows()):
            assert row.day == day and row.prev_signal == ps
            assert row.signal == cs
        total += len(crossings)
    assert total == len(got)


def test_session_error_impact_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["us"] = ev.ts.astype("int64") // 1000
    stats = {0: [0, 0], 1: [0, 0]}  # has_error -> [sessions, converted]
    for _, g in ev.groupby("user_id"):
        cur_types: set[str] = set()
        prev = None
        for _, r in g.iterrows():
            if prev is not None and r.us - prev > SESSION_GAP_US:
                he = int("error" in cur_types)
                stats[he][0] += 1
                stats[he][1] += int("purchase" in cur_types)
                cur_types = set()
            cur_types.add(r.event_type)
            prev = r.us
        he = int("error" in cur_types)
        stats[he][0] += 1
        stats[he][1] += int("purchase" in cur_types)
    got = q("session_error_impact").set_index("has_error")
    for he, (ns, nc) in stats.items():
        if ns == 0:
            assert he not in got.index
            continue
        row = got.loc[he]
        assert row.n_sessions == ns and row.n_converted == nc
        assert row.conv_rate == pytest.approx(nc / ns, abs=1e-3)


def test_dedup_bag_exact_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    sigs: dict[str, list[int]] = {}
    for _, d in docs.iterrows():
        sig = hashlib.md5(
            " ".join(sorted(set(d.text.lower().split(" ")))).encode()
        ).hexdigest()
        sigs.setdefault(sig, []).append(d.doc_id)
    dups = {s: ids for s, ids in sigs.items() if len(ids) >= 2}
    got = q("dedup_bag_exact").set_index("bag_sig")
    assert set(got.index) == set(dups)
    for s, ids in dups.items():
        assert got.loc[s].n_docs == len(ids)
        assert got.loc[s].keeper == min(ids)


def test_nation_home_bias_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    s = table(spark, SF_DIR, "supplier").toPandas()
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    j["rev"] = np.floor(j.l_extendedprice * (1 - j.l_discount)).astype(
        np.int64
    )
    j["home"] = (j.s_nationkey == j.c_nationkey).astype(int)
    got = q("nation_home_bias").set_index("nation")
    assert got.n_lines.sum() == len(j)
    for nat, g in j.groupby("c_nationkey"):
        row = got.loc[nat]
        assert row.total_rev == g.rev.sum()
        assert row.home_rev == (g.home * g.rev).sum()
        assert row.home_share == pytest.approx(
            (g.home * g.rev).sum() / g.rev.sum(), abs=1e-3
        )
