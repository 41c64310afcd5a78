"""Brute-force parity for round-7 batch 26 (warehouse_extras22.py)."""

from __future__ import annotations

from collections import defaultdict

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras22 import (
    KCORE_K,
    KCORE_ROUNDS,
    MIN_ORDERS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_join_asof_forward_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev = ev[ev.event_type.isin(["view", "purchase"])]
    got = q("join_asof_forward").set_index("view_id")
    n_views = (ev.event_type == "view").sum()
    assert len(got) == n_views
    for uid, g in ev.groupby("user_id"):
        rows = list(g.itertuples())
        for i, r in enumerate(rows):
            if r.event_type != "view":
                continue
            nxt = next(
                (s for s in rows[i + 1:] if s.event_type == "purchase"),
                None,
            )
            row = got.loc[r.event_id]
            if nxt is None:
                import pandas as pd

                assert pd.isna(row.next_purchase_id)
            else:
                assert row.next_purchase_id == nxt.event_id
                assert row.next_purchase_ts == nxt.ts
                assert row.next_purchase_ts > row.view_ts or (
                    row.next_purchase_ts == row.view_ts
                    and nxt.event_id > r.event_id
                )


def test_graph_kcore_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    li = table(spark, SF_DIR, "lineitem").toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    edges = {
        (f"c{r.o_custkey}", f"s{r.l_suppkey}") for r in j.itertuples()
    }
    live = {n for e in edges for n in e}
    n0 = len(live)
    survivors = []
    for _ in range(KCORE_ROUNDS):
        deg = defaultdict(int)
        for a, b in edges:
            if a in live and b in live:
                deg[a] += 1
                deg[b] += 1
        live = {n for n in live if deg[n] >= KCORE_K}
        survivors.append(len(live))
    row = q("graph_kcore").iloc[0]
    assert row.n_nodes == n0
    assert row.n_edges == len(edges)
    for i, s in enumerate(survivors, 1):
        assert row[f"live_r{i}"] == s
    assert bool(row.converged) == (
        survivors[-2] == survivors[-1]
    )
    # peeling is monotone
    assert all(
        survivors[i] >= survivors[i + 1] for i in range(len(survivors) - 1)
    )


def test_purchase_acceleration_vs_bruteforce(q, spark):
    o = (
        table(spark, SF_DIR, "orders")
        .toPandas()
        .sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    )
    cu = table(spark, SF_DIR, "customer").toPandas().set_index("c_custkey")
    na = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    per_nation = defaultdict(list)
    for ck, g in o.groupby("o_custkey"):
        if len(g) < MIN_ORDERS:
            continue
        dates = g.o_orderdate.tolist()
        gaps = [(dates[i + 1] - dates[i]).days for i in range(len(dates) - 1)]
        h = len(gaps) // 2
        delta = sum(gaps[-h:]) / h - sum(gaps[:h]) / h
        nation = na.loc[cu.loc[ck, "c_nationkey"], "n_name"]
        per_nation[nation].append(delta)
    got = q("purchase_acceleration").set_index("n_name")
    assert len(got) == len(per_nation)
    for nation, deltas in per_nation.items():
        row = got.loc[nation]
        assert row.n_customers == len(deltas)
        assert row.share_accelerating == pytest.approx(
            sum(1 for d in deltas if d < 0) / len(deltas), abs=1e-4
        )
        assert row.avg_gap_change_days == pytest.approx(
            sum(deltas) / len(deltas), abs=1e-3
        )
