"""Brute-force parity for round-6 batch-8 (markov_extras + pagination)."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.markov_extras import MARKOV_ITERS
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_markov_stationary_vs_numpy(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    from collections import Counter

    trans = Counter()
    for _, grp in ev.groupby("user_id"):
        seq = list(grp.event_type)
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    states = sorted({a for a, _ in trans})
    idx = {s: i for i, s in enumerate(states)}
    P = np.zeros((len(states), len(states)))
    for (a, b), n in trans.items():
        P[idx[a], idx[b]] = n
    P = P / P.sum(axis=1, keepdims=True)
    pi = np.full(len(states), 1.0 / len(states))
    for _ in range(MARKOV_ITERS):
        pi = pi @ P
    got = q("markov_stationary").set_index("event_type")
    assert set(got.index) == set(states)
    for s in states:
        assert abs(got.loc[s].pi9 / 1e9 - pi[idx[s]]) < 1e-6
    # a distribution: sums to ~1 (bp quantization slack)
    assert abs(got.pi9.sum() / 1e9 - 1.0) < 1e-6


def test_sql_offset_fetch_vs_sorted_slice(q, spark):
    o = (
        table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .toPandas()
        .sort_values(["o_orderdate", "o_orderkey"])
        .reset_index(drop=True)
    )
    got = q("sql_offset_fetch")
    expect = o.iloc[100:150]
    assert list(got.o_orderkey) == list(expect.o_orderkey)
