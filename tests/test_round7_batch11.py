"""Brute-force parity for round-7 batch 11 (warehouse_extras10.py)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras10 import (
    STICKY_WINDOW,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_snk_json_roundtrip_equals_source(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    got = q("snk_json").set_index("o_orderpriority")
    for pri, g in o.groupby("o_orderpriority"):
        row = got.loc[pri]
        assert row.n == len(g)
        assert row.revenue == pytest.approx(g.o_totalprice.sum(), rel=1e-9)
        assert row.last_order == g.o_orderdate.max()


def test_markov_entropy_rate_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    pairs = Counter()
    for _, g in ev.groupby("user_id"):
        types = list(g.event_type)
        for a, b in zip(types, types[1:]):
            pairs[(a, b)] += 1
    got = q("markov_entropy_rate").set_index("prev")
    for prev in {a for a, _ in pairs}:
        dist = [c for (a, _), c in pairs.items() if a == prev]
        n = sum(dist)
        h = -sum(c / n * math.log2(c / n) for c in dist)
        row = got.loc[prev]
        assert row.n_transitions == n
        assert row.n_next_types == len(dist)
        assert row.h_bits == pytest.approx(h, abs=1e-3)
        assert 0 <= row.h_bits <= math.log2(5) + 1e-9


def test_source_cross_entropy_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    per_src: dict[str, Counter] = {}
    corpus = Counter()
    for _, d in docs.iterrows():
        toks = [t for t in d.text.lower().split(" ") if t]
        per_src.setdefault(d.source, Counter()).update(toks)
        corpus.update(toks)
    big_n = sum(corpus.values())
    got = q("source_cross_entropy").set_index("source")
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        h_self = -sum(c / n * math.log2(c / n) for c in cnt.values())
        h_cross = -sum(
            c / n * math.log2(corpus[t] / big_n) for t, c in cnt.items()
        )
        row = got.loc[src]
        assert row.n_tokens == n
        assert row.h_self == pytest.approx(h_self, abs=1e-3)
        assert row.h_cross == pytest.approx(h_cross, abs=1e-3)
        assert row.kl_bits == pytest.approx(h_cross - h_self, abs=1e-3)
        # Gibbs: cross-entropy dominates entropy
        assert row.kl_bits >= -1e-9


def test_stickiness_ratio_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    act = ev[["user_id", "day"]].drop_duplicates()
    days = sorted(act.day.unique())
    got = q("stickiness_ratio").set_index("day").sort_index()
    assert list(got.index) == days
    for day in days:
        dau = act[act.day == day].user_id.nunique()
        lo = day - np.timedelta64(STICKY_WINDOW - 1, "D")
        wau = act[(act.day >= lo) & (act.day <= day)].user_id.nunique()
        row = got.loc[day]
        assert row.dau == dau and row.wau == wau
        assert row.stickiness == pytest.approx(dau / wau, abs=1e-3)
        assert row.stickiness <= 1.0 + 1e-9


def test_graph_assortativity_vs_numpy(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    e = li[["l_suppkey", "l_partkey"]].drop_duplicates()
    sd = e.groupby("l_suppkey").size()
    pd_ = e.groupby("l_partkey").size()
    x = sd.loc[e.l_suppkey].to_numpy(dtype=float)
    y = pd_.loc[e.l_partkey].to_numpy(dtype=float)
    want = np.corrcoef(x, y)[0, 1]
    got = q("graph_assortativity").iloc[0]
    assert got.n_edges == len(e)
    assert got.assortativity == pytest.approx(want, abs=1e-3)


def test_fn_struct_matches_flat_groupby(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    got = q("fn_struct").set_index(["o_orderstatus", "o_orderpriority"])
    want = o.groupby(["o_orderstatus", "o_orderpriority"]).agg(
        n=("o_orderkey", "size"), max_price=("o_totalprice", "max")
    )
    assert len(got) == len(want)
    for key, row in want.iterrows():
        assert got.loc[key].n == row.n
        assert got.loc[key].max_price == row.max_price
