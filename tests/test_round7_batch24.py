"""Brute-force parity for round-7 batch 24 (warehouse_extras21.py)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras21 import BURST_TOPK
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _daily(spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    return {
        et: g.groupby("day").value.sum().sort_index()
        for et, g in ev.groupby("event_type")
    }


def test_ts_theilsen_slope_vs_bruteforce(q, spark):
    got = q("ts_theilsen_slope").set_index("event_type")
    for et, s in _daily(spark).items():
        days = [(d - s.index[0]).days for d in s.index]
        xs = s.to_numpy()
        slopes = [
            (xs[j] - xs[i]) / (days[j] - days[i])
            for i in range(len(xs))
            for j in range(i + 1, len(xs))
        ]
        row = got.loc[et]
        assert row.n_days == len(xs)
        assert row.n_pairs == len(slopes)
        assert row.theil_sen_slope == pytest.approx(
            float(np.median(slopes)), abs=1e-2
        )
        ols = np.polyfit(days, xs, 1)[0]
        assert row.ols_slope == pytest.approx(ols, rel=1e-3, abs=1e-2)


def test_changepoint_binary_vs_bruteforce(q, spark):
    got = q("changepoint_binary").set_index("event_type")
    for et, s in _daily(spark).items():
        xs = s.to_numpy()
        n = len(xs)

        def sse(a):
            return float(((a - a.mean()) ** 2).sum()) if len(a) else 0.0

        total = sse(xs)
        best_k, best_gain = None, -np.inf
        for k in range(1, n):
            gain = total - (sse(xs[:k]) + sse(xs[k:]))
            if gain > best_gain + 1e-9:
                best_gain, best_k = gain, k
        row = got.loc[et]
        assert row.n_days == n
        assert row.split_after == best_k
        assert row.sse_gain == pytest.approx(best_gain, rel=1e-4, abs=1e-2)
        assert row.mean_left == pytest.approx(
            xs[:best_k].mean(), rel=1e-4, abs=1e-2
        )
        assert row.mean_right == pytest.approx(
            xs[best_k:].mean(), rel=1e-4, abs=1e-2
        )
        # a two-mean model can never fit worse than one mean
        assert row.sse_gain >= -1e-9


def test_audit_round_prices_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = (np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)) % 100
    got = q("audit_round_prices").set_index("o_orderpriority")
    assert got.n_orders.sum() == len(o)
    for pri, g in o.groupby("o_orderpriority"):
        row = got.loc[pri]
        n0 = int((g.cents == 0).sum())
        assert row.n_orders == len(g)
        assert row.n_round_dollar == n0
        assert row.share_round == pytest.approx(n0 / len(g), abs=1e-4)
        assert row.lift_vs_uniform == pytest.approx(
            n0 / len(g) / 0.01, abs=1e-2
        )
        assert row.share_99 == pytest.approx(
            (g.cents == 99).mean(), abs=1e-4
        )


def test_term_burstiness_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    cf, df = Counter(), Counter()
    for _, r in docs.iterrows():
        toks = [t for t in r.text.lower().split(" ") if t]
        cf.update(toks)
        df.update(set(toks))
    expect = sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))[:BURST_TOPK]
    got = q("term_burstiness")
    assert len(got) == BURST_TOPK
    for (term, c), (_, r) in zip(expect, got.iterrows()):
        assert r.term == term
        assert r.cf == c
        assert r.df == df[term]
        assert r.burstiness == pytest.approx(c / df[term], abs=1e-4)
        assert r.burstiness >= 1.0  # cf >= df by construction
