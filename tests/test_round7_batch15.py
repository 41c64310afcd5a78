"""Brute-force parity for round-7 batch 15 (warehouse_extras13.py)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras13 import (
    ATTR_WINDOW_DAYS,
    CAP_SALT,
    MAX_LAG,
    SOURCE_CAP,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_agg_theil_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    o["v"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    got = q("agg_theil").set_index("nation")
    for nat, g in j.groupby("c_nationkey"):
        x = g.groupby("o_custkey").v.sum().to_numpy(dtype=float)
        n, big_x = len(x), x.sum()
        mu = big_x / n
        theil = float(np.sum(x / big_x * np.log(x / mu)))
        row = got.loc[nat]
        assert row.n_customers == n
        assert row.theil == pytest.approx(theil, abs=1e-3)
        assert -1e-9 <= row.theil <= math.log(n) + 1e-9


def test_ts_dominant_period_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["di"] = (ev.ts.dt.floor("D") - np.datetime64("2024-01-01")).dt.days
    got = q("ts_dominant_period").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("di").size()
        best = None
        for lag in range(1, MAX_LAG + 1):
            xs, ys = [], []
            for di, cx in daily.items():
                if di - lag in daily.index:
                    xs.append(cx)
                    ys.append(daily.loc[di - lag])
            if len(xs) > 2:
                r = round(float(np.corrcoef(xs, ys)[0, 1]), 4)
                if best is None or r > best[1]:
                    best = (lag, r, len(xs))
        row = got.loc[et]
        assert row.best_lag == best[0]
        assert row.acf == pytest.approx(best[1], abs=1e-9)
        assert row.n_pairs == best[2]


def test_attribution_time_decay_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["us"] = ev.ts.astype("int64") // 1000
    day_us = 86_400_000_000
    credit: dict[str, float] = {}
    touches: dict[str, int] = {}
    p = ev[ev.event_type == "purchase"]
    t = ev[ev.event_type.isin(["view", "click"])]
    for _, pr in p.iterrows():
        win = t[
            (t.user_id == pr.user_id)
            & (t.us < pr.us)
            & (pr.us - t.us < ATTR_WINDOW_DAYS * day_us)
        ]
        if win.empty:
            continue
        ages = ((pr.us - win.us) // day_us).astype(int)
        ws = 2 ** (ATTR_WINDOW_DAYS - ages)
        wp = ws.sum()
        for et, w in zip(win.event_type, ws):
            credit[et] = credit.get(et, 0.0) + pr.value * w / wp
            touches[et] = touches.get(et, 0) + 1
    got = q("attribution_time_decay").set_index("event_type")
    assert set(got.index) == set(credit)
    for et in credit:
        assert got.loc[et].n_touches == touches[et]
        assert got.loc[et].credited_value == pytest.approx(
            credit[et], rel=1e-6
        )
    # conservation: total credit equals total attributed purchase value
    attributed = 0.0
    for _, pr in p.iterrows():
        win = t[
            (t.user_id == pr.user_id)
            & (t.us < pr.us)
            & (pr.us - t.us < ATTR_WINDOW_DAYS * day_us)
        ]
        if not win.empty:
            attributed += pr.value
    assert got.credited_value.sum() == pytest.approx(attributed, rel=1e-6)


def test_mix_source_cap_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    got = q("mix_source_cap")
    for src, g in docs.groupby("source"):
        keys = sorted(
            (hashlib.md5(f"{CAP_SALT}{d}".encode()).hexdigest(), d)
            for d in g.doc_id
        )[:SOURCE_CAP]
        want = [d for _, d in keys]
        rows = got[got.source == src].sort_values("rk")
        assert list(rows.doc_id) == want
        assert list(rows.rk) == list(range(1, len(want) + 1))


def test_gapfill_interpolate_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev = ev[ev.event_type == "purchase"].copy()
    ev["di"] = (ev.ts.dt.floor("D") - np.datetime64("2024-01-01")).dt.days
    daily = ev.groupby("di").value.mean().round(4)
    got = q("gapfill_interpolate").set_index("di").sort_index()
    lo, hi = daily.index.min(), daily.index.max()
    assert list(got.index) == list(range(lo, hi + 1))
    known = sorted(daily.index)
    for di, row in got.iterrows():
        if di in daily.index:
            assert bool(row.observed)
            assert row.filled == pytest.approx(daily.loc[di], abs=1e-9)
        else:
            assert not bool(row.observed)
            prevs = [d for d in known if d < di]
            nexts = [d for d in known if d > di]
            pd_, nd = max(prevs), min(nexts)
            pv, nv = daily.loc[pd_], daily.loc[nd]
            want = pv + (nv - pv) * (di - pd_) / (nd - pd_)
            assert row.filled == pytest.approx(round(want, 4), abs=1e-3)


def test_source_length_ks_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    got = q("source_length_ks").set_index("source")
    for src, g in docs.groupby("source"):
        a = np.sort(g.n_chars.to_numpy())
        b = np.sort(docs[docs.source != src].n_chars.to_numpy())
        grid = np.unique(np.concatenate([a, b]))
        d = np.abs(
            np.searchsorted(a, grid, "right") / len(a)
            - np.searchsorted(b, grid, "right") / len(b)
        ).max()
        row = got.loc[src]
        assert row.n_docs == len(a)
        assert row.d == pytest.approx(d, abs=1e-3)
        assert 0 <= row.d <= 1
