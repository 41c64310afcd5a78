"""Brute-force parity for round-7 batch 28 (warehouse_extras23.py)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras23 import (
    HEAVY_PCT,
    OPEN_WORDS,
    ROLL_W,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_ts_rolling_slope_vs_bruteforce(q, spark):
    import pandas as pd

    from secdb_spark.operators.warehouse_extras23 import TS_ANCHOR

    anchor = pd.Timestamp(TS_ANCHOR)
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["di"] = (ev.ts.dt.floor("D") - anchor).dt.days
    got = q("ts_rolling_slope").set_index(["event_type", "di"])
    n_checked = 0
    for et, g in ev.groupby("event_type"):
        s = g.groupby("di").value.sum().sort_index()
        days = list(s.index)
        for i, di in enumerate(days):
            idxs = [j for j in range(len(days))
                    if di - (ROLL_W - 1) <= days[j] <= di]
            if len(idxs) != ROLL_W:
                assert (et, di) not in got.index
                continue
            xs = np.array([days[j] for j in idxs], dtype=float)
            ys = np.array([s.iloc[j] for j in idxs])
            slope = np.polyfit(xs, ys, 1)[0]
            row = got.loc[(et, di)]
            assert row[f"slope_{ROLL_W}d"] == pytest.approx(
                slope, rel=1e-3, abs=1e-2
            )
            n_checked += 1
    assert n_checked == len(got)


def test_heavy_user_concentration_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    uc = ev.groupby("user_id").size()
    n_users = len(uc)
    counts = sorted(uc)
    # exact discrete percentile: smallest c with cum-users > floor(n*p)
    cut = int(np.floor(n_users * HEAVY_PCT / 100.0))
    cum = 0
    thr = None
    for c, users in sorted(Counter(counts).items()):
        cum += users
        if cum > cut:
            thr = c
            break
    heavy = uc[uc >= thr]
    row = q("heavy_user_concentration").iloc[0]
    assert row.n_users == n_users
    assert row[f"p{HEAVY_PCT}_threshold"] == thr
    assert row.n_heavy == len(heavy)
    assert row.heavy_event_share == pytest.approx(
        heavy.sum() / uc.sum(), abs=1e-4
    )
    assert row.n_heavy <= max(1, int(np.ceil(n_users * 0.02)))


def test_key_gap_audit_vs_bruteforce(q, spark):
    keys = sorted(
        table(spark, SF_DIR, "orders").toPandas().o_orderkey.unique()
    )
    gaps = [b - a - 1 for a, b in zip(keys, keys[1:])]
    row = q("key_gap_audit").iloc[0]
    assert row.n_keys == len(keys)
    assert row.key_min == keys[0]
    assert row.key_max == keys[-1]
    assert row.missing_keys == keys[-1] - keys[0] + 1 - len(keys)
    assert row.largest_gap == (max(gaps) if gaps else 0)
    assert row.missing_keys == sum(gaps)


def test_doc_opening_diversity_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    got = q("doc_opening_diversity").set_index("source")
    for src, g in docs.groupby("source"):
        openings = Counter(
            " ".join(t.lower().split(" ")[:OPEN_WORDS]) for t in g.text
        )
        row = got.loc[src]
        assert row.n_docs == len(g)
        assert row.distinct_openings == len(openings)
        assert row.opening_diversity == pytest.approx(
            len(openings) / len(g), abs=1e-4
        )
        assert row.top_opening_share == pytest.approx(
            max(openings.values()) / len(g), abs=1e-4
        )
