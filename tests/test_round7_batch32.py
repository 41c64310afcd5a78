"""Brute-force parity for round-7 batch 32 (warehouse_extras27.py)."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras27 import LOO_DAYS
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_win_groups_frame_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    o["d"] = o.o_orderdate.dt.normalize()
    o["mon"] = o.o_orderdate.dt.to_period("M")
    # GROUPS ±1 by hand: per (prio, mon) the ordered distinct dates; the
    # frame for a row on date i sums the date-level totals of i-1, i, i+1.
    expect = {}
    for (prio, mon), g in o.groupby(["o_orderpriority", "mon"]):
        per_date = g.groupby("d").cents.sum().sort_index()
        dates = list(per_date.index)
        for i, d in enumerate(dates):
            s = per_date.iloc[max(0, i - 1): i + 2].sum()
            expect[(prio, d)] = int(s)
    got = q("win_groups_frame")
    assert len(got) == len(o)
    for r in got.itertuples():
        key = (r.o_orderpriority, pd.Timestamp(r.o_orderdate))
        assert r.frame_cents == expect[key], key


def test_win_exclude_current_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.normalize()
    ev["cents"] = np.floor(ev.value * 100 + 0.5).astype(np.int64)
    daily = (
        ev.groupby(["event_type", "day"]).cents.sum().reset_index()
    )
    got = q("win_exclude_current").set_index(["event_type", "day"])
    assert len(got) == len(daily)
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("day")
        for r in g.itertuples():
            lo = r.day - pd.Timedelta(days=LOO_DAYS)
            hi = r.day + pd.Timedelta(days=LOO_DAYS)
            peers = g[(g.day >= lo) & (g.day <= hi) & (g.day != r.day)]
            row = got.loc[(et, r.day)]
            assert row.day_cents == r.cents
            assert row.n_peer_days == len(peers)
            if len(peers):
                assert row.loo_avg_cents == pytest.approx(
                    peers.cents.mean(), abs=1e-3
                )
            else:
                assert pd.isna(row.loo_avg_cents)


def test_audit_benford2_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o = o[o.o_totalprice >= 10]
    d2 = (
        np.floor(o.o_totalprice)
        .astype(np.int64)
        .astype(str)
        .str[1]
        .astype(int)
    )
    counts = d2.value_counts().to_dict()
    n = len(o)
    exp = {
        k: sum(np.log10(1 + 1 / (10 * d1 + k)) for d1 in range(1, 10))
        for k in range(10)
    }
    got = q("audit_benford2").set_index("d2")
    assert got.n_obs.sum() == n
    for k, c in counts.items():
        row = got.loc[k]
        assert row.n_obs == c
        assert row.obs_share == pytest.approx(c / n, abs=1e-4)
        assert row.exp_share == pytest.approx(exp[k], abs=1e-4)
        assert row.chi2_term == pytest.approx(
            n * (c / n - exp[k]) ** 2 / exp[k], abs=1e-3
        )
    # second-digit Benford sums to 1 over all ten digits
    assert sum(exp.values()) == pytest.approx(1.0, abs=1e-9)


def test_forecast_snaive_mase_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    o["day"] = o.o_orderdate.dt.normalize()
    daily = defaultdict(dict)
    for (prio, day), g in o.groupby(["o_orderpriority", "day"]):
        daily[prio][day] = int(g.cents.sum())
    got = q("forecast_snaive_mase").set_index("o_orderpriority")
    assert len(got) == len(daily)
    for prio, series in daily.items():
        sae7 = n7 = sae1 = n1 = 0
        for day, c in series.items():
            p7 = series.get(day - pd.Timedelta(days=7))
            if p7 is not None:
                sae7 += abs(c - p7)
                n7 += 1
            p1 = series.get(day - pd.Timedelta(days=1))
            if p1 is not None:
                sae1 += abs(c - p1)
                n1 += 1
        row = got.loc[prio]
        assert row.n_days_snaive == n7
        assert row.n_days_naive == n1
        assert row.mae_snaive == pytest.approx(sae7 / n7 / 100, abs=1e-3)
        assert row.mae_naive == pytest.approx(sae1 / n1 / 100, abs=1e-3)
        assert row.mase == pytest.approx(
            (sae7 / n7) / (sae1 / n1), abs=1e-3
        )
