"""Brute-force parity for round-7 batch 38 (warehouse_extras32.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_join_asof_native_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    views = ev[ev.event_type == "view"]
    purchases = ev[ev.event_type == "purchase"][["user_id", "ts"]]
    got = q("join_asof_native").set_index("event_id")
    assert len(got) == len(views)
    pmap = {
        u: np.sort(g.ts.values) for u, g in purchases.groupby("user_id")
    }
    n_matched = 0
    for r in views.itertuples():
        row = got.loc[r.event_id]
        cand = pmap.get(r.user_id)
        best = None
        if cand is not None:
            idx = np.searchsorted(cand, np.datetime64(r.ts), side="right")
            if idx > 0:
                best = cand[idx - 1]
        if best is None:
            assert pd.isna(row.last_purchase_ts)
            assert pd.isna(row.secs_since_purchase)
        else:
            n_matched += 1
            assert row.last_purchase_ts == pd.Timestamp(best)
            lag_us = (
                pd.Timestamp(r.ts).value - pd.Timestamp(best).value
            ) // 1000
            assert row.secs_since_purchase == lag_us // 1_000_000
    assert n_matched > 0  # data must exercise the match path


def test_decile_lift_table_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    spend = o.groupby("o_custkey").cents.sum().sort_values().values
    n = len(spend)
    thr = [spend[int(np.ceil(k / 10 * n)) - 1] for k in range(1, 10)]
    deciles = 1 + np.sum(
        spend[:, None] > np.array(thr)[None, :], axis=1
    )
    got = q("decile_lift_table").set_index("decile").sort_index()
    tot_spend = spend.sum()
    tot_cust = n
    # cumulative from the top decile down
    rows = []
    for d in sorted(set(deciles)):
        mask = deciles == d
        rows.append((d, int(mask.sum()), int(spend[mask].sum())))
    assert len(got) == len(rows)
    cum_s = cum_c = 0
    for d, nc, sc in sorted(rows, key=lambda r: -r[0]):
        row = got.loc[d]
        assert row.n_customers == nc
        assert row.spend_cents == sc
        cum_s += sc
        cum_c += nc
        assert row.spend_share == pytest.approx(sc / tot_spend, abs=1e-4)
        assert row.cum_share_top_down == pytest.approx(
            cum_s / tot_spend, abs=1e-4
        )
        assert row.lift == pytest.approx(
            (cum_s / tot_spend) / (cum_c / tot_cust), abs=1e-3
        )
    # the top decile must over-index (lift > 1) on any non-uniform spend
    assert got.loc[got.index.max()].lift > 1


def test_part_sourcing_breadth_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    s = table(spark, SF_DIR, "supplier").toPandas()
    j = li.merge(s, left_on="l_suppkey", right_on="s_suppkey")
    breadth = j.groupby("l_partkey").s_nationkey.nunique()
    hist = breadth.value_counts()
    got = q("part_sourcing_breadth").set_index("n_nations")
    assert len(got) == len(hist)
    for b, c in hist.items():
        row = got.loc[b]
        assert row.n_parts == c
        assert row.share_of_parts == pytest.approx(
            c / hist.sum(), abs=1e-4
        )
