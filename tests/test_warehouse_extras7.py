"""Brute-force parity for round-6 batch-10 (warehouse_extras7.py)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras7 import SESSION_GAP_US
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_win_reset_cumsum_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    got = q("win_reset_cumsum").set_index("event_id")
    assert len(got) == len(ev)
    for _, grp in ev.groupby("user_id"):
        prev_us = None
        sid, run = 0, 0
        for r in grp.itertuples():
            us = r.ts.value // 1000  # pandas ns -> us
            if prev_us is None or us - prev_us > SESSION_GAP_US:
                sid += 1
                run = 0
            run += math.floor(r.value * 10000 + 0.5)
            g = got.loc[r.event_id]
            assert g.session_id == sid
            assert g.running_value_e4 == run
            prev_us = us


def test_orders_linecount_dist_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey").toPandas()
    sizes = Counter(Counter(li.l_orderkey).values())
    got = q("orders_linecount_dist").set_index("n_lines")
    assert {int(k): int(v) for k, v in zip(got.index, got.n_orders)} == dict(
        sizes
    )
    n_orders_total = li.l_orderkey.nunique()
    assert (got.total_orders == n_orders_total).all()
    # histogram masses account for every lineitem row
    assert sum(k * v for k, v in sizes.items()) == len(li)


def test_corpus_zipf_slope_vs_numpy(q, spark):
    docs = table(spark, SF_DIR, "documents").select("text").toPandas()
    tf = Counter()
    for t in docs.text:
        tf.update(t.split(" "))
    ranked = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))
    x = np.array(
        [math.floor(math.log(i + 1) * 1e6 + 0.5) for i in range(len(ranked))],
        dtype=float,
    )
    y = np.array(
        [math.floor(math.log(f) * 1e6 + 0.5) for _, f in ranked], dtype=float
    )
    slope = np.polyfit(x, y, 1)[0]
    got = q("corpus_zipf_slope").iloc[0]
    assert got.n_terms == len(ranked)
    assert abs(got.zipf_slope - slope) < 1e-3
    # a rank-frequency curve always slopes down
    assert got.zipf_slope < 0


def test_win_moving_median_vs_bruteforce(q, spark):
    from secdb_spark.operators.warehouse_extras7 import MOVMED_DAYS

    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    daily = (
        ev.groupby(["event_type", "day"]).size().rename("c").reset_index()
        .sort_values(["event_type", "day"])
    )
    got = q("win_moving_median").set_index(["event_type", "day"])
    assert len(got) == len(daily)
    for et, grp in daily.groupby("event_type"):
        vals = list(grp.c)
        days = list(grp.day)
        for i in range(len(vals)):
            fr = sorted(vals[max(0, i - (MOVMED_DAYS - 1)) : i + 1])
            n = len(fr)
            med = (fr[(n - 1) // 2] + fr[n // 2]) / 2
            assert got.loc[(et, days[i])].moving_median == round(med, 4)


def test_win_fill_forward_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    got = q("win_fill_forward").set_index("event_id")
    assert len(got) == len(ev)
    for _, grp in ev.groupby("user_id"):
        carried = None
        for r in grp.itertuples():
            if r.event_type == "purchase":
                carried = math.floor(r.value * 10000 + 0.5)
            g = got.loc[r.event_id]
            if carried is None:
                assert g.last_purchase_e4 is None or np.isnan(
                    g.last_purchase_e4
                )
            else:
                assert g.last_purchase_e4 == carried
