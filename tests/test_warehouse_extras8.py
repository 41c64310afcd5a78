"""Brute-force parity for round-7 batch-2 (warehouse_extras8.py)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras8 import (
    GEOMEAN_Q,
    OTD_SLA_DAYS,
    RSI_DAYS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_supplier_otd_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    ).toPandas()
    o = table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate"
    ).toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    j["lag"] = (j.l_shipdate - j.o_orderdate).dt.days
    got = q("supplier_otd").set_index("l_suppkey")
    for sk, g in j.groupby("l_suppkey"):
        row = got.loc[sk]
        late = (g.lag > OTD_SLA_DAYS).sum()
        assert row.n_lines == len(g)
        assert row.n_late == late
        delays = (g.lag[g.lag > OTD_SLA_DAYS] - OTD_SLA_DAYS)
        assert row.max_delay_days == (delays.max() if late else 0)


def test_funnel_latency_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts"
    ).toPandas()
    ev["t"] = ev.ts.astype("int64") // 1000  # ns -> us
    gaps = {"view->click": [], "click->purchase": []}
    for _uid, g in ev.groupby("user_id"):
        views = g[g.event_type == "view"].t
        if views.empty:
            continue
        tv = views.min()
        clicks = g[(g.event_type == "click") & (g.t >= tv)].t
        if clicks.empty:
            continue
        tc = clicks.min()
        gaps["view->click"].append(tc - tv)
        purch = g[(g.event_type == "purchase") & (g.t >= tc)].t
        if not purch.empty:
            gaps["click->purchase"].append(purch.min() - tc)
    got = q("funnel_latency").set_index("stage")
    for stage, gl in gaps.items():
        row = got.loc[stage]
        assert row.n_users == len(gl)
        assert abs(row.p50_s - round(np.percentile(gl, 50) / 1e6, 4)) < 1e-3
        assert abs(row.p95_s - round(np.percentile(gl, 95) / 1e6, 4)) < 1e-3


def test_source_vocab_overlap_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("source", "text").toPandas()
    vocab = {}
    for r in docs.itertuples():
        vocab.setdefault(r.source, set()).update(r.text.lower().split(" "))
    got = q("source_vocab_overlap")
    assert len(got) == len(vocab) * (len(vocab) - 1) // 2
    for r in got.itertuples():
        a, b = vocab[r.source_a], vocab[r.source_b]
        inter = len(a & b)
        assert r.n_common == inter
        assert abs(r.jaccard - round(inter / len(a | b), 4)) < 1e-9


def test_ts_rsi_bounds_and_window(q, spark):
    got = q("ts_rsi")
    assert ((got.rsi >= 0) & (got.rsi <= 100)).all()
    # warm-up rows (first RSI_DAYS-1 deltas) are excluded per type
    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    days = ev.assign(day=ev.ts.dt.floor("D")).groupby("event_type").day.nunique()
    for et, nd in days.items():
        expected = max(0, (nd - 1) - (RSI_DAYS - 1))
        assert (got.event_type == et).sum() == expected


def test_agg_geomean_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).toPandas()
    got = q("agg_geomean").set_index("o_orderpriority")
    for pr, g in o.groupby("o_orderpriority"):
        lq = np.floor(np.log(g.o_totalprice.to_numpy()) * GEOMEAN_Q + 0.5)
        gm = math.exp(lq.sum() / len(g) / GEOMEAN_Q)
        row = got.loc[pr]
        assert row.n == len(g)
        assert abs(row.geomean_price - round(gm, 4)) < 1e-6
        # geomean <= arithmetic mean (AM-GM)
        assert row.geomean_price <= g.o_totalprice.mean() + 1e-6


def test_discount_band_rev_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_discount", "l_extendedprice", "l_quantity"
    ).toPandas()
    li["band"] = np.floor(li.l_discount * 100 + 0.5).astype(int)
    got = q("discount_band_rev").set_index("discount_pct")
    bands = Counter(li.band)
    for band, n in bands.items():
        row = got.loc[band]
        g = li[li.band == band]
        assert row.n_lines == n
        assert row.total_qty == int(np.floor(g.l_quantity + 0.5).sum())
        assert abs(
            row.revenue - round((g.l_extendedprice * (1 - g.l_discount)).sum(), 4)
        ) < 0.51  # float re-sum tolerance vs decimal


# --- round-7 batch 3 ------------------------------------------------------

def test_customer_reorder_rate_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").select("o_custkey").toPandas()
    c = table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_nationkey"
    ).toPandas()
    per = o.groupby("o_custkey").size().reset_index(name="n")
    j = per.merge(c, left_on="o_custkey", right_on="c_custkey")
    got = q("customer_reorder_rate").set_index("c_nationkey")
    for nk, g in j.groupby("c_nationkey"):
        row = got.loc[nk]
        assert row.n_customers == len(g)
        assert row.n_repeat == (g.n >= 2).sum()


def test_ts_rolling_corr_bounds_and_warmup(q, spark):
    from secdb_spark.operators.warehouse_extras8 import CORR_DAYS

    got = q("ts_rolling_corr")
    assert ((got.corr_vp >= -1.0001) & (got.corr_vp <= 1.0001)).all()
    ev = table(spark, SF_DIR, "events").select("ts").toPandas()
    n_days = ev.ts.dt.floor("D").nunique()
    assert len(got) == max(0, n_days - (CORR_DAYS - 1))


# --- round-7 batch 4 ------------------------------------------------------

def test_ts_trend_slope_vs_numpy(q, spark):
    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_trend_slope").set_index("event_type")
    import pandas as pd

    origin = pd.Timestamp("2024-01-01")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("day").size()
        x = (daily.index - origin).days.to_numpy(dtype=float)
        y = daily.to_numpy(dtype=float)
        slope = np.polyfit(x, y, 1)[0]
        row = got.loc[et]
        assert row.n_days == len(daily)
        assert abs(row.slope_per_day - slope) < 1e-3


def test_events_dispersion_vs_numpy(q, spark):
    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("events_dispersion").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        y = g.groupby("day").size().to_numpy(dtype=float)
        disp = y.var(ddof=1) / y.mean()
        assert abs(got.loc[et].dispersion - disp) < 1e-3


def test_brand_return_rate_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_returnflag"
    ).toPandas()
    p = table(spark, SF_DIR, "part").select("p_partkey", "p_brand").toPandas()
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    got = q("brand_return_rate").set_index("p_brand")
    for b, g in j.groupby("p_brand"):
        row = got.loc[b]
        assert row.n_lines == len(g)
        assert row.n_returned == (g.l_returnflag == "R").sum()


def test_nation_tax_rate_plausible(q, spark):
    li = table(spark, SF_DIR, "lineitem").select("l_tax").toPandas()
    got = q("nation_tax_rate")
    lo, hi = li.l_tax.min(), li.l_tax.max()
    # revenue-weighted mean must sit inside the tax range
    assert ((got.effective_tax_rate >= lo - 1e-9)
            & (got.effective_tax_rate <= hi + 1e-9)).all()


def test_session_bounce_rate_vs_bruteforce(q, spark):
    from secdb_spark.operators.warehouse_extras8 import BOUNCE_GAP_US

    ev = table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).toPandas()
    ev["t"] = ev.ts.astype("int64") // 1000
    stats = Counter()
    bounce = Counter()
    for _uid, g in ev.groupby("user_id"):
        g = g.sort_values(["t", "event_id"])
        prev = None
        cur = []
        sessions = []
        for r in g.itertuples():
            if prev is None or r.t - prev > BOUNCE_GAP_US:
                if cur:
                    sessions.append(cur)
                cur = []
            cur.append(r)
            prev = r.t
        if cur:
            sessions.append(cur)
        for s in sessions:
            entry = s[0].event_type
            stats[entry] += 1
            if len(s) == 1:
                bounce[entry] += 1
    got = q("session_bounce_rate").set_index("entry_type")
    for et in stats:
        row = got.loc[et]
        assert row.n_sessions == stats[et]
        assert row.n_bounce == bounce[et]


def test_agg_percentile_disc_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).toPandas()
    got = q("agg_percentile_disc").set_index("l_returnflag")
    for flag, g in li.groupby("l_returnflag"):
        vals = sorted(g.l_extendedprice)
        n = len(vals)
        row = got.loc[flag]
        assert row.n == n
        for p, col in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
            rank = -(-int(p * 4) * n // 4)  # ceil(p*n) with p in quarters
            assert row[col] == vals[rank - 1]
            # discrete percentile is always an actual data point
            assert row[col] in set(vals)
