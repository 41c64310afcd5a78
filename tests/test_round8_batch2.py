"""Brute-force parity for round-8 batch 2 (warehouse_extras35.py +
the two Spark-4 SQL-surface ops)."""

from __future__ import annotations

import json
import math
from collections import defaultdict
from datetime import date

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras35 import (
    ATR_ALPHA,
    ATR_K,
    BETA_ANCHOR,
    MACD_FAST_ALPHA,
    MACD_K,
    MACD_SIG_ALPHA,
    MACD_SIG_K,
    MACD_SLOW_ALPHA,
    WMA_WEIGHTS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def orders(spark):
    return table(spark, SF_DIR, "orders").toPandas()


@pytest.fixture(scope="module")
def events(spark):
    return table(spark, SF_DIR, "events").toPandas()


def _he4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000.0


def _ewma(vals: list[float], alpha: float, k: int) -> list[float]:
    """Truncated renormalized EWMA — the bounded-lookback win_ewma
    expansion the operators compile into both engines."""
    out = []
    for t in range(len(vals)):
        num = den = 0.0
        for i in range(min(k, t + 1)):
            w = (1 - alpha) ** i * alpha
            num += w * vals[t - i]
            den += w
        out.append(num / den)
    return out


def test_ts_macd_vs_bruteforce(q, orders):
    cents = defaultdict(int)
    for _, r in orders.iterrows():
        d = r["o_orderdate"].date()
        cents[d] += int(math.floor(r["o_totalprice"] * 100 + 0.5))
    days = sorted(cents)
    rev = [cents[d] / 100.0 for d in days]
    fast = _ewma(rev, MACD_FAST_ALPHA, MACD_K)
    slow = _ewma(rev, MACD_SLOW_ALPHA, MACD_K)
    macd = [f - s for f, s in zip(fast, slow)]
    signal = _ewma(macd, MACD_SIG_ALPHA, MACD_SIG_K)
    got = q("ts_macd")
    assert len(got) == len(days)
    g = got.set_index(got["day"].dt.date)
    for t, d in enumerate(days):
        row = g.loc[d]
        assert row["rev"] == pytest.approx(_he4(rev[t]), abs=1e-9)
        assert row["macd"] == pytest.approx(macd[t], abs=6e-5)
        assert row["signal"] == pytest.approx(signal[t], abs=6e-5)
        assert row["histogram"] == pytest.approx(
            macd[t] - signal[t], abs=1.2e-4
        )


def test_ts_atr_vs_bruteforce(q, events):
    bars = {}
    for _, r in events.iterrows():
        key = (r["event_type"], r["ts"].normalize())
        b = bars.setdefault(
            key, {"high": -1e30, "low": 1e30, "last": None, "close": None}
        )
        b["high"] = max(b["high"], r["value"])
        b["low"] = min(b["low"], r["value"])
        tie = (r["ts"], r["event_id"])
        if b["last"] is None or tie > b["last"]:
            b["last"], b["close"] = tie, r["value"]
    got = q("ts_atr").set_index(["event_type", "day"])
    by_type = defaultdict(list)
    for (et, day), b in sorted(bars.items()):
        by_type[et].append((day, b))
    n_checked = 0
    for et, seq in by_type.items():
        trs = []
        prev_close = None
        for day, b in seq:
            if prev_close is None:
                tr = b["high"] - b["low"]
            else:
                tr = max(
                    b["high"] - b["low"],
                    abs(b["high"] - prev_close),
                    abs(b["low"] - prev_close),
                )
            trs.append(tr)
            prev_close = b["close"]
        atrs = _ewma(trs, ATR_ALPHA, ATR_K)
        for (day, _), tr, atr in zip(seq, trs, atrs):
            row = got.loc[(et, day)]
            assert row["true_range"] == pytest.approx(_he4(tr), abs=1e-9)
            assert row["atr"] == pytest.approx(atr, abs=6e-5)
            n_checked += 1
    assert n_checked == len(got)


def test_ts_beta_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    part = table(spark, SF_DIR, "part").toPandas()
    brand = dict(zip(part["p_partkey"], part["p_brand"]))
    anchor = date.fromisoformat(BETA_ANCHOR)
    bw = defaultdict(int)
    for _, r in li.iterrows():
        wk = (r["l_shipdate"].date() - anchor).days // 7
        cents = int(
            math.floor(r["l_extendedprice"] * (1 - r["l_discount"]) * 100 + 0.5)
        )
        bw[(brand[r["l_partkey"]], wk)] += cents
    mkt = defaultdict(int)
    for (b, wk), y in bw.items():
        mkt[wk] += y
    moms = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, sx, sy, sxx, sxy
    for (b, wk), y in bw.items():
        x = mkt[wk]
        m = moms[b]
        m[0] += 1
        m[1] += x
        m[2] += y
        m[3] += x * x
        m[4] += x * y
    got = q("ts_beta").set_index("brand")
    assert len(got) == len(moms)
    for b, (n, sx, sy, sxx, sxy) in moms.items():
        row = got.loc[b]
        assert row["n_weeks"] == n
        beta = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        assert row["beta"] == pytest.approx(beta, abs=6e-5)
        # a brand is a slice of the market: betas should be ~positive
        assert row["beta"] > 0


def test_events_audience_overlap_vs_bruteforce(q, events):
    act = defaultdict(set)
    for _, r in events.iterrows():
        act[r["ts"].normalize()].add(r["user_id"])
    days = sorted(act)
    got = q("events_audience_overlap").set_index("day")
    n_expected = sum(
        1 for d in days if any((d2 - d).days == 1 for d2 in act)
    )
    assert len(got) == n_expected
    for d in days:
        nxt = [d2 for d2 in days if (d2 - d).days == 1]
        if not nxt:
            continue
        a, b = act[d], act[nxt[0]]
        both = len(a & b)
        row = got.loc[d]
        assert row["n_today"] == len(a)
        assert row["n_next"] == len(b)
        assert row["n_both"] == both
        assert row["jaccard"] == pytest.approx(
            _he4(both / len(a | b)), abs=1e-9
        )


def test_hhi_trend_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    sup = table(spark, SF_DIR, "supplier").toPandas()
    nation = dict(zip(sup["s_suppkey"], sup["s_nationkey"]))
    sq = defaultdict(int)
    for _, r in li.iterrows():
        d = r["l_shipdate"]
        qidx = (d.year - 1995) * 4 + (d.month - 1) // 3
        cents = int(
            math.floor(r["l_extendedprice"] * (1 - r["l_discount"]) * 100 + 0.5)
        )
        sq[(nation[r["l_suppkey"]], r["l_suppkey"], qidx)] += cents
    per_nq = defaultdict(lambda: [0, 0])  # sum x, sum x^2
    for (nk, sk, qidx), x in sq.items():
        per_nq[(nk, qidx)][0] += x
        per_nq[(nk, qidx)][1] += x * x
    ys = {
        k: math.floor(v[1] / (v[0] * v[0]) * 10000 * 10000 + 0.5)
        for k, v in per_nq.items()
    }
    moms = defaultdict(lambda: [0, 0, 0, 0, 0])
    for (nk, qidx), y in ys.items():
        m = moms[nk]
        m[0] += 1
        m[1] += qidx
        m[2] += y
        m[3] += qidx * qidx
        m[4] += qidx * y
    got = q("hhi_trend").set_index("s_nationkey")
    assert len(got) == len(moms)
    for nk, (n, sx, sy, sxx, sxy) in moms.items():
        row = got.loc[nk]
        assert row["n_quarters"] == n
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx) / 10000
        assert row["hhi_slope_per_quarter"] == pytest.approx(slope, abs=6e-5)


def test_win_weighted_moving_avg_vs_bruteforce(q, orders):
    cents = defaultdict(int)
    for _, r in orders.iterrows():
        cents[(r["o_orderpriority"], r["o_orderdate"].normalize())] += int(
            math.floor(r["o_totalprice"] * 100 + 0.5)
        )
    series = defaultdict(list)
    for (pri, day), c in sorted(cents.items()):
        series[pri].append((day, c))
    got = q("win_weighted_moving_avg").set_index(["o_orderpriority", "day"])
    assert len(got) == len(cents)
    for pri, seq in series.items():
        for t, (day, c) in enumerate(seq):
            num = den = 0
            for i, w in enumerate(WMA_WEIGHTS):
                if t - i >= 0:
                    num += w * seq[t - i][1]
                    den += w
            row = got.loc[(pri, day)]
            assert row["cents"] == c
            assert row["wma"] == pytest.approx(
                _he4(num / den / 100), abs=1e-9
            )


def test_sql_pipe_syntax_matches_classic_q1_shape(q):
    """The pipe-syntax text must reach the same result as the classic
    ANSI form (its own oracle) — checked here Spark-side only: group
    count and a spot aggregate."""
    got = q("sql_pipe_syntax")
    assert set(got.columns) == {
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_rev",
        "n_rows",
    }
    assert 1 <= len(got) <= 8  # |returnflag| x |linestatus| groups
    assert (got["n_rows"] > 0).all()
    assert (got["sum_rev"] > got["sum_qty"]).all()


def test_fn_variant_vs_json_bruteforce(q, events):
    agg = defaultdict(lambda: [0, 0, None, None, 0])
    for _, r in events.iterrows():
        a = agg[r["event_type"]]
        a[0] += 1
        try:
            k = json.loads(r["props"])["k"]
            valid = True
        except Exception:
            valid = False
        if valid:
            a[1] += 1
            k = int(k)
            a[2] = k if a[2] is None else min(a[2], k)
            a[3] = k if a[3] is None else max(a[3], k)
            a[4] += k
    got = q("fn_variant").set_index("event_type")
    assert len(got) == len(agg)
    for et, (n, nv, mn, mx, s) in agg.items():
        row = got.loc[et]
        assert row["n_events"] == n
        assert row["n_valid_json"] == nv
        assert row["min_k"] == mn
        assert row["max_k"] == mx
        assert row["sum_k"] == s
        assert row["avg_k"] == pytest.approx(
            math.floor(s / n * 10000 + 0.5) / 10000.0, abs=1e-9
        )
