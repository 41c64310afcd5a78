"""Brute-force parity for round-6 batch-19 (variance_extras.py)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.variance_extras import VOCAB_CHECK_EVERY
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_anova_dow_vs_numpy(q, spark):
    ev = table(spark, SF_DIR, "events").select("ts").toPandas()
    daily = ev.ts.dt.floor("D").value_counts()
    groups = defaultdict(list)
    for day, c in daily.items():
        groups[day.weekday()].append(int(c))
    vals = [np.array(v, dtype=float) for v in groups.values()]
    allv = np.concatenate(vals)
    grand = allv.mean()
    ss_total = ((allv - grand) ** 2).sum()
    ss_between = sum(len(v) * (v.mean() - grand) ** 2 for v in vals)
    got = q("anova_dow").iloc[0]
    assert got.n_groups == len(groups)
    assert got.n_days == len(daily)
    assert abs(got.eta_squared - ss_between / ss_total) < 1e-3
    assert 0 <= got.eta_squared <= 1


def test_vocab_growth_vs_bruteforce(q, spark):
    docs = (
        table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
    )
    seen = set()
    cum_tokens = 0
    expected = {}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        cum_tokens += len(toks)
        seen.update(toks)
        if r.doc_id % VOCAB_CHECK_EVERY == 0:
            expected[r.doc_id] = (cum_tokens, len(seen))
    got = q("vocab_growth").set_index("doc_id")
    assert set(got.index) == set(expected)
    for did, (ct, cv) in expected.items():
        assert got.loc[did].cum_tokens == ct
        assert got.loc[did].cum_vocab == cv
    # Heaps: vocabulary is non-decreasing and bounded by tokens
    g = got.sort_index()
    assert (g.cum_vocab.diff().dropna() >= 0).all()
    assert (g.cum_vocab <= g.cum_tokens).all()


def test_user_lifetime_dist_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select("user_id", "ts").toPandas()
    spans = ev.groupby("user_id").ts.agg(["min", "max"])
    days = (spans["max"].dt.date - spans["min"].dt.date).map(lambda d: d.days)
    buckets = Counter(d // 7 for d in days)
    got = q("user_lifetime_dist").set_index("week_bucket")
    assert {int(k): int(v) for k, v in zip(got.index, got.n_users)} == dict(
        buckets
    )
    assert got.n_users.sum() == len(spans)
    for wb, r in got.iterrows():
        in_bucket = [d for d in days if d // 7 == wb]
        assert r.min_days == min(in_bucket)
        assert r.max_days == max(in_bucket)


def test_error_rate_daily_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select("ts", "event_type").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("error_rate_daily").set_index("day")
    for day, grp in ev.groupby("day"):
        r = got.loc[day]
        errs = int((grp.event_type == "error").sum())
        assert r.n_events == len(grp)
        assert r.n_errors == errs
        assert abs(r.error_rate - errs / len(grp)) < 1e-3
    assert got.n_events.sum() == len(ev)


def test_brand_breadth_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey").toPandas()
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey").toPandas()
    part = table(spark, SF_DIR, "part").select("p_partkey", "p_brand").toPandas()
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey").merge(
        part, left_on="l_partkey", right_on="p_partkey"
    )
    breadth = m.groupby("o_custkey").p_brand.nunique()
    hist = Counter(breadth.values)
    got = q("brand_breadth").set_index("n_brands")
    assert {int(k): int(v) for k, v in zip(got.index, got.n_customers)} == {
        int(k): int(v) for k, v in hist.items()
    }
    assert got.n_customers.sum() == len(breadth)


def test_first_touch_mix_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    firsts = ev.groupby("user_id").event_type.first()
    mix = Counter(firsts.values)
    got = q("first_touch_mix").set_index("first_event_type")
    assert {k: int(v) for k, v in zip(got.index, got.n_users)} == dict(mix)
    assert got.n_users.sum() == len(firsts)
    assert abs(got.share.sum() - 1.0) < 1e-2
