"""Brute-force parity for round-7 batch 37 (warehouse_extras31.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

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


def test_weekend_lift_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.normalize()
    ev["we"] = ev.day.dt.dayofweek >= 5  # pandas: Mon=0 .. Sun=6
    days = ev.day.drop_duplicates()
    n_we = int((days.dt.dayofweek >= 5).sum())
    n_wd = len(days) - n_we
    got = q("weekend_lift").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        row = got.loc[et]
        we = int(g.we.sum())
        wd = len(g) - we
        assert row.weekend_events == we
        assert row.weekday_events == wd
        assert row.weekend_daily_rate == pytest.approx(we / n_we, abs=1e-3)
        assert row.weekday_daily_rate == pytest.approx(wd / n_wd, abs=1e-3)
        assert row.lift == pytest.approx(
            (we / n_we) / (wd / n_wd), abs=1e-3
        )


def test_dedup_savings_report_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    keeper = {}
    for r in docs.itertuples():
        h = hashlib.sha256(r.text.encode()).hexdigest()
        if h not in keeper or r.doc_id < keeper[h]:
            keeper[h] = r.doc_id
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, toks, dup_docs, dup_toks
    for r in docs.itertuples():
        h = hashlib.sha256(r.text.encode()).hexdigest()
        n_tok = len(r.text.split(" "))
        a = agg[r.source]
        a[0] += 1
        a[1] += n_tok
        if r.doc_id != keeper[h]:
            a[2] += 1
            a[3] += n_tok
    got = q("dedup_savings_report").set_index("source")
    assert len(got) == len(agg)
    for src, (nd, tt, dd, dt) in agg.items():
        row = got.loc[src]
        assert row.n_docs == nd
        assert row.total_tokens == tt
        assert row.dup_docs == dd
        assert row.dup_tokens == dt
        assert row.savings_ratio == pytest.approx(dt / tt, abs=1e-4)
    # savings must reconcile with dedup_exact's copy counts
    de = q("dedup_exact")
    assert got.dup_docs.sum() == int((de.n_copies - 1).sum())


def test_join_hint_merge_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    import numpy as np

    li["rev"] = np.floor(
        li.l_extendedprice * (1 - li.l_discount)
    ).astype(np.int64)
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    exp = j.groupby("o_orderpriority").agg(
        n=("rev", "size"), rev=("rev", "sum")
    )
    got = q("join_hint_merge").set_index("o_orderpriority")
    assert len(got) == len(exp)
    for prio, r in exp.iterrows():
        row = got.loc[prio]
        assert row.n_lines == r.n
        assert row.revenue == r.rev
