"""Brute-force parity for the round-7 streaming additions
(stream_topk_windowed, stream_hopping_uniques)."""

from __future__ import annotations

from collections import Counter, defaultdict

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


def test_stream_topk_windowed_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["w"] = ev.ts.dt.floor("h")
    got = q("stream_topk_windowed").set_index("window_start").sort_index()
    assert len(got) == ev.w.nunique()
    for w, g in ev.groupby("w"):
        counts = Counter(g.event_type)
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        row = got.loc[w]
        assert row.top_type == best[0]
        assert row.top_n == best[1]
        assert row.n_total == len(g)
    # the top count can never exceed the window total
    assert (got.top_n <= got.n_total).all()


def test_stream_hopping_uniques_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    # each event covers the 4 hopping windows ending at/after it
    buckets = ev.ts.dt.floor("15min")
    users = ev.user_id
    per_win_events = Counter()
    per_win_users = defaultdict(set)
    for b, u in zip(buckets, users):
        for k in range(4):
            w = b - pd.Timedelta(minutes=15 * k)
            per_win_events[w] += 1
            per_win_users[w].add(u)
    got = q("stream_hopping_uniques").set_index("window_start")
    assert len(got) == len(per_win_events)
    for w, n in per_win_events.items():
        row = got.loc[w]
        assert row.n_events == n
        assert row.uniq_users == len(per_win_users[w])
        assert row.uniq_users <= row.n_events
