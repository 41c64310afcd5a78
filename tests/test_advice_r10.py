"""Regression tests for the round-10 ADVICE items (fixed in round 11).

1. fk_check (and the aging_buckets / churn / feature_scale family) used
   bare helper names like '_pk' / 'maxd' / '_anchor' / '_sx' for columns
   joined onto the CALLER's frame — a caller column of the same name
   raised AMBIGUOUS_REFERENCE or silently miscounted.  Internal columns
   now carry the reserved ``__secdb_`` prefix (documented in the api
   module docstring); these tests call each function on frames that
   deliberately contain the old colliding names.
2. calendar_gaps joined per-day counts onto the day spine on raw column
   values, so a TIMESTAMP column with intra-day times never matched the
   spine; both sides now normalize through to_date().
3. khop dropped seeds whose 2-hop reach was empty (inner-join + filter
   eliminated the group); the reach now left-joins back onto the seed
   frame with n_src_2hop coalesced to 0.
"""

from __future__ import annotations

import datetime

from secdb_spark import api


def test_fk_check_caller_pk_column_no_collision(spark):
    """A fact table that itself has a '_pk' column must not break or
    miscount: pre-fix this raised AMBIGUOUS_REFERENCE."""
    fact = spark.createDataFrame(
        [(1, 99), (2, 98), (5, 97)], "fk int, _pk int"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    row = api.fk_check(fact, "fk", dim, "pk").collect()[0]
    assert row["n_checked"] == 3
    assert row["n_violations"] == 1  # fk=5 dangles; the 97/98/99 don't


def test_aging_buckets_caller_maxd_column_no_collision(spark):
    d = datetime.date
    df = spark.createDataFrame(
        [("a", d(2024, 1, 1), 10.0, d(1999, 1, 1)),
         ("a", d(2024, 3, 1), 20.0, d(1999, 1, 1))],
        "k string, day date, v double, maxd date",
    )
    rows = {r["age_bucket"]: r for r in
            api.aging_buckets(df, ["k"], "day", "v").collect()}
    # anchor is max(day)=2024-03-01, NOT the caller's bogus maxd column
    assert rows["0-30"]["n_rows"] == 1
    assert rows["31-90"]["n_rows"] == 1


def test_churn_caller_anchor_column_no_collision(spark):
    d = datetime.date
    df = spark.createDataFrame(
        [(1, d(2024, 1, 1), d(1999, 1, 1)),
         (2, d(2024, 6, 1), d(1999, 1, 1))],
        "id int, day date, _anchor date",
    )
    row = api.churn(df, "id", "day", churn_days=90).collect()[0]
    assert row["n_entities"] == 2
    assert row["n_churned"] == 1  # id=1 is >90d before max(day)


def test_feature_scale_caller_model_column_no_collision(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 42), ("a", 2.0, 42), ("a", 3.0, 42)],
        "k string, v double, _sx int",
    )
    rows = sorted(
        api.feature_scale(df, "v", by=["k"]).collect(), key=lambda r: r.v
    )
    assert [r["mm"] for r in rows] == [0.0, 0.5, 1.0]
    assert rows[1]["z"] == 0.0
    assert all(r["_sx"] == 42 for r in rows)  # caller column untouched


def test_calendar_gaps_timestamp_column_normalizes(spark):
    """Intra-day timestamps must count into their day instead of
    missing the (date-typed) spine entirely."""
    dt = datetime.datetime
    df = spark.createDataFrame(
        [(dt(2024, 1, 1, 9, 30),), (dt(2024, 1, 1, 17, 0),),
         (dt(2024, 1, 3, 12, 0),)],
        "ts timestamp",
    )
    row = api.calendar_gaps(df, "ts").collect()[0]
    assert row["days_total"] == 3
    assert row["days_missing"] == 1  # Jan 2 has no rows
    assert row["n_rows"] == 3  # pre-fix: 0 (spine never matched)


def test_khop_zero_reach_seed_kept(spark):
    """A seed whose only destination is shared with NO other source
    must appear with n_src_2hop = 0 instead of vanishing."""
    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "lonely")],
        "src string, dst string",
    )
    rows = {r["node"]: r for r in
            api.khop(edges, "src", "dst", n_seeds=3).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["c"]["n_src_2hop"] == 0
    assert rows["a"]["n_src_2hop"] == 1 and rows["b"]["n_src_2hop"] == 1
