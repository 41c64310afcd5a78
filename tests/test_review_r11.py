"""Regression tests for the round-11 close-out review findings: the
cases the certified fixtures never exercise but the generic API must
survive (negative-peak drawdowns, NULL-key/zero-weight samples, directed
BFS seed selection, fractional masses, and the widened percentile
threshold compare).
"""

from __future__ import annotations

from secdb_spark import api


def test_drawdown_negative_series_guarded(spark):
    """A P&L series that is negative throughout must not report a
    sign-flipped or zero depth: depth is undefined (null) against a
    non-positive peak, while the DURATION still counts."""
    rows = [("a", i, v) for i, v in enumerate([-100, -200, -150, -300])]
    df = spark.createDataFrame(rows, "g string, t int, v long")
    r = api.drawdown_duration(df, ["g"], "t", "v").collect()[0]
    assert r["max_dd_days"] == 3  # below the -100 peak from t=1 on
    assert r["max_dd_depth"] is None  # no % meaning vs a negative peak


def test_drawdown_zero_start_no_divide_by_zero(spark):
    rows = [("a", 0, 0), ("a", 1, 5), ("a", 2, 3)]
    df = spark.createDataFrame(rows, "g string, t int, v long")
    r = api.drawdown_duration(df, ["g"], "t", "v").collect()[0]
    assert r["max_dd_days"] == 1
    assert r["max_dd_depth"] == 0.4  # (5-3)/5; the 0-peak row is guarded


def test_drawdown_caller_peak_column_untouched(spark):
    rows = [("a", 0, 10, 99), ("a", 1, 5, 99)]
    df = spark.createDataFrame(rows, "g string, t int, v long, _peak int")
    r = api.drawdown_duration(df, ["g"], "t", "v").collect()[0]
    assert r["max_dd_depth"] == 0.5  # caller's _peak column can't collide


def test_weighted_sample_ignores_null_keys_and_bad_weights(spark):
    rows = [(None, 10.0), (1, 0.0), (2, -3.0), (3, 5.0), (4, 5.0)]
    df = spark.createDataFrame(rows, "k int, w double")
    got = api.weighted_sample(df, "k", "w", k=10).collect()
    keys = {r["k"] for r in got}
    assert keys == {3, 4}  # null key and non-positive weights excluded
    assert all(r["key_e12"] is not None for r in got)


def test_bfs_layers_directed_seeds_from_all_endpoints(spark):
    """Directed mode: the seed rule is 'n smallest VERTEX ids', so pure
    destinations must be seed candidates too."""
    edges = spark.createDataFrame(
        [(5, 1), (6, 2)], "src long, dst long"
    )
    rows = {r["hop"]: r
            for r in api.bfs_layers(edges, "src", "dst", n_seeds=2,
                                    hops=1, directed=True).collect()}
    # seeds = {1, 2} (smallest ids, both only destinations); they have
    # no OUT-edges, so the 1-hop frontier is empty
    assert rows[0]["frontier_size"] == 2
    assert rows[1]["frontier_size"] == 0
    assert rows[1]["cum_reached"] == 2


def test_largest_remainder_reports_original_mass(spark):
    df = spark.createDataFrame(
        [("a", 2.7), ("b", 2.7)], "g string, m double"
    )
    rows = {r["g"]: r for r in
            api.largest_remainder_alloc(df, "g", "m", 100).collect()}
    assert rows["a"]["m"] == 2.7  # not truncated to 2
    assert rows["a"]["alloc"] + rows["b"]["alloc"] == 100


def test_weighted_percentiles_helper_collision_and_values(spark):
    rows = [("g", 1.0, 1.0, 7), ("g", 2.0, 1.0, 7), ("g", 3.0, 2.0, 7)]
    df = spark.createDataFrame(rows, "k string, v double, w double, _v int")
    r = api.weighted_percentiles(df, ["k"], "v", "w", ps=(50, 100)).collect()[0]
    # weights (cumulative): 1 -> 100, 2 -> 200, 3 -> 400 of tot 400
    assert r["p50_q"] == 200  # first value with cum >= 50% of 400
    assert r["p100_q"] == 300
