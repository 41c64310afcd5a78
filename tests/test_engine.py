"""Engine facade + CLI — the user surface a reference (SQL-over-SQLite)
user switches to: ad-hoc SQL, table access, operator invocation."""

from __future__ import annotations

import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    from secdb_spark.engine import Engine

    return Engine(SF_DIR, spark=spark)


def test_sql_over_views(eng):
    rows = eng.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1"
    ).collect()
    assert {r.l_returnflag for r in rows} == {"A", "N", "R"}


def test_sql_sees_normalized_events_ts(eng):
    """The registered events view must carry the footer-probed µs
    conversion — a raw-long ts here would silently break every ad-hoc
    time query a user writes."""
    row = eng.sql("SELECT min(ts) AS lo, max(ts) AS hi FROM events").collect()[0]
    assert 2000 <= row.lo.year <= 2100


def test_table_and_ops(eng):
    assert eng.table("nation").count() == 25
    assert "agg_group" in eng.ops() and len(eng.ops()) >= 200
    assert eng.op("agg_group").count() == 6
    assert "SELECT" in (eng.oracle("agg_group") or "")
    # round 6 gave the streaming trio batch-equivalent oracles; ann_ivf
    # stays legitimately R-class (seeded centroids, approximate recall)
    assert "SELECT" in (eng.oracle("stream_watermark") or "")
    assert eng.oracle("ann_ivf") is None
    with pytest.raises(KeyError):
        eng.op("no_such_op")


def test_explain_both_shapes(eng):
    assert "HashAggregate" in eng.explain("agg_group")
    assert "Scan" in eng.explain("SELECT count(*) FROM orders")


def test_cli_sql_and_list(eng, capsys):
    """__main__ path with the module-scoped session already live (the CLI
    builds-or-fetches via getOrCreate, so it reuses this one)."""
    from secdb_spark.__main__ import main

    assert main(["--sf", SF_DIR, "--list"]) == 0
    out = capsys.readouterr().out
    assert "agg_group" in out and "dedup_near" in out

    assert main(["--sf", SF_DIR, "SELECT count(*) AS n FROM region"]) == 0
    assert "5" in capsys.readouterr().out

    assert main(["--sf", SF_DIR, "--op", "yoy_growth", "--json", "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert out.count("{") >= 1 and "revenue" in out


def test_engine_verify_ok_and_rows_only(eng):
    """verify() is the driver gate as a user gesture: a certified
    exact-class op diffs green against its oracle on the same dir; an
    R-class op reports the honest weaker signal."""
    res = eng.verify("agg_group")
    assert res.status == "OK" and res.ok
    assert res.spark_rows == res.oracle_rows == 6

    ro = eng.verify("ann_ivf")
    assert ro.status == "ROWS_ONLY" and ro.ok and ro.oracle_rows is None

    with pytest.raises(KeyError):
        eng.verify("no_such_op")


def test_verify_detects_value_divergence():
    """compare_frames must flag a single-cell value drift (the failure
    the driver's hash gate exists for), not just shape mismatches."""
    import pandas as pd

    from secdb_spark.verify import compare_frames

    a = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    assert compare_frames("t", a, a.copy()).status == "OK"
    b = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5000001]})
    r = compare_frames("t", a, b)
    assert r.status == "FAIL" and "values differ" in r.detail
    c = pd.DataFrame({"k": [1, 2], "w": [1.5, 2.5]})
    assert compare_frames("t", a, c).status == "FAIL"
    d = pd.DataFrame({"k": [1], "v": [1.5]})
    assert compare_frames("t", a, d).status == "FAIL"
    # order-insensitivity: permuted rows are the SAME result
    e = pd.DataFrame({"k": [2, 1], "v": [2.5, 1.5]})
    assert compare_frames("t", a, e).status == "OK"


def test_cli_verify(eng, capsys):
    from secdb_spark.__main__ import main

    assert main(["--sf", SF_DIR, "--verify", "agg_group"]) == 0
    assert "OK" in capsys.readouterr().out
