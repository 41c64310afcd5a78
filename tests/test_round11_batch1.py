"""Round-11 batch 1 (SURVEY §2.BB) — semantic invariants beyond the
oracle differential: budget conservation, brute-force nearest-neighbor
equivalence, BFS monotonicity, calc-audit statuses, MI non-negativity of
the total, and drawdown bounds.  The value-level oracle diff runs via
tools/selfcheck.py; these tests pin the properties a hash can't express.
"""

from __future__ import annotations

import pytest

from secdb_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return all_queries()


def test_mix_token_budget_sums_exactly(spark, q):
    from secdb_spark.operators.warehouse_extras38 import MIX_BUDGET

    rows = q["mix_token_budget"](spark, SF).collect()
    assert sum(r["alloc_tokens"] for r in rows) == MIX_BUDGET
    # monotone-ish: a source with more tokens never gets a SMALLER base
    # allocation than one with fewer (largest-remainder can differ by 1)
    by_tok = sorted(rows, key=lambda r: (r["n_tokens"], r["source"]))
    for a, b in zip(by_tok, by_tok[1:]):
        assert b["alloc_tokens"] >= a["alloc_tokens"] - 1


def test_join_nearest_value_matches_bruteforce(spark, q):
    sup = {
        r["s_suppkey"]: r
        for r in spark.read.parquet(f"{SF}/supplier.parquet").collect()
    }
    cus = spark.read.parquet(f"{SF}/customer.parquet").collect()

    def cents(x):
        import math

        return int(math.floor(x * 100 + 0.5))

    got = q["join_nearest_value"](spark, SF).collect()
    assert len(got) == len(
        {s for s in sup if any(c["c_nationkey"] == sup[s]["s_nationkey"]
                               for c in cus)}
    )
    for r in got:
        s = sup[r["s_suppkey"]]
        sv = cents(s["s_acctbal"])
        cands = [
            (abs(sv - cents(c["c_acctbal"])), c["c_custkey"])
            for c in cus
            if c["c_nationkey"] == s["s_nationkey"]
        ]
        best = min(cands)
        assert r["nearest_custkey"] == best[1]
        assert abs(r["diff_cents"]) == best[0]


def test_graph_bfs_layers_monotone(spark, q):
    rows = sorted(q["graph_bfs_layers"](spark, SF).collect(),
                  key=lambda r: r["hop"])
    assert [r["hop"] for r in rows] == [0, 1, 2, 3]
    assert rows[0]["frontier_size"] == rows[0]["cum_reached"]
    for a, b in zip(rows, rows[1:]):
        # reached set only grows, and by exactly the new frontier
        assert b["cum_reached"] == a["cum_reached"] + b["frontier_size"]


def test_xbrl_calc_check_rules_and_statuses(spark, q):
    rows = q["xbrl_calc_check"](spark, SF).collect()
    by_rule = {}
    for r in rows:
        by_rule.setdefault(r["rule_id"], []).append(r)
    assert set(by_rule) == {"assets_eq_liab_plus_equity",
                            "rev_eq_region_sum"}
    # 20 companies x 4 quarters per rule, post-supersedence
    assert all(len(v) == 80 for v in by_rule.values())
    for r in rows:
        assert r["delta"] == r["reported"] - r["computed"]
        assert r["status"] == (
            "CONSISTENT" if r["delta"] == 0 else "INCONSISTENT"
        )
    # the fixture's calc tree is deliberately broken both ways
    assert all(r["status"] == "INCONSISTENT" for r in rows)


def test_corpus_tfidf_topk_shape(spark, q):
    from secdb_spark.operators.warehouse_extras38 import TFIDF_K

    rows = q["corpus_tfidf_topk"](spark, SF).collect()
    assert rows, "no TF-IDF heads at all"
    per_src = {}
    for r in rows:
        assert 1 <= r["rk"] <= TFIDF_K
        assert r["score_q"] > 0 and r["tf"] > 0
        per_src.setdefault(r["source"], []).append(r)
    for rs in per_src.values():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score_q"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_corpus_token_source_mi_total_nonneg(spark, q):
    rows = q["corpus_token_source_mi"](spark, SF).collect()
    assert rows
    # MI of the restricted joint distribution is >= 0 (information
    # inequality); per-term contributions can be negative but the sum
    # cannot (allow quantization slack of 1 micro-nat per term)
    assert sum(r["mi_micro"] for r in rows) >= -len(rows)


def test_ts_drawdown_duration_bounds(spark, q):
    rows = q["ts_drawdown_duration"](spark, SF).collect()
    for r in rows:
        assert 0 <= r["max_dd_days"] < r["n_days"]
        assert r["max_dd_depth"] is None or 0.0 <= r["max_dd_depth"] <= 1.0


def test_ts_ols_forecast_recoverable(spark, q):
    """The forecast must equal a + b*(xmax+7) recomputed from the raw
    daily series in python."""
    import collections
    import math

    rows = {r["event_type"]: r
            for r in q["ts_ols_forecast"](spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    daily = collections.Counter(
        (e["event_type"], e["ts"].date()) for e in ev
    )
    series = collections.defaultdict(dict)
    for (t, d), n in daily.items():
        series[t][d] = n
    for t, sd in series.items():
        d0 = min(sd)
        xs = [(d - d0).days for d in sd]
        ys = [sd[d] for d in sd]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        den = n * sxx - sx * sx
        if den <= 0:
            assert t not in rows
            continue
        slope = float(n * sxy - sx * sy) / float(den)
        a = (float(sy) - slope * float(sx)) / float(n)
        fc = a + slope * (max(xs) + 7)
        got = rows[t]
        assert got["n_days"] == n
        assert got["slope"] == math.floor(slope * 10000 + 0.5) / 10000.0
        assert got["forecast"] == math.floor(fc * 10000 + 0.5) / 10000.0


def test_src_jsonl_corrupt_accounting(spark, q):
    row = q["src_jsonl"](spark, SF).collect()[0]
    assert row["n_corrupt"] == 2
    assert row["n_lines"] == row["n_good"] + row["n_corrupt"]
    assert row["n_good"] > 0 and row["sum_value_cents"] is not None


def test_fn_url_parses_components(spark, q):
    rows = q["fn_url"](spark, SF).collect()
    for r in rows:
        assert r["host"] == f"sup{r['s_suppkey']}.example.com"
        assert r["path"] == f"/catalog/{r['s_suppkey'] % 10}"
        assert r["q_rank"] == r["s_suppkey"] % 7
        assert 0 <= r["q_nation"] <= 24


def test_xbrl_period_unit_check_all_conforming(spark, q):
    rows = q["xbrl_period_unit_check"](spark, SF).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_period_viol"] == 0 and r["n_unit_viol"] == 0
        assert r["n_facts"] > 0
    by_c = {r["concept"]: r for r in rows}
    # Revenues carries consolidated + 3 regional + 1 two-dim fact per filing
    assert by_c["us-gaap:Revenues"]["n_facts"] == 5 * by_c[
        "us-gaap:Assets"
    ]["n_facts"]


def test_agg_weighted_percentile_monotone_and_bounded(spark, q):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    from pyspark.sql import functions as F

    bounds = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.min(F.floor(F.col("l_extendedprice") * 100 + 0.5)).alias("lo"),
            F.max(F.floor(F.col("l_extendedprice") * 100 + 0.5)).alias("hi"),
        )
        .collect()
    }
    for r in q["agg_weighted_percentile"](spark, SF).collect():
        ps = [r["p25_cents"], r["p50_cents"], r["p75_cents"], r["p90_cents"]]
        assert ps == sorted(ps)
        b = bounds[r["l_returnflag"]]
        assert b["lo"] <= ps[0] and ps[-1] <= b["hi"]


def test_sample_weighted_topk_deterministic_and_weighted(spark, q):
    import math

    from secdb_spark.operators.warehouse_extras38 import (
        WSAMPLE_K,
        WSAMPLE_SALT,
        _HEX13,
    )

    a = q["sample_weighted_topk"](spark, SF).collect()
    b = q["sample_weighted_topk"](spark, SF).collect()
    assert [r["o_orderkey"] for r in a] == [r["o_orderkey"] for r in b]
    assert len(a) == WSAMPLE_K
    # recompute one key in python from the same md5 derivation
    import hashlib

    orders = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    top = a[0]
    hn = int(
        hashlib.md5(
            f"{WSAMPLE_SALT}{top['o_orderkey']}".encode()
        ).hexdigest()[:13],
        16,
    )
    key = -math.log((hn + 1) / _HEX13) / orders[top["o_orderkey"]]
    assert top["key_e12"] == math.floor(key * 1_000_000_000_000 + 0.5)


def test_mm_audio_frame_rms_python_twin(spark, q):
    """The binary round-trip must reproduce the pure-arithmetic twin."""
    import math

    from secdb_spark.operators.mm_extras import (
        A_MUL,
        A_STEP,
        AUDIO_FRAME,
        AUDIO_MOD,
        AUDIO_N,
    )

    rows = q["mm_audio_frame_rms"](spark, SF).collect()
    assert rows and len(rows) % (AUDIO_N // AUDIO_FRAME) == 0
    for r in rows[:8]:
        d, fi = r["doc_id"], r["frame_idx"]
        ssq = sum(
            ((d * A_MUL + i * A_STEP) % AUDIO_MOD - 32768) ** 2
            for i in range(fi * AUDIO_FRAME, (fi + 1) * AUDIO_FRAME)
        )
        assert r["ssq"] == ssq
        assert r["rms_q"] == math.floor(
            math.sqrt(ssq / AUDIO_FRAME) * 1000 + 0.5
        )


def test_mm_image_hist_counts_complete(spark, q):
    from secdb_spark.operators.mm_extras import IMG_H, IMG_W

    rows = q["mm_image_hist"](spark, SF).collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], 0)
        per_doc[r["doc_id"]] += r["n_px"]
    assert per_doc and all(n == IMG_W * IMG_H for n in per_doc.values())


def test_sessionize_native_agrees_with_lag_formulation(spark, q):
    """The built-in session_window must equal events_sessionize's
    hand-rolled session count per user (same 30-min gap)."""
    from pyspark.sql import functions as F

    native = (
        q["sessionize_native"](spark, SF)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.sum("n_events").alias("n_events"))
        .collect()
    )
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    import collections

    per_user = collections.defaultdict(list)
    for e in ev:
        per_user[e["user_id"]].append(e["ts"])
    for r in native:
        tss = sorted(per_user[r["user_id"]])
        sessions = 1 + sum(
            1
            for a, b in zip(tss, tss[1:])
            if (b - a).total_seconds() > 1800
        )
        assert r["n_sessions"] == sessions
        assert r["n_events"] == len(tss)
