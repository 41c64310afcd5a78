"""Brute-force parity for round-9 batch 1 (warehouse_extras36.py +
xbrl_analytics2.py) — every op checked against an independent pure-Python
recompute (math.comb integer-exact for the exact tests, never the DuckDB
oracle path)."""

from __future__ import annotations

import math
import re
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


@pytest.fixture(scope="module")
def events(spark):
    return table(spark, SF_DIR, "events").toPandas()


def _he4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000.0


def _daily_returns_py(events):
    """(type -> [(day, ret)]) with the close = last value per day."""
    ev = events.sort_values(["event_type", "ts", "event_id"])
    out = defaultdict(list)
    for et, grp in ev.groupby("event_type"):
        daily = grp.assign(day=grp.ts.dt.floor("D")).groupby("day").last()
        prev = None
        for day, row in daily.iterrows():
            if prev is not None:
                out[et].append((day, round(row.value / prev - 1, 6)))
            prev = row.value
    return out


def test_ts_sortino_vs_bruteforce(q, events):
    rets = _daily_returns_py(events)
    got = q("ts_sortino").set_index("event_type")
    for et, rs in rets.items():
        vals = [r for _, r in rs]
        n = len(vals)
        mean = sum(vals) / n
        dd = math.sqrt(sum(r * r for r in vals if r < 0) / n)
        row = got.loc[et]
        assert row["n_days"] == n
        assert row["mean_ret_bp"] == pytest.approx(_he4(mean * 10000))
        assert row["sortino_ann"] == pytest.approx(
            _he4(mean / dd * math.sqrt(365)), abs=2e-4
        )


def test_ts_var_cvar_vs_bruteforce(q, events):
    rets = _daily_returns_py(events)
    got = q("ts_var_cvar").set_index("event_type")
    for et, rs in rets.items():
        ordered = sorted(rs, key=lambda p: (p[1], p[0]))
        n = len(ordered)
        k = math.ceil(n * 0.05)
        tail = [r for _, r in ordered[:k]]
        row = got.loc[et]
        assert row["n_days"] == n and row["n_tail"] == k
        assert row["var05_bp"] == pytest.approx(_he4(max(tail) * 10000))
        assert row["cvar05_bp"] == pytest.approx(
            _he4(sum(tail) / k * 10000), abs=2e-4
        )


def _daily_counts_py(events):
    ev = events.assign(day=events.ts.dt.floor("D"))
    return {
        et: grp.groupby("day").size().sort_index()
        for et, grp in ev.groupby("event_type")
    }


def test_ts_ljungbox_vs_bruteforce(q, events):
    got = q("ts_ljungbox").set_index("event_type")
    for et, series in _daily_counts_py(events).items():
        x = series.to_list()
        n = len(x)
        xbar = sum(x) / n
        dev = [v - xbar for v in x]
        c0 = sum(d * d for d in dev)
        qstat = 0.0
        for k in range(1, 6):
            ck = sum(dev[i] * dev[i - k] for i in range(k, n))
            qstat += (ck / c0) ** 2 / (n - k)
        qstat *= n * (n + 2)
        row = got.loc[et]
        assert row["n_days"] == n
        assert row["lb_q5"] == pytest.approx(_he4(qstat), abs=2e-4)


def test_ts_seasonal_strength_vs_bruteforce(q, events):
    got = q("ts_seasonal_strength").set_index("event_type")
    for et, series in _daily_counts_py(events).items():
        days = series.index.to_list()
        x = series.to_list()
        detr = []
        for i in range(len(x)):
            lo, hi = i - 3, i + 3
            if lo < 0 or hi >= len(x):
                continue
            trend = sum(x[lo : hi + 1]) / 7
            detr.append((days[i].weekday(), x[i] - trend))
        seas = {
            wd: sum(d for w, d in detr if w == wd)
            / sum(1 for w, _ in detr if w == wd)
            for wd in {w for w, _ in detr}
        }
        rem = [d - seas[w] for w, d in detr]
        dts = [d for _, d in detr]
        n = len(dts)

        def pvar(v):
            m = sum(v) / n
            return sum((u - m) ** 2 for u in v) / n

        fs = max(0.0, 1.0 - pvar(rem) / pvar(dts))
        row = got.loc[et]
        assert row["n_days"] == n
        assert row["seasonal_strength"] == pytest.approx(_he4(fs), abs=2e-4)


def test_stat_fisher_exact_vs_math_comb(q, spark):
    """Integer-exact independent recompute: the hypergeometric tail via
    math.comb big-int arithmetic — a THIRD path, sharing nothing with
    either engine's floating-point pipeline."""
    s = table(spark, SF_DIR, "supplier").toPandas()
    a = int(((s.s_nationkey < 12) & (s.s_acctbal > 4500)).sum())
    r1 = int((s.s_nationkey < 12).sum())
    c1 = int((s.s_acctbal > 4500).sum())
    n = len(s)
    denom = math.comb(n, r1)
    p = sum(
        math.comb(c1, k) * math.comb(n - c1, r1 - k)
        for k in range(a, min(r1, c1) + 1)
    ) / denom
    row = q("stat_fisher_exact").iloc[0]
    assert (row.a, row.r1, row.c1, row.n) == (a, r1, c1, n)
    assert row.p_one_sided == pytest.approx(_he4(p), abs=2e-4)


def test_stat_binom_test_vs_math_comb(q, spark):
    c = table(spark, SF_DIR, "customer").toPandas()
    got = q("stat_binom_test").set_index("nation")
    for nk, grp in c.groupby("c_nationkey"):
        n = len(grp)
        x = int((grp.c_acctbal > 0).sum())
        p = sum(
            math.comb(n, k) * 0.9**k * 0.1 ** (n - k)
            for k in range(x, n + 1)
        )
        row = got.loc[nk]
        assert row["n"] == n and row["x"] == x
        assert row["p_upper"] == pytest.approx(_he4(p), abs=2e-4)


def test_agg_trimmed_mean_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    ordered = li.sort_values(
        ["l_extendedprice", "l_orderkey", "l_linenumber"]
    ).l_extendedprice.to_list()
    n = len(ordered)
    t = math.floor(n * 0.1)
    kept = ordered[t : n - t]
    row = q("agg_trimmed_mean").iloc[0]
    assert (row.n_rows, row.n_trimmed_each) == (n, t)
    assert row.trimmed_mean == pytest.approx(
        round(sum(kept) / len(kept), 4), abs=2e-4
    )


def test_ivm_delta_join_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    n = table(spark, SF_DIR, "nation").toPandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    got = q("ivm_delta_join").set_index("nation")
    for name, grp in j.groupby("n_name"):
        row = got.loc[name]
        assert row["n_orders"] == len(grp)
        assert row["revenue"] == pytest.approx(
            round(float(grp.o_totalprice.sum()), 4), abs=1e-3
        )


def test_fn_try_arith_null_boundaries(q):
    got = q("fn_try_arith")
    # overflow boundary: 9 * 1e18 fits, 10 * 1e18 is NULL
    ok9 = got[got.l_orderkey == 9]
    if len(ok9):
        assert (ok9.mul_safe == 9_000_000_000_000_000_000).all()
    assert got[got.l_orderkey > 9].mul_safe.isna().all()
    assert got[got.l_orderkey > 7].add_safe.isna().all()
    assert got[got.l_linenumber == 1].mod_safe.isna().all()
    two = got[got.l_linenumber == 2]
    assert (two.mod_safe == two.l_orderkey % 1).all()


def test_fn_collate_lcase_expected_counts(q):
    row = q("fn_collate_lcase").iloc[0]
    # 25 nations, two case variants each; lcase collation merges pairs
    assert row.n_variants == 50
    assert row.n_distinct_binary == 50
    assert row.n_distinct_lcase == 25
    assert row.n_cross_case_pairs == 25


def test_bpe_merge_topk_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    counts = Counter()
    for text in docs.text:
        for w in text.split(" "):
            for i in range(len(w) - 1):
                counts[w[i : i + 2]] += 1
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = q("bpe_merge_topk").sort_values("rn")
    assert list(zip(got.pair, got.n_pair)) == expect


def test_graph_jaccard_neighbors_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    parts = defaultdict(set)
    for r in li.itertuples():
        parts[r.l_suppkey].add(r.l_partkey)
    got = q("graph_jaccard_neighbors").set_index(["s1", "s2"])
    expect = {}
    sups = sorted(parts)
    for i, s1 in enumerate(sups):
        for s2 in sups[i + 1 :]:
            common = len(parts[s1] & parts[s2])
            if common >= 2:
                expect[(s1, s2)] = (
                    common,
                    _he4(common / len(parts[s1] | parts[s2])),
                )
    assert len(got) == len(expect)
    for (s1, s2), (common, jac) in expect.items():
        row = got.loc[(s1, s2)]
        assert row["n_common"] == common
        assert row["jaccard"] == pytest.approx(jac)


def test_text_char_trigram_lm_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    model = Counter()
    per_doc = {}
    for r in docs.itertuples():
        tris = [r.text[i : i + 3] for i in range(len(r.text) - 2)]
        if tris:
            per_doc[r.doc_id] = tris
            model.update(tris)
    total = sum(model.values())
    got = q("text_char_trigram_lm").set_index("doc_id")
    assert len(got) == len(per_doc)
    for doc_id, tris in per_doc.items():
        lp = sum(
            math.floor(math.log(model[t] / total) * 1_000_000 + 0.5)
            for t in tris
        )
        row = got.loc[doc_id]
        assert row["n_trigrams"] == len(tris)
        assert row["avg_logp"] == pytest.approx(
            round(lp / 1_000_000 / len(tris), 4), abs=2e-4
        )


def test_corpus_boilerplate_sentences_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    per = defaultdict(set)  # (source, sentence) -> doc ids
    for r in docs.itertuples():
        for s in re.split(r"\.\s+", r.text):
            s = s.strip()
            if len(s) >= 10:
                per[(r.source, s)].add(r.doc_id)
    by_source = defaultdict(lambda: [0, 0])
    for (src, _s), ids in per.items():
        by_source[src][0] += 1
        if len(ids) >= 5:
            by_source[src][1] += 1
    got = q("corpus_boilerplate_sentences").set_index("source")
    assert len(got) == len(by_source)
    for src, (n_dist, n_boiler) in by_source.items():
        row = got.loc[src]
        assert row["n_distinct_sentences"] == n_dist
        assert row["n_boilerplate"] == n_boiler
        assert row["boilerplate_share"] == pytest.approx(
            _he4(n_boiler / n_dist)
        )


def test_xbrl_dupont_identity_and_gold(q):
    from secdb_spark.operators.xbrl_analytics2 import _dupont_gold

    got = q("xbrl_dupont")
    gold = {
        (cik, pe): (nm, at, lm, roe)
        for cik, pe, nm, at, lm, roe in _dupont_gold()
    }
    assert len(got) == len(gold)
    for r in got.itertuples():
        nm, at, lm, roe = gold[(r.cik, r.period_end)]
        assert (r.net_margin_bp, r.asset_turnover_bp,
                r.leverage_mult_bp, r.roe_bp) == (nm, at, lm, roe)

    # DuPont identity in EXACT rationals (generator integers): ni/equity
    # == (ni/rev)(rev/assets)(assets/equity) — the bp-rounded factors
    # can't be multiplied (error scales with leverage magnitude), so the
    # identity is asserted on the unrounded fractions.
    from fractions import Fraction

    from secdb_spark.operators.xbrl_analytics import _GEN, _QE, _cons_value

    for ci in range(_GEN.N_COMPANIES):
        for qi in range(len(_QE)):
            rev = _cons_value(ci, qi, "us-gaap:Revenues")
            ni = _cons_value(ci, qi, "us-gaap:NetIncomeLoss")
            assets = _cons_value(ci, qi, "us-gaap:Assets")
            eq = assets - _cons_value(ci, qi, "us-gaap:Liabilities")
            assert (
                Fraction(ni, rev) * Fraction(rev, assets)
                * Fraction(assets, eq)
                == Fraction(ni, eq)
            )


def test_xbrl_common_size_gold(q):
    from secdb_spark.operators.xbrl_analytics2 import _common_size_gold

    got = q("xbrl_common_size")
    gold = {
        (cik, pe, c): (b, bp)
        for cik, pe, c, b, bp in _common_size_gold()
    }
    assert len(got) == len(gold)
    for r in got.itertuples():
        b, bp = gold[(r.cik, r.period_end, r.concept)]
        assert (r.base, r.cs_bp) == (b, bp)
        if r.concept == "us-gaap:Revenues":
            assert r.cs_bp == 10000  # revenue over revenue


def test_logfact_refuses_unbounded_n(spark):
    """The lf theta join is O(n^2) pairs — it must refuse sizes where
    that stops being model-sized (and where an exact test is pointless)."""
    import pytest as _pytest

    from secdb_spark.operators.warehouse_extras36 import _logfact

    with _pytest.raises(ValueError):
        _logfact(spark, 100_001)
    assert _logfact(spark, 10).count() == 11
