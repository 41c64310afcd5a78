"""Semantics checks for the golden-certified XBRL analytics layer
(xbrl_analytics.py).  The DuckDB VALUES oracle already pins every value
against generator ground truth; these tests assert the SEMANTIC
properties the goldens encode, so a future fixture regeneration cannot
silently weaken what is being certified."""

from __future__ import annotations

import pytest

from conftest import SF_DIR

from secdb_spark.operators.xbrl_analytics import _GEN, GEN_CIKS
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_trend_supersedence_bump(q):
    """The amended quarter's revenue must include AMEND_DELTA (the
    10-Q/A wins), and the growth series must reflect the bumped value —
    i.e. supersedence ran BEFORE the window, not after."""
    t = q("xbrl_q_trend")
    qi = _GEN.AMENDED_QUARTER
    qe = _GEN.QUARTERS[qi][1]
    for ci in range(_GEN.N_COMPANIES):
        row = t[(t.cik == _GEN.cik(ci)) & (t.period_end == qe)].iloc[0]
        unamended = _GEN.value(ci, qi, "us-gaap:Revenues", None, False)
        assert row.revenue == unamended + _GEN.AMEND_DELTA
    # every company has exactly one NULL-growth row (its first quarter)
    assert int(t.qoq_growth_bp.isna().sum()) == _GEN.N_COMPANIES


def test_ratios_cover_every_filing_once(q):
    r = q("xbrl_q_ratios")
    assert len(r) == _GEN.N_COMPANIES * len(_GEN.QUARTERS)
    assert set(r.cik) == set(GEN_CIKS)
    assert not r.leverage_bp.isna().any()
    assert not r.net_margin_bp.isna().any()
    # spot-recompute from generator ground truth (independent of the
    # oracle text rendering)
    import math

    for ci in (0, 7, _GEN.N_COMPANIES - 1):
        for qi in range(len(_GEN.QUARTERS)):
            amended = qi == _GEN.AMENDED_QUARTER
            liab = _GEN.value(ci, qi, "us-gaap:Liabilities", None, amended)
            assets = _GEN.value(ci, qi, "us-gaap:Assets", None, amended)
            ni = _GEN.value(ci, qi, "us-gaap:NetIncomeLoss", None, amended)
            rev = _GEN.value(ci, qi, "us-gaap:Revenues", None, amended)
            row = r[
                (r.cik == _GEN.cik(ci))
                & (r.period_end == _GEN.QUARTERS[qi][1])
            ].iloc[0]
            assert row.leverage_bp == math.floor(liab * 10000 / assets + 0.5)
            assert row.net_margin_bp == math.floor(ni * 10000 / rev + 0.5)


def test_restatement_exactly_the_amended_concepts(q):
    r = q("xbrl_q_restatement")
    assert set(r.concept) == _GEN.AMENDED_CONCEPTS
    assert (r.delta == _GEN.AMEND_DELTA).all()
    assert set(r.period_end) == {_GEN.QUARTERS[_GEN.AMENDED_QUARTER][1]}
    assert len(r) == _GEN.N_COMPANIES * len(_GEN.AMENDED_CONCEPTS)


def test_region_mix_excludes_two_dim_context(q):
    """The AMER×ONLINE two-dimension context must NOT leak into the
    regional mix (its revenue is region revenue // 10 — inclusion would
    corrupt AMER's share), and shares sum to ~10000 bp per filing."""
    m = q("xbrl_region_mix")
    assert set(m.region) == set(_GEN.REGIONS)
    per_filing = m.groupby(["cik", "period_end"])
    assert (per_filing.size() == len(_GEN.REGIONS)).all()
    for _, grp in per_filing:
        assert abs(grp.share_bp.sum() - 10000) <= 2  # bp rounding slack
    # AMER revenue equals the single-dimension context value exactly
    for ci in (0, _GEN.N_COMPANIES - 1):
        for qi in (0, _GEN.AMENDED_QUARTER):
            amended = qi == _GEN.AMENDED_QUARTER
            expect = _GEN.value(ci, qi, "us-gaap:Revenues", "AMER", amended)
            row = m[
                (m.cik == _GEN.cik(ci))
                & (m.period_end == _GEN.QUARTERS[qi][1])
                & (m.region == "AMER")
            ].iloc[0]
            assert row.revenue == expect


def test_peer_rank_is_permutation_and_share_sums(q):
    """Each quarter ranks all companies exactly once; shares sum to
    ~10000 bp; rank 1 holds the quarter's max revenue."""
    r = q("xbrl_peer_rank")
    for qe, g in r.groupby("period_end"):
        assert sorted(g.peer_rank) == list(
            range(1, _GEN.N_COMPANIES + 1)
        )
        assert abs(g.share_bp.sum() - 10000) <= _GEN.N_COMPANIES  # rounding
        top = g[g.peer_rank == 1].iloc[0]
        assert top.revenue == g.revenue.max()


def test_half_growth_amendment_lands_in_h1(q):
    """H1 must include the Q2 amendment delta (supersedence before
    aggregation)."""
    r = q("xbrl_half_growth").set_index("cik")
    for ci in range(_GEN.N_COMPANIES):
        h1_unamended = sum(
            _GEN.value(ci, qi, "us-gaap:Revenues", None, False)
            for qi in (0, 1)
        )
        row = r.loc[_GEN.cik(ci)]
        assert row.rev_h1 == h1_unamended + _GEN.AMEND_DELTA
        assert row.rev_h2 == sum(
            _GEN.value(ci, qi, "us-gaap:Revenues", None, qi == _GEN.AMENDED_QUARTER)
            for qi in (2, 3)
        )


def test_region_hhi_bounds(q):
    """HHI over 3 regions lies in [10000/3, 10000] bp and every filing
    appears exactly once."""
    r = q("xbrl_region_hhi")
    assert len(r) == _GEN.N_COMPANIES * len(_GEN.QUARTERS)
    assert (r.hhi_bp >= 10000 // 3).all()
    assert (r.hhi_bp <= 10000).all()
