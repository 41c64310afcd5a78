"""Hypothesis property tests for the round-9 kernels (exact-test
log-factorial pmf, row-exact trimming, VaR/CVaR rank rule, seasonal
strength) — pure-python twins of the Spark-side formulas proven against
integer-exact definitions over GENERATED inputs, the methodology of
test_hypothesis_round7b.py."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st


def _lf(m: int) -> float:
    """The engines' log-factorial: DEC12-quantized ln terms summed
    exactly (order-free) — here the quantization is modeled with
    round(x, 12), which is what CAST(ln(k) AS DECIMAL(38,12)) does."""
    return float(sum(round(math.log(k), 12) for k in range(1, m + 1)))


@settings(max_examples=200, deadline=None)
@given(st.integers(2, 80), st.data())
def test_hypergeom_logpmf_matches_comb(n, data):
    """exp(lf-formula) equals the math.comb exact rational pmf to float
    precision for every cell of every margin layout — the
    stat_fisher_exact tail term."""
    r1 = data.draw(st.integers(1, n - 1))
    c1 = data.draw(st.integers(1, n - 1))
    lo, hi = max(0, r1 + c1 - n), min(r1, c1)
    k = data.draw(st.integers(lo, hi))
    logp = (
        _lf(c1) - _lf(k) - _lf(c1 - k)
        + _lf(n - c1) - _lf(r1 - k) - _lf(n - c1 - r1 + k)
        - (_lf(n) - _lf(r1) - _lf(n - r1))
    )
    exact = (
        math.comb(c1, k) * math.comb(n - c1, r1 - k) / math.comb(n, r1)
    )
    assert math.exp(logp) == pytest_approx(exact)


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 120), st.data())
def test_binom_logpmf_matches_comb(n, data):
    k = data.draw(st.integers(0, n))
    p0 = data.draw(st.sampled_from([0.1, 0.5, 0.9]))
    logp = (
        _lf(n) - _lf(k) - _lf(n - k)
        + k * math.log(p0) + (n - k) * math.log(1 - p0)
    )
    exact = math.comb(n, k) * p0**k * (1 - p0) ** (n - k)
    assert math.exp(logp) == pytest_approx(exact)


def pytest_approx(x, rel=1e-9):
    import pytest

    return pytest.approx(x, rel=rel, abs=1e-300)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=200))
def test_trimmed_mean_rank_rule(xs):
    """The rank-based trim (unique tie-break = list position) keeps
    exactly the sorted middle slice regardless of tie structure —
    agg_trimmed_mean's row-exactness claim."""
    n = len(xs)
    t = math.floor(n * 0.1)
    ordered = sorted(range(n), key=lambda i: (xs[i], i))
    kept_by_rank = sorted(xs[i] for i in ordered[t : n - t])
    kept_by_slice = sorted(xs)[t : n - t]
    assert kept_by_rank == kept_by_slice


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-100, 100), min_size=2, max_size=300))
def test_var_cvar_rank_rule(xs):
    """CVaR over the k = ceil(0.05 n) rank-selected tail equals the mean
    of the k smallest values (tie-break never changes the multiset), and
    CVaR <= VaR."""
    n = len(xs)
    k = math.ceil(n * 0.05)
    ordered = sorted(range(n), key=lambda i: (xs[i], i))
    tail = [xs[i] for i in ordered[:k]]
    assert sorted(tail) == sorted(xs)[:k]
    var = max(tail)
    cvar = sum(tail) / k
    assert cvar <= var


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(1, 40), min_size=7, max_size=7),
    st.integers(14, 40),
)
def test_seasonal_strength_is_one_for_pure_weekly_signal(pattern, ndays):
    """A series that is exactly weekday-periodic has remainder 0 after
    the weekday-mean subtraction, so F_s = 1 (unless the pattern is
    constant, where var(detrended) = 0 and the op's input has no
    seasonal signal at all) — ts_seasonal_strength's defining edge."""
    x = [pattern[i % 7] for i in range(ndays)]
    detr = []
    for i in range(len(x)):
        if i - 3 < 0 or i + 3 >= len(x):
            continue
        trend = sum(x[i - 3 : i + 4]) / 7
        detr.append((i % 7, x[i] - trend))
    # trend of a 7-periodic series is the constant period mean, so the
    # detrended value depends only on the weekday
    seas = {}
    for wd, d in detr:
        seas.setdefault(wd, []).append(d)
    rem = [d - sum(seas[wd]) / len(seas[wd]) for wd, d in detr]
    dts = [d for _, d in detr]
    n = len(dts)
    var_d = sum(d * d for d in dts) / n - (sum(dts) / n) ** 2
    var_r = sum(r * r for r in rem) / n - (sum(rem) / n) ** 2
    if var_d > 1e-12:
        assert max(0.0, 1.0 - var_r / var_d) > 0.999999
    else:
        assert abs(var_r) < 1e-12  # constant pattern: nothing seasonal
