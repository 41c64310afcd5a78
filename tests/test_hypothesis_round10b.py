"""Hypothesis property tests for the round-10 API-batch kernels —
pure-python twins of the Spark-side formulas proven against brute-force
/ exact-rational definitions over GENERATED inputs (the methodology of
test_hypothesis_round9/round10).

Covered: weighted_median's RANGE-peer crossing rule, cusum's integer
argmax identity, streaks' island-key arithmetic, skew_kurt's power-sum
central moments, kaplan_meier's risk-set recurrence, drawdown's
running-peak formula, xyz_classify's rational-threshold boundaries.
"""

from __future__ import annotations

import math
from fractions import Fraction

from hypothesis import given, settings, strategies as st


# ---------------------------------------------------------------------------
# weighted_median — crossing rule == brute-force lower weighted median
# ---------------------------------------------------------------------------

wm_inputs = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(1, 20)),
    min_size=1, max_size=60,
)


def _wm_kernel(pairs):
    """The kernel's arithmetic: peer weights pool per distinct value
    (RANGE semantics by construction), smallest v with 2*cumw >= totw."""
    agg = {}
    for v, w in pairs:
        agg[v] = agg.get(v, 0) + w
    tot = sum(agg.values())
    cum = 0
    for v in sorted(agg):
        cum += agg[v]
        if 2 * cum >= tot:
            return v
    raise AssertionError("crossing must exist")


def _wm_brute(pairs):
    """Definitional lower weighted median: expand weights to a multiset,
    take the element at the ceil(n/2) position."""
    expanded = sorted(v for v, w in pairs for _ in range(w))
    n = len(expanded)
    return expanded[(n + 1) // 2 - 1]


@settings(max_examples=300, deadline=None)
@given(wm_inputs)
def test_weighted_median_crossing_equals_bruteforce(pairs):
    assert _wm_kernel(pairs) == _wm_brute(pairs)


# ---------------------------------------------------------------------------
# cusum — integer argmax identity: |n*cum_t - t*total| / n == |cum_t - t*mean|
# ---------------------------------------------------------------------------

series = st.lists(st.integers(0, 100), min_size=2, max_size=50)


@settings(max_examples=300, deadline=None)
@given(series)
def test_cusum_integer_argmax_equals_float_deviation_peak(xs):
    n, total = len(xs), sum(xs)
    mean = Fraction(total, n)
    cum = 0
    best_int, best_at = -1, None
    frac_best, frac_at = Fraction(-1), None
    for t, x in enumerate(xs, start=1):
        cum += x
        ex = abs(n * cum - t * total)          # the kernel's integer scan
        dev = abs(Fraction(cum) - t * mean)    # the definitional deviation
        if ex > best_int:
            best_int, best_at = ex, t
        if dev > frac_best:
            frac_best, frac_at = dev, t
    assert best_at == frac_at                   # same argmax
    assert Fraction(best_int, n) == frac_best   # peak_dev identity


# ---------------------------------------------------------------------------
# streaks — island key (d - rownum) == brute-force longest consecutive run
# ---------------------------------------------------------------------------

days = st.sets(st.integers(0, 80), min_size=1, max_size=50)


@settings(max_examples=300, deadline=None)
@given(days)
def test_streak_island_key_equals_bruteforce(ds):
    ordered = sorted(ds)
    islands = {}
    for rn, d in enumerate(ordered, start=1):
        islands.setdefault(d - rn, 0)
        islands[d - rn] += 1
    got_longest = max(islands.values())
    got_active = sum(islands.values())
    # brute force: scan for the longest run of consecutive integers
    best = cur = 1
    for a, b in zip(ordered, ordered[1:]):
        cur = cur + 1 if b == a + 1 else 1
        best = max(best, cur)
    assert got_longest == best
    assert got_active == len(ds)


# ---------------------------------------------------------------------------
# skew_kurt — power-sum formulas == exact central moments (Fraction)
# ---------------------------------------------------------------------------

sk_series = st.lists(st.integers(-30, 30), min_size=3, max_size=40)


@settings(max_examples=300, deadline=None)
@given(sk_series)
def test_skew_kurt_power_sums_equal_central_moments(xs):
    n = len(xs)
    s1, s2 = sum(xs), sum(x * x for x in xs)
    s3, s4 = sum(x**3 for x in xs), sum(x**4 for x in xs)
    mu = Fraction(s1, n)
    m2 = Fraction(s2, n) - mu * mu
    m3 = Fraction(s3, n) - 3 * mu * Fraction(s2, n) + 2 * mu**3
    m4 = (Fraction(s4, n) - 4 * mu * Fraction(s3, n)
          + 6 * mu * mu * Fraction(s2, n) - 3 * mu**4)
    # definitional central moments
    c2 = sum((Fraction(x) - mu) ** 2 for x in xs) / n
    c3 = sum((Fraction(x) - mu) ** 3 for x in xs) / n
    c4 = sum((Fraction(x) - mu) ** 4 for x in xs) / n
    assert (m2, m3, m4) == (c2, c3, c4)
    if m2 > 0:
        skew = float(m3) / (float(m2) * math.sqrt(float(m2)))
        kurt = float(m4) / float(m2) ** 2 - 3
        assert math.isfinite(skew) and math.isfinite(kurt)
        if all(x == xs[0] for x in xs):
            assert skew == 0


# ---------------------------------------------------------------------------
# kaplan_meier — windowed risk set == definitional count(t_i >= t); curve
# product == exp-sum within ln-quantization error
# ---------------------------------------------------------------------------

subjects = st.lists(
    st.tuples(st.integers(0, 20), st.booleans()), min_size=1, max_size=60
)


@settings(max_examples=300, deadline=None)
@given(subjects)
def test_kaplan_meier_risk_recurrence_and_product(subj):
    times = sorted({t for t, _ in subj})
    leavers = {t: sum(1 for tt, _ in subj if tt == t) for t in times}
    events = {t: sum(1 for tt, e in subj if tt == t and e) for t in times}
    n = len(subj)
    # the kernel's recurrence: n_risk(t) = total - cumulative leavers < t
    cum_before = 0
    surv = 1.0
    lnsum = 0
    for t in times:
        n_risk = n - cum_before
        assert n_risk == sum(1 for tt, _ in subj if tt >= t)  # definitional
        d = events[t]
        if d > 0 and d < n_risk:
            q = 1 - d / n_risk
            surv *= q
            lnsum += math.floor(math.log(q) * 10**9 + 0.5)
            # exp of the quantized ln-sum tracks the true product to ~1e-9/step
            assert abs(math.exp(lnsum / 10**9) - surv) < 1e-6
        cum_before += leavers[t]


# ---------------------------------------------------------------------------
# drawdown — running-peak formula == brute-force max drawdown
# ---------------------------------------------------------------------------

pnl = st.lists(st.integers(-40, 40), min_size=1, max_size=60)


@settings(max_examples=300, deadline=None)
@given(pnl)
def test_drawdown_running_peak_equals_bruteforce(xs):
    equity, peak, max_dd = 0, 0, 0
    first = True
    for x in xs:
        equity += x
        peak = equity if first else max(peak, equity)
        first = False
        max_dd = max(max_dd, peak - equity)
    # brute force over all (i <= j) windows: max(E_i - E_j)
    eq = []
    run = 0
    for x in xs:
        run += x
        eq.append(run)
    brute = max(
        (eq[i] - eq[j] for i in range(len(eq)) for j in range(i, len(eq))),
        default=0,
    )
    assert max_dd == max(brute, 0)


# ---------------------------------------------------------------------------
# xyz_classify — rational thresholds: integer inequality == Fraction cv
# ---------------------------------------------------------------------------

xyz_series = st.lists(st.integers(0, 50), min_size=1, max_size=20)


@settings(max_examples=300, deadline=None)
@given(xyz_series, st.tuples(st.integers(1, 3), st.integers(1, 3)))
def test_xyz_integer_boundary_equals_fraction_cv(qs, t):
    p, q = t
    n, sx = len(qs), sum(qs)
    sxx = sum(x * x for x in qs)
    num = n * sxx - sx * sx
    lhs = q * q * num < p * p * sx * sx  # the kernel's integer inequality
    if sx == 0:
        assert not lhs  # cv undefined at zero mean -> never "below threshold"
        return
    cv2 = Fraction(num, sx * sx)         # cv^2 = var/mean^2 * n/n cancels
    assert lhs == (cv2 < Fraction(p * p, q * q))
