"""Hypothesis property tests for the round-10 continuation-session
kernels — pure-python twins of the Spark-side formulas proven against
brute-force / exact-rational definitions (the round10b methodology).

Covered: top_share's integer rank threshold, dispersion_index's
moment identity, gap_hist's bit-length bucket, interval merge
(islands) covered-span identity, bounce/session numbering, and the
Wilson interval's containment properties.
"""

from __future__ import annotations

import math
from fractions import Fraction

from hypothesis import given, settings, strategies as st


# ---------------------------------------------------------------------------
# top_share — rk*100 <= n*pct == exact Fraction percentile membership
# ---------------------------------------------------------------------------

values = st.lists(st.integers(0, 1000), min_size=1, max_size=50)


@settings(max_examples=300, deadline=None)
@given(values, st.integers(1, 99))
def test_top_share_integer_threshold_is_exact(vs, pct):
    n = len(vs)
    ranked = sorted(vs, reverse=True)
    top = sum(v for rk, v in enumerate(ranked, 1) if rk * 100 <= n * pct)
    # definitional: the floor(n*pct/100) largest values
    k = (n * pct) // 100
    want = sum(ranked[:k])
    assert top == want


# ---------------------------------------------------------------------------
# dispersion_index — moment form == definitional variance/mean (Fraction)
# ---------------------------------------------------------------------------

counts = st.lists(st.integers(0, 50), min_size=2, max_size=40)


@settings(max_examples=300, deadline=None)
@given(counts)
def test_dispersion_moment_identity(ys):
    n, sy = len(ys), sum(ys)
    if sy == 0:
        return  # zero mean: kernel emits inf/nan, definitional undefined
    syy = sum(y * y for y in ys)
    # kernel: (syy - sy*sy/n) / (n-1) / (sy/n)
    kernel = (Fraction(syy) - Fraction(sy * sy, n)) / (n - 1) / Fraction(sy, n)
    mean = Fraction(sy, n)
    var = sum((Fraction(y) - mean) ** 2 for y in ys) / (n - 1)
    assert kernel == var / mean


# ---------------------------------------------------------------------------
# gap_hist — bit-length bucket == floor(log2)+1 for positive gaps
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.integers(-10, 10**12))
def test_gap_bucket_bit_length(gap):
    bucket = 0 if gap <= 0 else len(bin(gap)) - 2  # length(bin(x))
    if gap > 0:
        assert bucket == math.floor(math.log2(gap)) + 1
    else:
        assert bucket == 0


# ---------------------------------------------------------------------------
# interval islands — flag+cumsum numbering == brute-force merged spans
# ---------------------------------------------------------------------------

intervals = st.lists(
    st.tuples(st.integers(0, 200), st.integers(0, 50)),
    min_size=1, max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(intervals)
def test_island_numbering_equals_merged_spans(iv):
    spans = sorted((s, s + ln) for s, ln in iv)
    # the kernel's arithmetic: running max(e) over sorted, flag s > prev_max
    islands, prev_max = [], None
    for s, e in spans:
        if prev_max is None or s > prev_max:
            islands.append([s, e])
        else:
            islands[-1][1] = max(islands[-1][1], e)
        prev_max = e if prev_max is None else max(prev_max, e)
    # brute force union into maximal disjoint spans
    brute = []
    for s, e in spans:
        if brute and s <= brute[-1][1]:
            brute[-1][1] = max(brute[-1][1], e)
        else:
            brute.append([s, e])
    assert islands == brute
    covered = sum(e - s for s, e in islands)
    longest = max(e - s for s, e in islands)
    assert covered <= (max(e for _, e in spans) - min(s for s, _ in spans))
    assert longest <= covered


# ---------------------------------------------------------------------------
# session numbering (reset_cumsum / bounce_rate) — flag cumsum == brute force
# ---------------------------------------------------------------------------

times = st.lists(st.integers(0, 10**6), min_size=1, max_size=50)


@settings(max_examples=300, deadline=None)
@given(times, st.integers(1, 10**5))
def test_session_flag_cumsum_equals_bruteforce(ts, gap):
    ordered = sorted(ts)
    # kernel: new-session flag when gap opens, running sum numbers sessions
    sid, sids = 0, []
    prev = None
    for t in ordered:
        if prev is None or t - prev > gap:
            sid += 1
        sids.append(sid)
        prev = t
    # brute force: split wherever consecutive gap > threshold
    n_sessions = 1 + sum(
        1 for a, b in zip(ordered, ordered[1:]) if b - a > gap
    )
    assert sids[-1] == n_sessions
    assert sids == sorted(sids)  # monotone


# ---------------------------------------------------------------------------
# Wilson interval (rate_ci) — containment and degeneracy properties
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.integers(1, 10**6), st.data())
def test_wilson_interval_properties(n, data):
    k = data.draw(st.integers(0, n))
    z = 1.96
    p = k / n
    z2 = z * z
    half = p * (1 - p) / n + z2 / (4 * n * n)
    centre = p + z2 / (2 * n)
    denom = 1 + z2 / n
    lo = (centre - z * math.sqrt(half)) / denom
    hi = (centre + z * math.sqrt(half)) / denom
    assert -1e-12 <= lo <= p + 1e-12
    assert p - 1e-12 <= hi <= 1 + 1e-12
    assert hi - lo > 0  # never zero-width, even at p in {0, 1}
