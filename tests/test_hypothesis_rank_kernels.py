"""Hypothesis property tests for the round-7 rank/ECDF integer
arithmetic (stat_mannwhitney / stat_ks_2samp / source_length_ks /
agg_percentile_disc / the entropy quantizer).

Each test proves the pure-python twin of the Spark-side integer formula
against a brute-force definition over GENERATED inputs — the same
methodology test_hypothesis_determinism.py uses for the fixed-point sum
kernel.  The claims:

 1. 2·R1 = Σ c1·(2·cum − t + 1) equals twice the textbook average-rank
    sum, for any tie structure (so U is exact without float ranks).
 2. max|c1·n2 − c2·n1| over the combined value spine equals
    n1·n2·sup|ECDF1 − ECDF2|.  Dropping the weight rows at values one
    sample lacks (the source_length_ks bug) yields a DIFFERENT cumsum —
    wrong in either direction — while merely evaluating the TRUE cumsum
    at fewer points can only understate; the regression property pins
    the distinction.
 3. the ceil(p·n) integer rank rule picks exactly sorted[ceil(p·n)-1].
 4. DECIMAL(38,12) quantization of c·ln(c) terms perturbs entropy by
    < 1e-6 bits for corpus-scale counts, and is order/partition free by
    construction (integer micro-units).
"""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import given, settings, strategies as st

vals = st.integers(min_value=0, max_value=30)  # heavy ties on purpose


def _rank_sum_twice_kernel(a: list[int], b: list[int]) -> int:
    """Spark-side integer formula: Σ over distinct v of c1·(2·cum−t+1)."""
    c1, c2 = Counter(a), Counter(b)
    total = 0
    cum = 0
    for v in sorted(set(a) | set(b)):
        t = c1[v] + c2[v]
        cum += t
        total += c1[v] * (2 * cum - t + 1)
    return total


@given(st.lists(vals, min_size=1, max_size=60),
       st.lists(vals, min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_mannwhitney_integer_rank_sum(a, b):
    combined = sorted(a + b)
    # textbook average ranks
    rank_of = {}
    i = 0
    for v, cnt in sorted(Counter(combined).items()):
        rank_of[v] = (2 * i + cnt + 1) / 2  # avg of ranks i+1..i+cnt
        i += cnt
    r1 = sum(rank_of[v] for v in a)
    assert _rank_sum_twice_kernel(a, b) == int(2 * r1)


def _ks_numerator(a: list[int], b: list[int], spine) -> int:
    c1, c2 = Counter(a), Counter(b)
    n1, n2 = len(a), len(b)
    best = 0
    cum = 0
    for v in sorted(spine):
        cum += c1[v] * n2 - c2[v] * n1
        best = max(best, abs(cum))
    return best


@given(st.lists(vals, min_size=1, max_size=60),
       st.lists(vals, min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_ks_integer_weights_equal_sup_ecdf(a, b):
    n1, n2 = len(a), len(b)
    sa, sb = sorted(a), sorted(b)
    grid = sorted(set(a) | set(b))

    def ecdf(s, v):
        lo, hi = 0, len(s)
        while lo < hi:
            mid = (lo + hi) // 2
            if s[mid] <= v:
                lo = mid + 1
            else:
                hi = mid
        return lo

    sup = max(abs(ecdf(sa, v) * n2 - ecdf(sb, v) * n1) for v in grid)
    assert _ks_numerator(a, b, grid) == sup


@given(st.lists(vals, min_size=1, max_size=60),
       st.lists(vals, min_size=1, max_size=60))
@settings(max_examples=100, deadline=None)
def test_ks_spine_semantics(a, b):
    """Two distinct failure modes around the value spine:
    (1) evaluating the TRUE cumsum (all weights) at only a's values can
        only UNDERSTATE the sup — a subset of evaluation points;
    (2) DROPPING the weight rows at b-only values (the source_length_ks
        bug) is a different function entirely and is not bounded either
        way — so the regression guard must be full-spine equality, not
        an inequality."""
    c1, c2 = Counter(a), Counter(b)
    n1, n2 = len(a), len(b)
    grid = sorted(set(a) | set(b))
    full = _ks_numerator(a, b, grid)
    # (1) true cumsum, subset evaluation
    cum, best_at_a = 0, 0
    for v in grid:
        cum += c1[v] * n2 - c2[v] * n1
        if v in c1:
            best_at_a = max(best_at_a, abs(cum))
    assert best_at_a <= full
    # (2) buggy skipped-weights cumsum reproduces the full answer ONLY
    #     when no b-only values exist
    buggy = _ks_numerator(a, b, set(a))
    if set(b) <= set(a):
        assert buggy == full


@given(st.lists(st.integers(0, 1000), min_size=1, max_size=200),
       st.integers(1, 99))
@settings(max_examples=200, deadline=None)
def test_percentile_disc_rank_rule(xs, pct):
    """value at min cum >= ceil(p*n) == sorted[ceil(p*n)-1]."""
    n = len(xs)
    rank = -(-pct * n // 100)  # ceil(pct/100 * n) in integers
    ordered = sorted(xs)
    want = ordered[rank - 1]
    # kernel: min value whose inclusive distinct-value cum count >= rank
    cum = 0
    got = None
    for v, cnt in sorted(Counter(xs).items()):
        cum += cnt
        if cum >= rank:
            got = v
            break
    assert got == want


@given(st.lists(st.integers(1, 10_000), min_size=1, max_size=100))
@settings(max_examples=200, deadline=None)
def test_entropy_quantizer_error_bound(counts):
    """DECIMAL(38,12)-quantized c·ln(c) terms perturb H by < 1e-6 bits
    at corpus scale, and quantized terms sum order-free (integers)."""
    n = sum(counts)
    exact = (math.log(n) - sum(c * math.log(c) for c in counts) / n) / math.log(2)
    q = [round(c * math.log(c) * 10**12) for c in counts]  # DEC(38,12)
    approx = (math.log(n) - (sum(q) / 10**12) / n) / math.log(2)
    assert abs(exact - approx) < 1e-6
    assert sum(q) == sum(reversed(q))  # trivially order-free: integers
