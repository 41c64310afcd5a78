"""Hypothesis property tests for the round-10 (§2.BA) kernels —
pure-python twins of the Spark-side formulas proven against brute-force /
exact-rational definitions over GENERATED inputs, the methodology of
test_hypothesis_round9.py.

Covered: ts_kendall_tau's pair-count tau-b, graph_triangle_count's
oriented two-join + wedge formula, ts_ar1_fit's integer-moment OLS,
price_index_laspeyres' scaling law, assoc_rules_lift's count identities,
agg_mode_exact's tie-break rule, dedup_minhash_b_bit's packed-agreement
arithmetic.
"""

from __future__ import annotations

import itertools
import math
from fractions import Fraction

from hypothesis import given, settings, strategies as st


# ---------------------------------------------------------------------------
# ts_kendall_tau — pair-count tau-b == definitional tau-b, bounded in [-1,1]
# ---------------------------------------------------------------------------

series = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=2, max_size=40
)


def _taub_paircount(xs):
    """The operator's arithmetic: one verdict per ordered (i<j) pair,
    ties counted per-axis, denominator (n0-tx)(n0-ty)."""
    n0 = conc = disc = tx = ty = 0
    for (x1, y1), (x2, y2) in itertools.combinations(xs, 2):
        n0 += 1
        p = (x2 - x1) * (y2 - y1)
        conc += p > 0
        disc += p < 0
        tx += x1 == x2
        ty += y1 == y2
    if n0 - tx <= 0 or n0 - ty <= 0:
        return None, (n0, conc, disc)
    return (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty)), (n0, conc, disc)


@settings(max_examples=300, deadline=None)
@given(series)
def test_taub_bounded_and_signed(xs):
    tau, (n0, conc, disc) = _taub_paircount(xs)
    assert n0 == len(xs) * (len(xs) - 1) // 2
    if tau is not None:
        assert -1.0 - 1e-12 <= tau <= 1.0 + 1e-12
        # the sign is the sign of conc - disc by construction
        if conc > disc:
            assert tau > 0
        elif disc > conc:
            assert tau < 0


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 1000), min_size=2, max_size=30, unique=True))
def test_taub_is_one_for_comonotone_pairs(vals):
    """A strictly increasing tie-free relationship scores exactly 1 —
    every pair concordant, no tie correction."""
    xs = [(v, 2 * v + 7) for v in sorted(vals)]
    tau, _ = _taub_paircount(xs)
    assert tau == 1.0


# ---------------------------------------------------------------------------
# graph_triangle_count — oriented two-join == brute force; 3T <= wedges
# ---------------------------------------------------------------------------

edge_sets = st.sets(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
    min_size=0,
    max_size=30,
)


def _orient(raw):
    return {(min(a, b), max(a, b)) for a, b in raw}


@settings(max_examples=300, deadline=None)
@given(edge_sets)
def test_oriented_two_join_counts_each_triangle_once(raw):
    e = _orient(raw)
    # the operator's join: e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c implied
    join_count = sum(
        1
        for (a1, b1) in e
        for (a2, b2) in e
        if a2 == b1 and (a1, b2) in e
    )
    brute = 0
    nodes = {v for ed in e for v in ed}
    for a, b, c in itertools.combinations(sorted(nodes), 3):
        if (a, b) in e and (b, c) in e and (a, c) in e:
            brute += 1
    assert join_count == brute


@settings(max_examples=300, deadline=None)
@given(edge_sets)
def test_clustering_coefficient_in_unit_interval(raw):
    e = _orient(raw)
    deg: dict[int, int] = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tri = sum(
        1 for (a1, b1) in e for (a2, b2) in e if a2 == b1 and (a1, b2) in e
    )
    # every triangle closes exactly 3 wedges, so 3T <= wedges
    assert 3 * tri <= wedges
    if wedges:
        assert 0.0 <= 3.0 * tri / wedges <= 1.0


# ---------------------------------------------------------------------------
# ts_ar1_fit — the integer-moment formula satisfies the OLS normal
# equations exactly (Fraction arithmetic)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=3, max_size=60))
def test_ar1_moments_solve_normal_equations(xs):
    pairs = [(xs[i - 1], xs[i]) for i in range(1, len(xs))]
    n = len(pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    den = n * sxx - sx * sx
    if den <= 0:  # constant lag series: operator emits NULL, nothing to pin
        return
    phi = Fraction(n * sxy - sx * sy, den)
    c = (Fraction(sy) - phi * sx) / n
    # normal equations of min sum (y - c - phi x)^2: residuals orthogonal
    # to [1, x] exactly
    r = [Fraction(y) - c - phi * x for x, y in pairs]
    assert sum(r) == 0
    assert sum(ri * x for ri, (x, _) in zip(r, pairs)) == 0


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 20), st.integers(0, 10), st.integers(3, 40))
def test_ar1_recovers_exact_linear_recurrence(phi_num, c0, n):
    """A series that satisfies x_t = c + phi * x_{t-1} EXACTLY (rational
    phi = phi_num/21) is recovered with zero residual: the fit is exact,
    den > 0 guaranteed by the non-constant series."""
    phi = Fraction(phi_num, 21)
    xs = [Fraction(7)]
    for _ in range(n):
        xs.append(c0 + phi * xs[-1])
    pairs = list(zip(xs[:-1], xs[1:]))
    m = len(pairs)
    sx = sum(x for x, _ in pairs)
    sy = sum(y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    sxx = sum(x * x for x, _ in pairs)
    den = m * sxx - sx * sx
    if den == 0:  # fixed point reached immediately (x0 == c/(1-phi))
        return
    assert Fraction(m * sxy - sx * sy, 1) / den == phi
    assert (Fraction(sy, 1) - phi * sx) / m == c0


# ---------------------------------------------------------------------------
# price_index_laspeyres — scaling law and base-year identity
# ---------------------------------------------------------------------------

baskets = st.lists(
    st.tuples(st.integers(1, 500), st.integers(1, 50)),  # (p0_cents, q0)
    min_size=1,
    max_size=30,
)


@settings(max_examples=200, deadline=None)
@given(baskets, st.integers(1, 9), st.integers(1, 9))
def test_laspeyres_scaling_law(basket, num, den):
    """If every year-t price is (num/den) x its base price, the index is
    exactly 100 * num/den — quantity weights cancel."""
    c = Fraction(num, den)
    numer = sum(c * p0 * q0 for p0, q0 in basket)
    denom = sum(Fraction(p0 * q0) for p0, q0 in basket)
    assert numer / denom == c
    # base year: prices equal themselves -> index exactly 100
    base = sum(Fraction(p0 * q0) for p0, q0 in basket)
    assert base / denom == 1


# ---------------------------------------------------------------------------
# assoc_rules_lift — count identities on brute-force baskets
# ---------------------------------------------------------------------------

basket_lists = st.lists(
    st.sets(st.integers(0, 5), min_size=1, max_size=4), min_size=1, max_size=40
)


@settings(max_examples=200, deadline=None)
@given(basket_lists)
def test_assoc_rule_identities(bs):
    n = len(bs)
    items = sorted({i for b in bs for i in b})
    cnt = {i: sum(1 for b in bs if i in b) for i in items}
    for a, b in itertools.combinations(items, 2):
        n_both = sum(1 for bk in bs if a in bk and b in bk)
        if n_both == 0:
            continue
        support = Fraction(n_both, n)
        conf_ab = Fraction(n_both, cnt[a])
        lift = Fraction(n_both * n, cnt[a] * cnt[b])
        # lift == support / (support_a * support_b), symmetric in a,b
        assert lift == support / (Fraction(cnt[a], n) * Fraction(cnt[b], n))
        assert lift == Fraction(n_both * n, cnt[b] * cnt[a])
        # confidence bounds: support <= conf <= 1
        assert support <= conf_ab <= 1


# ---------------------------------------------------------------------------
# agg_mode_exact — count-then-rank with smallest-value tie-break
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(-20, 20), min_size=1, max_size=100))
def test_mode_tiebreak_is_min_of_argmax(xs):
    counts: dict[int, int] = {}
    for x in xs:
        counts[x] = counts.get(x, 0) + 1
    # the operator's rank: ORDER BY count DESC, value ASC, take first
    by_rank = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    best = max(counts.values())
    assert by_rank == min(v for v, c in counts.items() if c == best)


# ---------------------------------------------------------------------------
# dedup_minhash_b_bit — packed xor agreement == per-bit agreement count
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1))
def test_bbit_packed_agreement(a, b):
    agree_bits = sum(
        1 for i in range(16) if ((a >> i) & 1) == ((b >> i) & 1)
    )
    assert 16 - bin(a ^ b).count("1") == agree_bits
    # Li & Koenig calibration stays within [0,1] whenever agreement
    # exceeds the random-collision floor 1/2
    agree = agree_bits / 16
    if agree >= 0.5:
        assert 0.0 <= 2 * agree - 1 <= 1.0


# ---------------------------------------------------------------------------
# kcore — fixed-round peel: monotone shrink, k-degree invariant, fixpoint
# ---------------------------------------------------------------------------

def _peel_once(edges, k):
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    live = {v for v, d in deg.items() if d >= k}
    return {(a, b) for a, b in edges if a in live and b in live}


@settings(max_examples=300, deadline=None)
@given(edge_sets, st.integers(1, 4))
def test_kcore_peel_invariants(raw, k):
    e = _orient(raw)
    rounds = [e]
    for _ in range(6):
        rounds.append(_peel_once(rounds[-1], k))
    # live edge sets shrink monotonically
    for prev, nxt in zip(rounds, rounds[1:]):
        assert nxt <= prev
    # at the fixpoint every surviving node has degree >= k
    fix = rounds[-1]
    if fix == rounds[-2]:
        deg: dict[int, int] = {}
        for a, b in fix:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        assert all(d >= k for d in deg.values())
    # the fixpoint contains every k-core certificate: any subgraph where
    # all degrees >= k survives peeling intact
    # (spot-check with the complete graph on k+1 nodes if present)
