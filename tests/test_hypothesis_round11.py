"""Hypothesis property tests for the round-11 (§2.BB) kernels —
pure-python twins of the Spark-side formulas proven against brute-force
definitions over GENERATED inputs (the methodology of
test_hypothesis_round10.py).

Covered: mix_token_budget / largest_remainder_alloc's quota bounds and
conservation, join_nearest_value's sweep-equals-bruteforce argument,
graph_bfs_layers' frontier/BFS equivalence, ts_drawdown_duration's
run-length arithmetic, corpus_token_source_mi's non-negativity, and
calc_check's delta algebra.
"""

from __future__ import annotations

import math
from collections import deque

from hypothesis import given, settings, strategies as st


# ---------------------------------------------------------------------------
# largest-remainder allocation: conservation + quota bounds + monotonicity
# ---------------------------------------------------------------------------

masses = st.lists(st.integers(1, 10**9), min_size=1, max_size=30)


def _alloc(ms, budget, temp=0.7):
    """The kernel's arithmetic: e3-quantized pow weights, integer base,
    remainder-ranked top-up (tie: index asc)."""
    pq = [math.floor(math.exp(temp * math.log(m)) * 1000 + 0.5) for m in ms]
    s = sum(pq)
    base = [(budget * p) // s for p in pq]
    rem = [(budget * p) % s for p in pq]
    leftover = budget - sum(base)
    order = sorted(range(len(ms)), key=lambda i: (-rem[i], i))
    out = list(base)
    for i in order[:leftover]:
        out[i] += 1
    return out, pq, s


@settings(max_examples=300, deadline=None)
@given(masses, st.integers(0, 10**7))
def test_largest_remainder_conserves_and_bounds(ms, budget):
    out, pq, s = _alloc(ms, budget)
    assert sum(out) == budget  # exact conservation, the kernel's contract
    for a, p in zip(out, pq):
        quota = budget * p / s
        # each share is its exact quota floored or floored+1
        assert math.floor(quota) <= a <= math.floor(quota) + 1


@settings(max_examples=200, deadline=None)
@given(masses, st.integers(1, 10**6))
def test_largest_remainder_weight_monotone(ms, budget):
    out, pq, _ = _alloc(ms, budget)
    for i in range(len(ms)):
        for j in range(len(ms)):
            if pq[i] > pq[j]:
                # a strictly heavier weight never receives LESS than a
                # lighter one minus the 1-unit remainder granularity
                assert out[i] >= out[j] - 1


# ---------------------------------------------------------------------------
# nearest-value sweep == brute force
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=15),  # probes
    st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(0, 99)),
        min_size=1, max_size=20,
    ),  # build side: (value, key)
)
def test_nearest_sweep_matches_bruteforce(probes, build):
    """The kernel keeps only the floor candidate (max value <= v, min key
    at that value) and the ceil candidate (min value >= v, min key at
    that value), breaking |diff| ties to the lower key.  That must equal
    the brute-force argmin over (|diff|, key)."""
    for v in probes:
        floor_vals = [bv for bv, _ in build if bv <= v]
        ceil_vals = [bv for bv, _ in build if bv >= v]
        cands = []
        if floor_vals:
            fv = max(floor_vals)
            fk = min(k for bv, k in build if bv == fv)
            cands.append((abs(v - fv), fk, fv))
        if ceil_vals:
            cv = min(ceil_vals)
            ck = min(k for bv, k in build if bv == cv)
            cands.append((abs(cv - v), ck, cv))
        got = min(cands)[:2]
        want = min((abs(v - bv), k) for bv, k in build)
        assert got == want


# ---------------------------------------------------------------------------
# BFS frontier rounds == textbook BFS layer sizes
# ---------------------------------------------------------------------------

edges_strat = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1, max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(edges_strat, st.integers(1, 3), st.integers(1, 4))
def test_bfs_rounds_match_queue_bfs(edges, n_seeds, hops):
    adj: dict[int, set[int]] = {}
    nodes = set()
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
        nodes.update((a, b))
    seeds = sorted(nodes)[:n_seeds]
    # kernel model: frontier_{h+1} = neighbors(frontier_h) - reached
    frontier, reached = set(seeds), set(seeds)
    kernel_layers = [len(frontier)]
    for _ in range(hops):
        nxt = set()
        for v in frontier:
            nxt |= adj.get(v, set())
        nxt -= reached
        frontier = nxt
        reached |= nxt
        kernel_layers.append(len(frontier))
    # textbook queue BFS distances
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        for w in adj.get(u, ()):
            if w not in dist:
                dist[w] = dist[u] + 1
                dq.append(w)
    for h in range(hops + 1):
        assert kernel_layers[h] == sum(
            1 for d in dist.values() if d == h
        ), f"hop {h}"


# ---------------------------------------------------------------------------
# drawdown run numbering: duration == longest below-peak run
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=60))
def test_drawdown_run_numbering(vals):
    peak = -1
    runs, cur = [], 0
    max_depth = 0.0
    for v in vals:
        peak = max(peak, v)
        if v == peak:
            runs.append(cur)
            cur = 0
        else:
            cur += 1
            if peak > 0:
                max_depth = max(max_depth, (peak - v) / peak)
    runs.append(cur)
    want_days = max(runs)
    # the kernel's formulation: group by running count of at-peak rows,
    # duration = max over groups of below-peak rows in the group
    grp, at_peak_ct = {}, 0
    peak = -1
    for v in vals:
        peak = max(peak, v)
        if v == peak:
            at_peak_ct += 1
            grp.setdefault(at_peak_ct, []).append(0)
        else:
            grp.setdefault(at_peak_ct, []).append(1)
    got_days = max(sum(g) for g in grp.values())
    assert got_days == want_days
    assert 0.0 <= max_depth <= 1.0


# ---------------------------------------------------------------------------
# restricted-joint mutual information is non-negative
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 20), min_size=2, max_size=5),
        min_size=2, max_size=6,
    )
)
def test_restricted_mi_nonnegative(counts):
    width = min(len(r) for r in counts)
    c = [r[:width] for r in counts]
    total = sum(sum(r) for r in c)
    if total == 0:
        return
    row = [sum(r) for r in c]
    col = [sum(c[i][j] for i in range(len(c))) for j in range(width)]
    mi = 0.0
    for i, r in enumerate(c):
        for j, v in enumerate(r):
            if v:
                mi += (v / total) * math.log(
                    v * total / (row[i] * col[j])
                )
    assert mi >= -1e-12  # information inequality


# ---------------------------------------------------------------------------
# calc_check delta algebra: status iff exact zero, children additive
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    st.integers(-10**12, 10**12),
    st.lists(st.integers(-10**12, 10**12), min_size=0, max_size=6),
)
def test_calc_check_delta_algebra(parent, children):
    computed = sum(children)
    delta = parent - computed
    status = "CONSISTENT" if delta == 0 else "INCONSISTENT"
    assert (status == "CONSISTENT") == (parent == computed)
    # splitting a child keeps the verdict (summation-arc associativity)
    if children:
        split = children[:-1] + [children[-1] - 1, 1]
        assert (parent - sum(split)) == delta
