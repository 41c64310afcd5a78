"""Hypothesis property tests for the round-7 continuation kernels
(spearman midranks / changepoint prefix-SSE / k-core peel / ks_drift
group-vs-rest weights).

Pure-python twins of the Spark-side integer/decimal formulas, proven
against brute-force definitions over GENERATED inputs — the
methodology of test_hypothesis_rank_kernels.py.  Claims:

 1. 2·midrank(v) = 2·cum_before(v) + c(v) + 1 matches the textbook
    average rank for any tie structure, and the Pearson correlation of
    doubled midranks IS Spearman's rho (affine invariance).
 2. sse_left(k) = s2_k − s1_k²/k from prefix sums equals the direct
    Σ(x−mean)² of the left segment, and the argmax gain over all k
    matches the brute-force two-mean scan.
 3. the fixed-round k-core peel is monotone (live sets shrink) and,
    once two consecutive rounds agree, further rounds change nothing
    (fixpoint) — which is what graph_kcore's `converged` flag claims.
 4. the group-vs-rest KS weight c_g·(N−n_g) − c_rest·n_g cumulated
    over the FULL value spine equals n_g·(N−n_g)·sup|ECDF_g − ECDF_rest|.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from hypothesis import given, settings, strategies as st

vals = st.integers(min_value=0, max_value=25)  # heavy ties on purpose


def _midrank2(xs: list[int]) -> dict[int, int]:
    c = Counter(xs)
    out = {}
    cum = 0
    for v in sorted(c):
        out[v] = 2 * cum + c[v] + 1
        cum += c[v]
    return out


@given(st.lists(vals, min_size=2, max_size=80))
@settings(max_examples=200, deadline=None)
def test_doubled_midrank_matches_average_rank(xs):
    c = Counter(xs)
    # textbook: ranks i+1..i+cnt share the average
    avg = {}
    i = 0
    for v, cnt in sorted(c.items()):
        avg[v] = (2 * i + cnt + 1) / 2
        i += cnt
    m2 = _midrank2(xs)
    for v in c:
        assert m2[v] == 2 * avg[v]


@given(
    st.lists(
        st.tuples(vals, vals), min_size=3, max_size=80
    )
)
@settings(max_examples=150, deadline=None)
def test_spearman_from_doubled_midranks(pairs):
    xs = [p[0] for p in pairs]
    ys = [p[1] for p in pairs]
    if len(set(xs)) < 2 or len(set(ys)) < 2:
        return
    mx, my = _midrank2(xs), _midrank2(ys)
    rx = [mx[v] for v in xs]
    ry = [my[v] for v in ys]

    def pearson(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        saa = sum(x * x for x in a)
        sbb = sum(x * x for x in b)
        sab = sum(x * y for x, y in zip(a, b))
        den = math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
        return (n * sab - sa * sb) / den if den else float("nan")

    got = pearson(rx, ry)
    # brute Spearman: Pearson of single (not doubled) average ranks
    ax = {v: m / 2 for v, m in mx.items()}
    ay = {v: m / 2 for v, m in my.items()}
    want = pearson([ax[v] for v in xs], [ay[v] for v in ys])
    if not (math.isnan(got) or math.isnan(want)):
        assert abs(got - want) < 1e-9


@given(st.lists(st.floats(-100, 100, allow_nan=False), min_size=2,
                max_size=60))
@settings(max_examples=150, deadline=None)
def test_changepoint_prefix_sse_identity(xs):
    n = len(xs)
    s1 = s2 = 0.0
    best_prefix = None
    for k in range(1, n):
        s1 += xs[k - 1]
        s2 += xs[k - 1] ** 2
        sse_l = s2 - s1 * s1 / k
        left = xs[:k]
        ml = sum(left) / k
        direct = sum((x - ml) ** 2 for x in left)
        assert abs(sse_l - direct) < 1e-6 * max(1.0, abs(direct))
        t1, t2 = sum(xs), sum(x * x for x in xs)
        sse_r = (t2 - s2) - (t1 - s1) ** 2 / (n - k)
        gain = (t2 - t1 * t1 / n) - (sse_l + sse_r)
        if best_prefix is None or gain > best_prefix[0] + 1e-12:
            best_prefix = (gain, k)

    def sse(seg):
        if not seg:
            return 0.0
        m = sum(seg) / len(seg)
        return sum((x - m) ** 2 for x in seg)

    total = sse(xs)
    brute = max(
        ((total - (sse(xs[:k]) + sse(xs[k:])), k) for k in range(1, n)),
        key=lambda t: (t[0], -t[1]),
    )
    assert best_prefix[1] == brute[1] or abs(
        best_prefix[0] - brute[0]
    ) < 1e-6 * max(1.0, abs(brute[0]))


edge = st.tuples(
    st.integers(min_value=0, max_value=12),
    st.integers(min_value=13, max_value=24),
)


@given(st.sets(edge, min_size=1, max_size=80),
       st.integers(min_value=1, max_value=5))
@settings(max_examples=150, deadline=None)
def test_kcore_peel_monotone_and_fixpoint(edges, k):
    live = {n for e in edges for n in e}
    sizes = [len(live)]
    for _ in range(6):
        deg = defaultdict(int)
        for a, b in edges:
            if a in live and b in live:
                deg[a] += 1
                deg[b] += 1
        live = {n for n in live if deg[n] >= k}
        sizes.append(len(live))
    # monotone
    assert all(sizes[i] >= sizes[i + 1] for i in range(len(sizes) - 1))
    # once stable, stays stable (the `converged` claim)
    for i in range(1, len(sizes) - 1):
        if sizes[i] == sizes[i - 1]:
            assert all(s == sizes[i] for s in sizes[i:])
            break


@given(st.lists(st.tuples(st.sampled_from("PQR"), vals),
                min_size=4, max_size=120))
@settings(max_examples=150, deadline=None)
def test_ks_drift_weight_identity(rows):
    groups = {g for g, _ in rows}
    if len(groups) < 2:
        return
    by_g = defaultdict(Counter)
    allc = Counter()
    for g, v in rows:
        by_g[g][v] += 1
        allc[v] += 1
    n_all = sum(allc.values())
    spine = sorted(allc)
    for g in groups:
        cg = by_g[g]
        ng = sum(cg.values())
        if ng == n_all:
            continue
        # kernel: cumsum of c_g·(N−n_g) − c_rest·n_g over the full spine
        cum = 0
        dmax = 0
        for v in spine:
            c = cg.get(v, 0)
            cum += c * (n_all - ng) - (allc[v] - c) * ng
            dmax = max(dmax, abs(cum))
        # brute: sup |ECDF_g − ECDF_rest| over the spine
        rest = Counter({v: allc[v] - cg.get(v, 0) for v in allc})
        nr = n_all - ng
        cg_cum = cr_cum = 0
        sup = 0.0
        for v in spine:
            cg_cum += cg.get(v, 0)
            cr_cum += rest.get(v, 0)
            sup = max(sup, abs(cg_cum / ng - cr_cum / nr))
        assert abs(dmax - ng * nr * sup) < 1e-6 * max(1, ng * nr)
