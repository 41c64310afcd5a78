"""Hypothesis property tests for the round-12 (§2.BC) kernels —
pure-python twins of the Spark-side formulas proven against brute-force
definitions over GENERATED inputs (the methodology of
test_hypothesis_round10/11.py; no SparkSession needed).

Covered: text_chunk_sliding's geometry and reconstruction,
dedup_url_canonical's regex chain (idempotence + variant collapse),
scd2_merge's version-chain algebra, stat_jarque_bera's power-sum vs
central-moment identity and non-negativity, ts_adf_stat's shift/scale
invariance, and mix_kl_reweight's Gibbs inequality.
"""

from __future__ import annotations

import math
import re
import sys

from hypothesis import example, given, settings, strategies as st


# ---------------------------------------------------------------------------
# text_chunk_sliding: geometry + exact reconstruction
# ---------------------------------------------------------------------------

W, S = 200, 150


def _chunks(text: str) -> list[tuple[int, int, str]]:
    """The kernel's arithmetic: 1-based starts every S chars while
    start <= len(text); chunk = substr(start, W)."""
    out = []
    i = 1
    while i <= len(text):
        out.append(((i - 1) // S + 1, i, text[i - 1:i - 1 + W]))
        i += S
    return out


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="ab c", min_size=1, max_size=1200))
def test_chunk_sliding_geometry_and_reconstruction(text):
    ch = _chunks(text)
    assert len(ch) == (len(text) - 1) // S + 1
    for k, (idx, start, piece) in enumerate(ch):
        assert idx == k + 1
        assert start == 1 + k * S
        assert 1 <= len(piece) <= W
    # stride prefixes + last chunk rebuild the text exactly
    rebuilt = "".join(p[:S] for _i, _s, p in ch[:-1]) + ch[-1][2]
    assert rebuilt == text
    # consecutive chunks overlap by W - S chars (when both are full)
    for (_, s1, p1), (_, s2, p2) in zip(ch, ch[1:]):
        if len(p1) == W:
            assert p1[S:] == p2[: W - S]


# ---------------------------------------------------------------------------
# dedup_url_canonical: the regex chain is idempotent and collapses the
# documented variant classes
# ---------------------------------------------------------------------------


def _canon(u: str) -> str:
    from secdb_spark.operators.warehouse_extras40 import URL_CANON_STEPS

    out = u.lower()
    for pat, repl in URL_CANON_STEPS:
        out = re.sub(pat, repl, out)
    return out


hosts = st.sampled_from(["example.com", "Example.COM", "EXAMPLE.com"])
paths = st.lists(
    st.text(alphabet="abcdefghij0123456789", min_size=1, max_size=6),
    min_size=1, max_size=3,
).map(lambda segs: "/" + "/".join(segs))


@settings(max_examples=300, deadline=None)
@given(
    hosts,
    st.booleans(),   # www
    st.booleans(),   # :443
    paths,
    st.booleans(),   # trailing slash
    st.booleans(),   # utm param
    st.booleans(),   # fragment
)
def test_url_canon_idempotent_and_variant_insensitive(
    host, www, port, path, slash, utm, frag
):
    base = f"https://{'www.' if www else ''}{host}{':443' if port else ''}"
    u = base + path
    if slash:
        u += "/"
    if utm:
        u += "?utm_source=x"
    if frag:
        u += "#frag"
    c = _canon(u)
    # idempotent
    assert _canon(c) == c
    # every dirty axis collapses to the same clean form
    assert c == f"https://{host.lower()}{path}"
    # canonical invariants
    assert "#" not in c and "utm_" not in c and ":443" not in c
    assert "://www." not in c and not c.endswith("/")


# ---------------------------------------------------------------------------
# scd2_merge: version-chain algebra
# ---------------------------------------------------------------------------


def _merge(current, changes):
    """Pure-python twin of api.scd2_merge: close the open version of a
    changed key at the change date, open a new version, pass everything
    else through (including CLOSED history rows of changed keys)."""
    chg = {k: (d, a) for k, d, a in changes}
    out = []
    for k, attr, vf, vt, cur in current:
        if cur and k in chg:
            d, a = chg[k]
            out.append((k, attr, vf, d, False))
            out.append((k, a, d, None, True))
        else:
            out.append((k, attr, vf, vt, cur))
    return out


dims = st.lists(
    st.tuples(
        st.integers(1, 8),                       # key
        st.sampled_from("ABCD"),                 # attr
        st.integers(0, 50), st.integers(51, 99)  # vf, vt basis
    ),
    min_size=1, max_size=20,
)


@settings(max_examples=300, deadline=None)
@given(dims, st.sets(st.integers(1, 8)), st.integers(100, 120))
def test_scd2_merge_chain_invariants(rows, changed_keys, chg_date):
    # build a valid SCD2 table: per key, n history rows + ONE open row
    current: list[tuple] = []
    by_key: dict[int, int] = {}
    for k, attr, vf, vt in rows:
        by_key[k] = by_key.get(k, 0) + 1
        current.append((k, attr, vf, vt, False))
    open_rows = {k: (k, "Z", 99, None, True) for k in by_key}
    current.extend(open_rows.values())
    changes = [(k, chg_date, "NEW") for k in changed_keys if k in by_key]
    merged = _merge(current, changes)
    # row accounting: +1 row per applied change
    assert len(merged) == len(current) + len(changes)
    keys = {r[0] for r in current}
    for k in keys:
        vers = [r for r in merged if r[0] == k]
        opens = [r for r in vers if r[4]]
        assert len(opens) == 1              # exactly one open version
        assert opens[0][3] is None
        if k in {c[0] for c in changes}:
            assert opens[0][1] == "NEW"
            closed = [r for r in vers if not r[4] and r[3] == chg_date]
            assert len(closed) == 1         # old open version closed
            assert closed[0][3] == opens[0][2]  # contiguous chain
        # history rows all passed through
        hist = [r for r in current if r[0] == k and not r[4]]
        for h in hist:
            assert h in merged


# ---------------------------------------------------------------------------
# stat_jarque_bera: power-sum identity + non-negativity
# ---------------------------------------------------------------------------

samples = st.lists(
    st.floats(min_value=-1000, max_value=1000,
              allow_nan=False, allow_infinity=False),
    min_size=4, max_size=200,
)


@settings(max_examples=300, deadline=None)
@example([620.0, 620.0, 619.0, 619.0])  # s4/n ~ 1.5e19 > 2**53: cancellation
@given(samples)
def test_jb_power_sums_equal_central_moments(xs):
    # the kernel quantizes to cents first — do the same, then require a
    # non-degenerate sample
    q = [math.floor(x * 100 + 0.5) for x in xs]
    if len(set(q)) < 2:
        return
    n = float(len(q))
    s1, s2, s3, s4 = (sum(v ** p for v in q) for p in (1, 2, 3, 4))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu ** 3
    m4 = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu ** 4
    # direct central moments
    c2 = sum((v - mu) ** 2 for v in q) / n
    c3 = sum((v - mu) ** 3 for v in q) / n
    c4 = sum((v - mu) ** 4 for v in q) / n
    # The power-sum form cancels terms of magnitude ~s_p/n against each
    # other, so its float64 error is bounded by eps times the magnitude of
    # the cancelled terms, NOT by the (possibly tiny) true moment — the
    # identity only holds up to that conditioning.  Both engines evaluate
    # the SAME formulation, so cross-engine determinism is unaffected.
    eps = sys.float_info.epsilon
    scale = max(1.0, abs(c2), abs(c3), abs(c4))
    cond2 = abs(s2) / n + mu * mu
    cond3 = abs(s3) / n + 3 * abs(mu) * abs(s2) / n + 2 * abs(mu) ** 3
    cond4 = (
        abs(s4) / n
        + 4 * abs(mu) * abs(s3) / n
        + 6 * mu * mu * abs(s2) / n
        + 3 * mu ** 4
    )
    assert math.isclose(m2, c2, rel_tol=1e-6, abs_tol=1e-6 * scale + 64 * eps * cond2)
    assert math.isclose(m3, c3, rel_tol=1e-5, abs_tol=1e-5 * scale + 64 * eps * cond3)
    assert math.isclose(m4, c4, rel_tol=1e-5, abs_tol=1e-5 * scale + 64 * eps * cond4)
    if m2 > 1e-9:
        skew = m3 / (m2 * math.sqrt(m2))
        exk = m4 / (m2 * m2) - 3
        jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
        assert jb >= 0


# ---------------------------------------------------------------------------
# ts_adf_stat: shift and positive-scale invariance of gamma and t
# ---------------------------------------------------------------------------


def _adf(ys):
    xs = ys[:-1]
    dys = [b - a for a, b in zip(ys, ys[1:])]
    n = float(len(xs))
    sx, sy = sum(xs), sum(dys)
    sxy = sum(x * d for x, d in zip(xs, dys))
    sxx = sum(x * x for x in xs)
    syy = sum(d * d for d in dys)
    sxx_c = sxx - sx * sx / n
    sxy_c = sxy - sx * sy / n
    syy_c = syy - sy * sy / n
    if abs(sxx_c) < 1e-9 or n <= 2:
        return None
    g = sxy_c / sxx_c
    rss = syy_c - g * sxy_c
    if rss <= 1e-12:
        return None
    t = g / math.sqrt((rss / (n - 2)) / sxx_c)
    return g, t


series = st.lists(st.integers(0, 1000), min_size=8, max_size=60)


@settings(max_examples=300, deadline=None)
@given(series, st.integers(-10000, 10000), st.integers(1, 50))
def test_adf_shift_scale_invariance(ys, shift, scale):
    base = _adf([float(y) for y in ys])
    if base is None:
        return
    shifted = _adf([float(y + shift) for y in ys])
    scaled = _adf([float(y * scale) for y in ys])
    if shifted is None or scaled is None:
        return
    g0, t0 = base
    # regression-with-intercept: level shifts leave gamma AND t alone
    assert math.isclose(g0, shifted[0], rel_tol=1e-6, abs_tol=1e-6)
    assert math.isclose(t0, shifted[1], rel_tol=1e-5, abs_tol=1e-5)
    # positive scaling leaves both alone (gamma is a ratio of like units)
    assert math.isclose(g0, scaled[0], rel_tol=1e-6, abs_tol=1e-6)
    assert math.isclose(t0, scaled[1], rel_tol=1e-5, abs_tol=1e-5)


# ---------------------------------------------------------------------------
# mix_kl_reweight: Gibbs inequality + weight algebra
# ---------------------------------------------------------------------------

masses = st.lists(st.integers(1, 10 ** 9), min_size=1, max_size=40)


@settings(max_examples=300, deadline=None)
@given(masses)
def test_kl_reweight_gibbs_and_weights(ms):
    tot = float(sum(ms))
    kk = len(ms)
    pt = 1.0 / kk
    total_kl = 0.0
    for m in ms:
        pa = m / tot
        w = pt / pa
        # importance-weight contract: w * actual mass share == target
        assert math.isclose(w * pa, pt, rel_tol=1e-12)
        total_kl += pt * (math.log(pt) - math.log(pa))
    # Gibbs: KL(uniform || actual) >= 0, zero iff already uniform
    assert total_kl >= -1e-9
    if len(set(ms)) == 1:
        assert abs(total_kl) < 1e-9


# ---------------------------------------------------------------------------
# stat_bartlett: zero at equal variances, invariant to group order
# ---------------------------------------------------------------------------


def _bartlett(groups):
    k = len(groups)
    nt = sum(len(g) for g in groups)
    pooled_num = sum_ln = sum_inv = 0.0
    for g in groups:
        n = float(len(g))
        s2 = (sum(x * x for x in g) - sum(g) ** 2 / n) / (n - 1)
        if s2 <= 0:
            return None
        pooled_num += (n - 1) * s2
        sum_ln += (n - 1) * math.log(s2)
        sum_inv += 1.0 / (n - 1)
    return ((nt - k) * math.log(pooled_num / (nt - k)) - sum_ln) / (
        1 + (sum_inv - 1.0 / (nt - k)) / (3 * (k - 1))
    )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(-100, 100), min_size=3, max_size=30).filter(
        lambda g: len(set(g)) >= 2
    ),
    st.integers(2, 5),
)
def test_bartlett_zero_for_identical_groups(g, k):
    """k copies of the SAME sample have equal variances: T == 0 exactly
    (ln Sp2 equals every group's ln s2)."""
    t = _bartlett([list(g)] * k)
    assert t is not None
    assert abs(t) < 1e-9


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-100, 100), min_size=3, max_size=20).filter(
            lambda g: len(set(g)) >= 2
        ),
        min_size=2, max_size=5,
    )
)
def test_bartlett_nonnegative_and_order_invariant(groups):
    t = _bartlett(groups)
    if t is None:
        return
    # T >= 0 (Jensen: ln of the pooled variance dominates the weighted
    # mean of group ln-variances), up to float slack
    assert t > -1e-9
    t_rev = _bartlett(list(reversed(groups)))
    assert math.isclose(t, t_rev, rel_tol=1e-9, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# closeness: closed forms on star and path graphs
# ---------------------------------------------------------------------------


def _closeness_from_edges(edges, seed):
    from collections import deque

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {seed: 0}
    dq = deque([seed])
    while dq:
        u = dq.popleft()
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                dq.append(w)
    total = sum(dist.values())
    return (len(dist) - 1, total)


@settings(max_examples=100, deadline=None)
@given(st.integers(2, 40))
def test_closeness_star_and_path_closed_forms(n):
    # star: hub 0 with n leaves — hub closeness 1, leaf closeness
    # n/(2n-1) (1 hop to hub, 2 to the other n-1 leaves)
    star = [(0, i) for i in range(1, n + 1)]
    reach, total = _closeness_from_edges(star, 0)
    assert (reach, total) == (n, n)          # hub: all at distance 1
    reach, total = _closeness_from_edges(star, 1)
    assert (reach, total) == (n, 1 + 2 * (n - 1))
    # path 0-1-..-n: end vertex total distance = n(n+1)/2
    path = [(i, i + 1) for i in range(n)]
    reach, total = _closeness_from_edges(path, 0)
    assert (reach, total) == (n, n * (n + 1) // 2)
