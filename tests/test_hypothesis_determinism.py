"""Hypothesis property tests for the cross-engine determinism kernel.

The whole correctness gate rests on two claims:
 1. fixed-point / decimal sums are EXACT for values with bounded decimal
    digits, independent of summation order and engine;
 2. the gaps-and-islands sessionization equals Spark's session_window
    semantics on arbitrary event streams.
These are proved here over generated inputs, not just the shipped corpus.
"""

from __future__ import annotations

import math
from decimal import Decimal

from hypothesis import given, settings, strategies as st

# -- claim 1: the fixed-point kernel (pure-python twin of _helpers) ---------

# 2-decimal monetary values in the corpus's magnitude range
money = st.decimals(
    min_value=Decimal("0.00"), max_value=Decimal("999999.99"), places=2
)


def spark_side_sum(values: list[float], scale: int) -> int:
    """What dsum_scaled computes per row: floor(x * 10^s + 0.5) as int64."""
    return sum(int(math.floor(v * 10**scale + 0.5)) for v in values)


@given(st.lists(money, min_size=0, max_size=300))
@settings(max_examples=200, deadline=None)
def test_fixed_point_sum_exact_and_order_free(decs):
    """floor(x*10^s + .5) over the DOUBLE representation must recover the
    exact decimal cents for every 2-dp value — so any partition order,
    any engine, any partial-aggregation tree gives the same int64 sum."""
    floats = [float(d) for d in decs]
    exact_cents = sum(int(d * 100) for d in decs)
    assert spark_side_sum(floats, 2) == exact_cents
    assert spark_side_sum(list(reversed(floats)), 2) == exact_cents


@given(st.lists(money, min_size=1, max_size=200), st.integers(2, 7))
@settings(max_examples=100, deadline=None)
def test_fixed_point_partial_aggregation_tree(decs, split):
    """Partial sums combined in any grouping equal the single-pass sum —
    the map-side-combine property the shuffle relies on."""
    floats = [float(d) for d in decs]
    whole = spark_side_sum(floats, 2)
    chunks = [floats[i::split] for i in range(split)]
    assert sum(spark_side_sum(c, 2) for c in chunks) == whole


# products of two 2-dp values have <= 4 decimals: scale-4 must be exact
@given(st.lists(st.tuples(money, st.decimals(min_value=Decimal("0.00"),
                                             max_value=Decimal("0.99"),
                                             places=2)),
                min_size=0, max_size=100))
@settings(max_examples=100, deadline=None)
def test_fixed_point_products_scale4(pairs):
    exact = sum(int(p * (1 - d) * 10**4) for p, d in pairs)
    floats = [float(p) * (1 - float(d)) for p, d in pairs]
    assert spark_side_sum(floats, 4) == exact


# -- claim 2: sessionization equivalence on generated streams ---------------

GAP_US = 1800 * 1_000_000  # 30 minutes


def sessions_gaps_and_islands(ts_list: list[int]) -> list[tuple[int, int, int]]:
    """(start, last, n) via the oracle formulation (lag + running sum).
    Strict >: session_window merges CLOSED intervals — an event EXACTLY
    gap after its predecessor still merges. Verified empirically against
    Spark (events at 00:00/00:30/00:59:59 with a 30-min gap form ONE
    session); the boundary-forcing strategy below locks the semantics."""
    out = []
    for t in sorted(ts_list):
        if not out or t - out[-1][1] > GAP_US:
            out.append((t, t, 1))
        else:
            s, _, n = out[-1]
            out[-1] = (s, t, n + 1)
    return out


def sessions_merge_semantics(ts_list: list[int]) -> list[tuple[int, int, int]]:
    """(start, last, n) via session_window merge semantics: each event owns
    the CLOSED interval [t, t+gap]; touching windows merge."""
    iv = sorted((t, t + GAP_US, 1) for t in ts_list)
    out: list[list[int]] = []
    for s, e, n in iv:
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] += n
            out[-1][3] = max(out[-1][3], s)
        else:
            out.append([s, e, n, s])
    return [(o[0], o[3], o[2]) for o in out]


# timestamps built from multiples of 10min so EXACT-30min gaps occur often
# (random µs values would never exercise the [t, t+gap) boundary)
boundary_ts = st.lists(
    st.integers(0, 60), min_size=1, max_size=60
).map(lambda ks: [k * 600 * 1_000_000 for k in ks])


@given(boundary_ts | st.lists(st.integers(0, 10**10), min_size=1, max_size=120))
@settings(max_examples=300, deadline=None)
def test_session_formulations_agree(ts_list):
    """The DuckDB oracle (gaps-and-islands, strict '> 30min starts new')
    and Spark's session_window (merge of [t, t+30min) intervals) must
    produce identical (start, last-event, count) triples — this is the
    equivalence stream_session's E-class oracle rests on."""
    ts_list = sorted(set(ts_list))  # event times unique per (user, ts, id)
    a = sessions_gaps_and_islands(ts_list)
    b = sessions_merge_semantics(ts_list)
    assert a == b


def test_spark_session_window_merges_at_exact_gap(spark):
    """Lock the ENGINE behavior the models encode: events exactly 30min
    apart share one session (closed-interval merge)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:30:00")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = df.groupBy(F.session_window("ts", "30 minutes")).count().collect()
    assert len(out) == 1 and out[0][1] == 2


# -- claim 3: round-6 primitive kernels (pure-python twins) -----------------


@given(st.integers(min_value=0, max_value=255), st.integers(min_value=0, max_value=255))
@settings(max_examples=300, deadline=None)
def test_morton_interleave_is_injective_and_local(x, y):
    """The Z-order bit interleave must be a bijection on the 8-bit
    square, and adjacent z-values must decode to nearby points (the
    locality that makes z-range pruning work)."""
    from secdb_spark.operators.layout_extras import Z_BITS

    def morton(a, b):
        z = 0
        for i in range(Z_BITS):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    def demorton(z):
        a = b = 0
        for i in range(Z_BITS):
            a |= ((z >> (2 * i)) & 1) << i
            b |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    z = morton(x, y)
    assert demorton(z) == (x, y)
    # z and z+1 differ in at most the low varying bits -> decoded points
    # stay within the 2^ceil(k/2) sub-square that bit flip spans
    if z + 1 < (1 << (2 * Z_BITS)):
        x2, y2 = demorton(z + 1)
        flipped = (z ^ (z + 1)).bit_length()
        bound = 1 << ((flipped + 1) // 2)
        assert abs(x2 - x) <= bound and abs(y2 - y) <= bound


@given(st.integers(min_value=0, max_value=2**62 - 1),
       st.integers(min_value=0, max_value=2**62 - 1))
@settings(max_examples=200, deadline=None)
def test_simhash_pigeonhole_block_guarantee(a, b):
    """If Hamming(a, b) <= 3 then a and b agree exactly on at least one
    of the 4 signature blocks — the losslessness of simhash_pairs'
    blocking, proved on arbitrary 62-bit signatures (not just corpus
    ones)."""
    from secdb_spark.operators.text_analysis import (
        _SIMHASH_BLOCKS,
        SIMHASH_HAM_MAX,
    )

    ham = bin(a ^ b).count("1")
    blocks_agree = any(
        ((a >> off) & ((1 << width) - 1)) == ((b >> off) & ((1 << width) - 1))
        for off, width in _SIMHASH_BLOCKS
    )
    if ham <= SIMHASH_HAM_MAX:
        assert blocks_agree, f"pigeonhole violated at ham={ham}"


@given(st.integers(min_value=1, max_value=10**6),
       st.integers(min_value=0, max_value=10**6))
@settings(max_examples=300, deadline=None)
def test_wilson_interval_always_brackets_and_bounded(n, k):
    """The Wilson closed form stays inside [0,1] and brackets p for ANY
    (n, k<=n) — the property that justifies shipping it instead of
    Wald."""
    from secdb_spark.operators.stats_extras import Z95

    if k > n:
        k = n
    p = k / n
    z2 = Z95 * Z95
    half = math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    lo = (p + z2 / (2 * n) - Z95 * half) / (1 + z2 / n)
    hi = (p + z2 / (2 * n) + Z95 * half) / (1 + z2 / n)
    assert -1e-12 <= lo <= p + 1e-12
    assert p - 1e-12 <= hi <= 1 + 1e-12
