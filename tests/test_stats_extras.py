"""Brute-force parity for round-6 batch-14 (stats_extras.py) against
scipy-free closed-form recomputations."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.stats_extras import KM_LN_SCALE, VAL_SCALE, Z95
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_conversion_rate_ci_vs_closed_form(q, spark):
    o = table(spark, SF_DIR, "orders").select("o_custkey").toPandas()
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey").toPandas()
    n = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name").toPandas()
    counts = o.o_custkey.value_counts()
    nation_of = c.set_index("c_custkey").c_nationkey.map(
        n.set_index("n_nationkey").n_name
    )
    per_nation = defaultdict(lambda: [0, 0])
    for ck, cnt in counts.items():
        nm = nation_of[ck]
        per_nation[nm][0] += 1
        per_nation[nm][1] += int(cnt >= 2)
    got = q("conversion_rate_ci").set_index("n_name")
    for nm, (nc, nr) in per_nation.items():
        r = got.loc[nm]
        assert r.n_cust == nc and r.n_repeat == nr
        p = nr / nc
        z2 = Z95 * Z95
        half = math.sqrt(p * (1 - p) / nc + z2 / (4 * nc * nc))
        lo = (p + z2 / (2 * nc) - Z95 * half) / (1 + z2 / nc)
        hi = (p + z2 / (2 * nc) + Z95 * half) / (1 + z2 / nc)
        assert abs(r.rate - p) < 1e-3
        assert abs(r.ci_lo - lo) < 1e-3
        assert abs(r.ci_hi - hi) < 1e-3
        # Wilson guarantees: interval inside [0,1] and brackets p
        assert 0 <= r.ci_lo <= r.rate <= r.ci_hi <= 1


def test_abtest_ztest_vs_numpy_and_aa_sanity(q, spark):
    ev = table(spark, SF_DIR, "events").select("user_id", "value").toPandas()
    arm = ev.user_id.map(
        lambda u: "A"
        if int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:8], 16) % 2 == 0
        else "B"
    )
    v = ev.value.map(lambda x: math.floor(x * VAL_SCALE + 0.5))
    a, b = v[arm == "A"].values, v[arm == "B"].values
    za = (a.mean() - b.mean()) / math.sqrt(
        a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    )
    got = q("abtest_ztest").iloc[0]
    assert got.na == len(a) and got.nb == len(b)
    assert abs(got.mean_a - a.mean() / VAL_SCALE) < 1e-3
    assert abs(got.mean_b - b.mean() / VAL_SCALE) < 1e-3
    assert abs(got.z_score - za) < 1e-3
    # A/A test: a hash split of one population must not be significant
    assert not got.significant
    assert abs(got.z_score) < 3.5


def test_survival_km_vs_bruteforce(q, spark):
    o = (
        table(spark, SF_DIR, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .toPandas()
        .sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    )
    anchor = o.o_orderdate.max().date()
    subjects = []
    for ck, grp in o.groupby("o_custkey"):
        dates = list(grp.o_orderdate)
        first = dates[0].date()
        if len(dates) >= 2:
            subjects.append(((dates[1].date() - first).days, 1))
        else:
            subjects.append(((anchor - first).days, 0))
    got = q("survival_km").sort_values("day")
    # brute-force KM with the same ln-quantization
    times = sorted({t for t, e in subjects if e == 1})
    run = 0
    surv = {}
    for t in times:
        n_risk = sum(1 for tt, _ in subjects if tt >= t)
        d = sum(1 for tt, e in subjects if tt == t and e == 1)
        if d >= n_risk:
            continue
        run += math.floor(math.log(1 - d / n_risk) * KM_LN_SCALE + 0.5)
        surv[t] = (n_risk, d, round(math.exp(run / KM_LN_SCALE), 4))
    assert list(got.day) == list(surv)
    for r in got.itertuples():
        n_risk, d, s = surv[r.day]
        assert r.n_risk == n_risk and r.n_events == d
        assert r.survival == s
    # survival is monotone non-increasing from ~1
    vals = list(got.survival)
    assert all(x >= y - 1e-9 for x, y in zip(vals, vals[1:]))
    assert vals[0] <= 1.0
