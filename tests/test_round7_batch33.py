"""Brute-force parity for round-7 batch 33 (stats_extras3.py)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.stats_extras3 import SRM_CHI2_CRIT
from secdb_spark.registry import all_queries

QUERIES = all_queries()


def variant(uid: int) -> int:
    h = hashlib.md5(f"ab:{uid}".encode()).hexdigest()
    return int(h[:8], 16) % 2


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_abtest_srm_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    users = ev.user_id.unique()
    n_a = sum(1 for u in users if variant(int(u)) == 0)
    n_b = len(users) - n_a
    exp = (n_a + n_b) / 2
    chi2 = (n_a - exp) ** 2 / exp + (n_b - exp) ** 2 / exp
    row = q("abtest_srm").iloc[0]
    assert row.n_a == n_a and row.n_b == n_b
    assert row.share_a == pytest.approx(n_a / (n_a + n_b), abs=1e-4)
    assert row.chi2 == pytest.approx(chi2, abs=1e-3)
    assert bool(row.srm_detected) == (chi2 > SRM_CHI2_CRIT)
    # a correct uniform hash split should NOT alarm on clean data
    assert not row.srm_detected


def test_abtest_cuped_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    us = ev.ts.astype("int64") // 1000
    cut = (us.min() + us.max()) // 2
    ev = ev.assign(
        us=us,
        cents=np.floor(ev.value * 100 + 0.5).astype(np.int64),
        v=[variant(int(u)) for u in ev.user_id],
    )
    pre = ev[ev.us < cut].groupby("user_id").cents.sum()
    post = ev[ev.us >= cut].groupby("user_id").cents.sum()
    users = ev.groupby("user_id").v.first()
    x = pre.reindex(users.index, fill_value=0).astype(float)
    y = post.reindex(users.index, fill_value=0).astype(float)
    n = len(users)
    cov = n * (x * y).sum() - x.sum() * y.sum()
    varx = n * (x * x).sum() - x.sum() ** 2
    vary = n * (y * y).sum() - y.sum() ** 2
    theta = cov / varx
    rho2 = cov * cov / (varx * vary)
    got = q("abtest_cuped").set_index("variant")
    assert len(got) == 2
    xbar = x.mean()
    for vname, vcode in (("A", 0), ("B", 1)):
        mask = users == vcode
        row = got.loc[vname]
        assert row.n_users == int(mask.sum())
        assert row.mean_post == pytest.approx(
            y[mask].mean() / 100, abs=1e-3
        )
        adj = (y[mask].mean() - theta * (x[mask].mean() - xbar)) / 100
        assert row.mean_post_cuped == pytest.approx(adj, abs=1e-3)
        assert row.theta == pytest.approx(theta, abs=1e-4)
        assert row.var_reduction == pytest.approx(rho2, abs=1e-4)
    # CUPED must shrink the A/B gap noise relative to raw means only in
    # expectation; the invariant that always holds is 0 <= rho2 <= 1.
    assert 0 <= rho2 <= 1


def test_stat_levene_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["cents"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    groups = {}
    for g, s in o.groupby("o_orderpriority"):
        vals = np.sort(s.cents.values)
        med = vals[int(np.ceil(len(vals) / 2)) - 1]  # rank ceil(n/2)
        z = np.abs(s.cents.values - med).astype(float)
        groups[g] = (med, z)
    n = sum(len(z) for _, z in groups.values())
    k = len(groups)
    zbar = sum(z.sum() for _, z in groups.values()) / n
    ssb = sum(len(z) * (z.mean() - zbar) ** 2 for _, z in groups.values())
    ssw = sum(((z - z.mean()) ** 2).sum() for _, z in groups.values())
    w = ((n - k) / (k - 1)) * ssb / ssw
    got = q("stat_levene").set_index("o_orderpriority")
    assert len(got) == k
    for g, (med, z) in groups.items():
        row = got.loc[g]
        assert row.n_g == len(z)
        assert row.group_median == pytest.approx(med / 100, abs=1e-4)
        assert row.mean_abs_dev == pytest.approx(
            z.mean() / 100, abs=1e-3
        )
        assert row.bf_stat == pytest.approx(w, abs=1e-3)
