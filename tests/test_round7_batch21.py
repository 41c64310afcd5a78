"""Brute-force parity for round-7 batch 21 (warehouse_extras19.py)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_spearman_corr_vs_pandas(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    got = q("spearman_corr").set_index("l_returnflag")
    for flag, g in li.groupby("l_returnflag"):
        rx = g.l_quantity.rank(method="average")
        ry = g.l_extendedprice.rank(method="average")
        rho = rx.corr(ry)  # Pearson of midranks == Spearman
        row = got.loc[flag]
        assert row.n == len(g)
        assert row.rho == pytest.approx(rho, abs=1e-3)
        assert -1 <= row.rho <= 1


def test_assoc_cramers_v_vs_bruteforce(q, spark):
    p = table(spark, SF_DIR, "part").toPandas()
    ct = Counter(zip(p.p_brand, p.p_size))
    rt = Counter(p.p_brand)
    cl = Counter(p.p_size)
    n = len(p)
    chi2 = 0.0
    for (br, sz), o in ct.items():
        e = rt[br] * cl[sz] / n
        chi2 += (o - e) ** 2 / e
    r_levels, c_levels = len(rt), len(cl)
    v = math.sqrt(chi2 / (n * (min(r_levels, c_levels) - 1)))
    row = q("assoc_cramers_v").iloc[0]
    assert row.n_parts == n
    assert row.r_levels == r_levels
    assert row.c_levels == c_levels
    assert row.dof == (r_levels - 1) * (c_levels - 1)
    assert row.chi2 == pytest.approx(chi2, rel=1e-3)
    assert row.cramers_v == pytest.approx(v, abs=1e-3)
    assert 0 <= row.cramers_v <= 1


def test_priority_mix_drift_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["qtr"] = o.o_orderdate.map(
        lambda d: f"{d.year}-Q{(d.month - 1) // 3 + 1}"
    )
    n = len(o)
    cp = Counter(o.o_orderpriority)
    got = q("priority_mix_drift").set_index("qtr")
    assert len(got) == o.qtr.nunique()
    for qtr, g in o.groupby("qtr"):
        nq = len(g)
        cq = Counter(g.o_orderpriority)
        devs = {
            pri: cq.get(pri, 0) / nq - cp[pri] / n for pri in cp
        }
        tvd = 0.5 * sum(abs(d) for d in devs.values())
        worst = sorted(devs.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[0]
        row = got.loc[qtr]
        assert row.n_orders == nq
        assert row.tvd == pytest.approx(tvd, abs=1e-4)
        assert row.worst_priority == worst[0]
        assert row.worst_dev == pytest.approx(worst[1], abs=1e-4)
