"""Brute-force parity for round-7 batch 36 (warehouse_extras30.py)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras30 import (
    CHURN_GAP_DAYS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_winback_rate_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    n = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    nat = c.set_index("c_custkey").c_nationkey.map(n.n_name)
    o = o.sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    max_d = o.o_orderdate.max().normalize()
    stats = Counter()
    for cust, g in o.groupby("o_custkey"):
        days = g.o_orderdate.dt.normalize()
        gaps = days.diff().dt.days.dropna()
        winbacks = int((gaps > CHURN_GAP_DAYS).sum())
        churned = int((max_d - days.max()).days > CHURN_GAP_DAYS)
        nm = nat[cust]
        stats[(nm, "cust")] += 1
        stats[(nm, "wb")] += winbacks
        stats[(nm, "ch")] += churned
    got = q("winback_rate").set_index("nation")
    nations = {k for k, _ in stats}
    assert len(got) == len(nations)
    for nm in nations:
        row = got.loc[nm]
        assert row.n_customers == stats[(nm, "cust")]
        assert row.n_winbacks == stats[(nm, "wb")]
        assert row.n_churned_now == stats[(nm, "ch")]
        denom = stats[(nm, "wb")] + stats[(nm, "ch")]
        if denom:
            assert row.winback_rate == pytest.approx(
                stats[(nm, "wb")] / denom, abs=1e-4
            )


def test_brand_nation_lift_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    n = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    p = table(spark, SF_DIR, "part").toPandas()
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(p, left_on="l_partkey", right_on="p_partkey")
    )
    j["nation"] = j.c_nationkey.map(n.n_name)
    cell = j.groupby(["nation", "p_brand"]).size()
    n_nat = cell.groupby("nation").sum()
    n_brand = cell.groupby("p_brand").sum()
    grand = cell.sum()
    got = q("brand_nation_lift").set_index(["nation", "brand"])
    assert len(got) == len(cell)
    for (nat_, br), cnt in cell.items():
        row = got.loc[(nat_, br)]
        assert row.n_lines == cnt
        lift = cnt * grand / (n_nat[nat_] * n_brand[br])
        assert row.lift == pytest.approx(lift, abs=1e-3)
    # lift weighted by the EXPECTED cell mass averages to exactly 1
    # (sum over cells of n_nat*n_brand/grand^2 * lift = sum n/grand = 1);
    # only cells present in the output participate, so compute directly.
    w = sum(
        n_nat[nat_] * n_brand[br] / grand**2 * got.loc[(nat_, br)].lift
        for (nat_, br) in cell.index
    )
    assert w == pytest.approx(1.0, abs=1e-2)


def test_ship_lag_percentiles_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    j["lag"] = (
        j.l_shipdate.dt.normalize() - j.o_orderdate.dt.normalize()
    ).dt.days
    got = q("ship_lag_percentiles").set_index("l_returnflag")
    for flag, g in j.groupby("l_returnflag"):
        vals = np.sort(g.lag.values)
        nn = len(vals)
        row = got.loc[flag]
        assert row.n_lines == nn
        for p, col in ((0.5, "p50_days"), (0.9, "p90_days"), (0.99, "p99_days")):
            rank = int(np.ceil(p * nn))
            assert row[col] == vals[rank - 1], (flag, col)
        assert row.p50_days <= row.p90_days <= row.p99_days
