"""Brute-force parity for round-7 batch 30 (warehouse_extras25.py)."""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras25 import (
    DISP_MIN_SUPPLIERS,
    DISP_TOPK,
    ROBUST_Z_CUT,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_anomaly_robust_z_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("anomaly_robust_z").set_index(["event_type", "day"])
    n_expected = 0
    for et, g in ev.groupby("event_type"):
        s = g.groupby("day").value.sum()
        med = float(np.median(s))
        mad = float(np.median(np.abs(s - med)))
        if mad == 0:
            continue
        n_expected += len(s)
        for day, x in s.items():
            rz = 0.6745 * (x - med) / mad
            row = got.loc[(et, day)]
            assert row.robust_z == pytest.approx(rz, abs=1e-3)
            assert bool(row.is_anomaly) == (abs(rz) > ROBUST_Z_CUT)
    assert len(got) == n_expected


def test_part_price_dispersion_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    li["unit_cents"] = np.floor(
        li.l_extendedprice / li.l_quantity * 100 + 0.5
    ).astype(np.int64)
    ps = (
        li.groupby(["l_partkey", "l_suppkey"])
        .unit_cents.agg(["sum", "count"])
        .reset_index()
    )
    ps["unit"] = ps["sum"] / ps["count"]
    rows = []
    for pk, g in ps.groupby("l_partkey"):
        if len(g) < DISP_MIN_SUPPLIERS:
            continue
        mean_c = g.unit.mean()
        rel = (g.unit.max() - g.unit.min()) / mean_c
        rows.append((rel, pk, len(g), mean_c))
    rows.sort(key=lambda t: (-t[0], t[1]))
    expect = rows[:DISP_TOPK]
    got = q("part_price_dispersion")
    assert len(got) == min(DISP_TOPK, len(rows))
    for (rel, pk, ns, mean_c), (_, r) in zip(expect, got.iterrows()):
        assert r.l_partkey == pk
        assert r.n_suppliers == ns
        assert r.mean_unit_cents == pytest.approx(mean_c, rel=1e-4)
        assert r.rel_range == pytest.approx(rel, abs=1e-3)


def test_customer_brand_loyalty_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    p = table(spark, SF_DIR, "part").toPandas()
    cu = table(spark, SF_DIR, "customer").toPandas().set_index("c_custkey")
    na = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    li["rev"] = np.floor(
        li.l_extendedprice * (1 - li.l_discount)
    ).astype(np.int64)
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        p, left_on="l_partkey", right_on="p_partkey"
    )
    cb = j.groupby(["o_custkey", "p_brand"]).rev.sum()
    per_nation = defaultdict(list)
    for ck, g in cb.groupby(level=0):
        total = g.sum()
        if total <= 0:
            continue
        loyalty = g.max() / total
        nation = na.loc[cu.loc[ck, "c_nationkey"], "n_name"]
        per_nation[nation].append((loyalty, len(g)))
    got = q("customer_brand_loyalty").set_index("n_name")
    assert len(got) == len(per_nation)
    for nation, vals in per_nation.items():
        row = got.loc[nation]
        loys = [v[0] for v in vals]
        assert row.n_customers == len(vals)
        assert row.avg_top_brand_share == pytest.approx(
            np.mean(loys), abs=1e-4
        )
        assert row.share_majority_loyal == pytest.approx(
            np.mean([1 if x > 0.5 else 0 for x in loys]), abs=1e-4
        )
        assert row.avg_brands == pytest.approx(
            np.mean([v[1] for v in vals]), abs=1e-4
        )
        # loyalty share is bounded below by 1/n_brands
        assert row.avg_top_brand_share * row.avg_brands >= 0.9
