"""Brute-force parity for round-7 batch 35 (warehouse_extras29.py)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.geo_extras import (
    CELL_MD,
    LAT_RANGE,
    LON_RANGE,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _pearson(pairs):
    x = np.array([p[0] for p in pairs], dtype=float)
    y = np.array([p[1] for p in pairs], dtype=float)
    n = len(x)
    num = n * (x * y).sum() - x.sum() * y.sum()
    den = np.sqrt(
        (n * (x * x).sum() - x.sum() ** 2)
        * (n * (y * y).sum() - y.sum() ** 2)
    )
    return num / den


def test_ts_pacf_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.normalize()
    got = q("ts_pacf").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        series = g.groupby("day").size().sort_index()
        days = list(series.index)
        vals = {d: int(c) for d, c in series.items()}
        rs = {}
        for k in (1, 2, 3):
            pairs = [
                (vals[days[i - k]], vals[days[i]])
                for i in range(k, len(days))
            ]
            rs[k] = _pearson(pairs)
        r1, r2, r3 = rs[1], rs[2], rs[3]
        phi22 = (r2 - r1 * r1) / (1 - r1 * r1)
        phi21 = r1 * (1 - phi22)
        pacf3 = (r3 - phi21 * r2 - phi22 * r1) / (
            1 - phi21 * r1 - phi22 * r2
        )
        row = got.loc[et]
        assert row.n_pairs == len(days) - 1
        assert row.acf1 == pytest.approx(r1, abs=1e-3)
        assert row.acf2 == pytest.approx(r2, abs=1e-3)
        assert row.acf3 == pytest.approx(r3, abs=1e-3)
        assert row.pacf2 == pytest.approx(phi22, abs=1e-3)
        assert row.pacf3 == pytest.approx(pacf3, abs=1e-3)
    # lag-1 PACF equals ACF1 by definition; sanity of the identity chain
    assert (got.pacf2.abs() <= 1.01).all()


def test_src_parquet_stats_audit_vs_data(q, spark):
    got = q("src_parquet_stats_audit").set_index(
        ["table_name", "column_name"]
    )
    from secdb_spark.operators.warehouse_extras29 import AUDIT_COLS

    n_cols = sum(len(cols) for _, cols in AUDIT_COLS)
    assert len(got) == n_cols
    for t, cols in AUDIT_COLS:
        df = table(spark, SF_DIR, t).toPandas()
        for c in cols:
            row = got.loc[(t, c)]
            assert row.num_values == df[c].notna().sum()
            assert row.min_value == df[c].min()
            assert row.max_value == df[c].max()


def _hash_bucket_py(key: str, buckets: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % buckets


def test_geo_dense_clusters_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    users = sorted(ev.user_id.unique())
    cells = defaultdict(int)
    for u in users:
        lat = _hash_bucket_py(f"lat:{u}", LAT_RANGE) - LAT_RANGE // 2
        lon = _hash_bucket_py(f"lon:{u}", LON_RANGE) - LON_RANGE // 2
        cells[(lat // CELL_MD, lon // CELL_MD)] += 1
    # union-find over 8-neighborhood adjacency
    parent = {c: c for c in cells}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for a in cells:
        for b in cells:
            if a < b and abs(a[0] - b[0]) <= 1 and abs(a[1] - b[1]) <= 1:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
    comp = defaultdict(list)
    for c in cells:
        comp[find(c)].append(c)
    expect = {}
    for members in comp.values():
        ids = sorted(f"{la}:{lo}" for la, lo in members)
        rep = min(ids)
        expect[rep] = (
            len(members),
            sum(cells[m] for m in members),
            ids,
        )
    got = q("geo_dense_clusters").set_index("cluster_rep")
    assert len(got) == len(expect)
    for rep, (n_cells, n_users, ids) in expect.items():
        row = got.loc[rep]
        assert row.n_cells == n_cells
        assert row.n_users == n_users
        assert row.members == "[" + ", ".join(ids) + "]"
