"""Brute-force parity for the geospatial grid batch (geo_extras.py)."""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.geo_extras import (
    CELL_MD,
    GEO_RADIUS_MD,
    GEO_RADIUS_MD2,
    GEO_TOPK,
    LAT_RANGE,
    LON_RANGE,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


def _bucket(key: str, buckets: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % buckets


def _pt(uid) -> tuple[int, int]:
    return (
        _bucket(f"lat:{uid}", LAT_RANGE) - LAT_RANGE // 2,
        _bucket(f"lon:{uid}", LON_RANGE) - LON_RANGE // 2,
    )


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_geo_neighbor_join_vs_bruteforce(q, spark):
    """The grid-blocked join must return EXACTLY the all-pairs radius
    result — blocking is an optimization, never a semantics change
    (cell width >= radius makes it lossless)."""
    assert CELL_MD >= GEO_RADIUS_MD, "blocking losslessness precondition"
    users = sorted(
        r.user_id
        for r in table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .collect()
    )
    pts = {u: _pt(u) for u in users}
    expected = {}
    for i, a in enumerate(users):
        for b in users[i + 1 :]:
            dlat = pts[a][0] - pts[b][0]
            dlon = pts[a][1] - pts[b][1]
            d2 = dlat * dlat + dlon * dlon
            if d2 <= GEO_RADIUS_MD2:
                expected[(a, b)] = d2
    got = q("geo_neighbor_join")
    assert {
        (r.user_a, r.user_b): r.dist2_md for r in got.itertuples()
    } == expected
    assert len(expected) > 0, "fixture extent must produce matches"


def test_geo_grid_density_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select("user_id").toPandas()
    per_user = Counter(ev.user_id)
    cells = Counter()
    cell_users = Counter()
    import math

    for u, n in per_user.items():
        lat, lon = _pt(u)
        c = (math.floor(lat / CELL_MD), math.floor(lon / CELL_MD))
        cells[c] += n
        cell_users[c] += 1
    got = q("geo_grid_density")
    assert len(got) == min(GEO_TOPK, len(cells))
    for r in got.itertuples():
        c = (r.cell_lat, r.cell_lon)
        assert cells[c] == r.n_events
        assert cell_users[c] == r.n_users
    # it really is the top-k by event count
    kth = sorted(cells.values(), reverse=True)[len(got) - 1]
    assert got.n_events.min() >= kth - 0  # ties broken by cell id
