"""Differential correctness: every registered (query, oracle) pair must
match DuckDB at sf0.001 exactly the way the driver compares at sf0.01
(row count + column names + order-insensitive canonical values).
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR

from secdb_spark.registry import all_oracles, all_queries
from secdb_spark.verify import compare_frames

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_operator(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    spdf = sdf.toPandas()
    if name not in ORACLES:
        assert len(spdf) >= 0  # rows-only class: smoke (runs, stable schema)
        return
    res = compare_frames(name, spdf, duck.execute(ORACLES[name]).fetchdf())
    assert res.ok, res.detail
