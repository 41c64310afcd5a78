"""Differential correctness: every registered (query, oracle) pair must
match DuckDB at sf0.001 exactly the way the driver compares at sf0.01
(row count + column names + order-insensitive canonical values).
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR

from secdb_spark.registry import all_oracles, all_queries
from tools.selfcheck import canon_rows

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_operator(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR)
    spdf = sdf.toPandas()
    if name not in ORACLES:
        assert len(spdf) >= 0  # rows-only class: smoke (runs, stable schema)
        return
    opdf = duck.execute(ORACLES[name]).fetchdf()
    assert sorted(spdf.columns) == sorted(opdf.columns)
    assert len(spdf) == len(opdf)
    srows, orows = canon_rows(spdf), canon_rows(opdf)
    mism = [(a, b) for a, b in zip(srows, orows) if a != b]
    assert not mism, f"{len(mism)} mismatched rows; first: {mism[:2]}"
