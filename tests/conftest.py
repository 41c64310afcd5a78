"""Shared fixtures: one SparkSession + one DuckDB connection per test run."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def above_gates(monkeypatch):
    """Force every size gate to its large-input branch: `catalog.fits`,
    the one predicate each gate asks, answers False until `monkeypatch`
    undoes it."""
    from secdb_spark import catalog

    monkeypatch.setattr(catalog, "fits", lambda *_: False)


@pytest.fixture(scope="session")
def spark():
    from secdb_spark.session import get_spark

    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from secdb_spark.verify import duckdb_connect

    con = duckdb_connect(SF_DIR)
    yield con
    con.close()
