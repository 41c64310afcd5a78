"""The scale probe's synthesized Nx directory (tools/scale_probe.py):
sf0.001 grown 2x must be an sf-shaped directory every registered op can
run on unchanged — row counts scale, foreign keys resolve within their
row's copy, `catalog.table` schemas and the events.ts unit match the
fixture, copy 0 is the fixture itself, and an op's output scales."""

from __future__ import annotations

import pathlib
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))

from conftest import SF_DIR  # noqa: E402

from secdb_spark.catalog import TABLES, events_ts_unit, table, table_rows  # noqa: E402
from secdb_spark.registry import all_queries  # noqa: E402

import scale_probe  # noqa: E402

ONCE = {"nation", "region"}
#: (fact, its own copy-keyed column, foreign key, dimension, primary key)
FOREIGN_KEYS = [
    ("orders", "o_orderkey", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_orderkey", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_orderkey", "l_suppkey", "supplier", "s_suppkey"),
]


@pytest.fixture(scope="module")
def grown(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale2x"))
    scale_probe.synthesize(spark, SF_DIR, out, 2)
    return out


def test_grown_tables_double_and_dimensions_do_not(grown):
    for name in TABLES:
        factor = 1 if name in ONCE else 2
        assert table_rows(grown, name) == factor * table_rows(SF_DIR, name), name
        assert pathlib.Path(grown, f"{name}.parquet").is_dir(), name


def test_foreign_keys_resolve_within_their_copy(spark, grown):
    """Every foreign key resolves, and to the row's own copy: a key left
    unshifted would still resolve, but into copy 0."""
    for fact, own, fk, dim, pk in FOREIGN_KEYS:
        facts = table(spark, grown, fact)
        keys = table(spark, grown, dim).select(F.col(pk).alias(fk))
        orphans = facts.join(keys, fk, "left_anti").count()
        assert orphans == 0, f"{fact}.{fk} has {orphans} rows outside {dim}.{pk}"
        step = scale_probe.SHIFTS[fact][fk]
        crossed = facts.filter(
            F.floor(F.col(fk) / step) != F.floor(F.col(own) / scale_probe.KEY)
        ).count()
        assert crossed == 0, f"{fact}.{fk} points into another copy ({crossed} rows)"


def test_schemas_and_ts_unit_match_fixture(spark, grown):
    for name in TABLES:
        assert (
            table(spark, grown, name).schema == table(spark, SF_DIR, name).schema
        ), name
    assert events_ts_unit(grown) == events_ts_unit(SF_DIR)


def test_copy_zero_is_the_fixture(spark, grown):
    base = table(spark, SF_DIR, "events")
    copy0 = table(spark, grown, "events").filter(
        f"event_id < {scale_probe.KEY}"
    )
    assert base.exceptAll(copy0).count() == 0
    assert copy0.exceptAll(base).count() == 0


def test_sessionize_doubles_on_the_grown_directory(spark, grown):
    op = all_queries()["events_sessionize"]
    assert op(spark, grown).count() == 2 * op(spark, SF_DIR).count()
