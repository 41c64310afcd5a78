"""Round-trip parity for round-7 batch 27 (sources_sinks2.py)."""

from __future__ import annotations

import numpy as np
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


def test_src_schema_evolution_vs_bruteforce(q, spark):
    p = table(spark, SF_DIR, "part").toPandas()
    got = q("src_schema_evolution").set_index("p_brand")
    assert got.n_parts.sum() == len(p)
    for brand, g in p.groupby("p_brand"):
        row = got.loc[brand]
        odd = g[g.p_partkey % 2 == 1]
        assert row.n_parts == len(g)
        assert row.n_with_price == len(odd)
        assert row.price_cents == int(
            np.floor(odd.p_retailprice * 100 + 0.5).astype(np.int64).sum()
        )


def test_src_csv_corrupt_audit_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    row = q("src_csv_corrupt_audit").iloc[0]
    bad = o[o.o_orderkey % 7 == 0]
    good = o[o.o_orderkey % 7 != 0]
    assert row.n_lines == len(o)
    assert row.n_corrupt == len(bad)
    assert row.n_good == len(good)
    assert row.good_cents == int(
        np.floor(good.o_totalprice * 100 + 0.5).astype(np.int64).sum()
    )
    assert row.max_good_key == good.o_orderkey.max()
    # the poison actually poisons something at this SF
    assert row.n_corrupt > 0


def test_snk_csv_quoting_roundtrip_is_lossless(q, spark):
    p_n = len(table(spark, SF_DIR, "part").toPandas())
    row = q("snk_csv_quoting").iloc[0]
    assert row.n_rows == p_n
    # the whole point: embedded delimiters, quotes and newlines survive
    assert row.n_roundtrip_equal == row.n_rows
