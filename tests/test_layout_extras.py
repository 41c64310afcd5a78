"""Brute-force parity + locality evidence for the layout batch
(layout_extras.py)."""

from __future__ import annotations

from collections import Counter, defaultdict
from datetime import date

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.layout_extras import (
    CHAR_TOPK,
    Z_BITS,
    Z_BLOCK,
    Z_DATE_DIV,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _morton(x: int, y: int) -> int:
    z = 0
    for i in range(Z_BITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_layout_zorder_vs_bruteforce_and_locality(q, spark):
    o = table(spark, SF_DIR, "orders").select("o_custkey", "o_orderdate").toPandas()
    epoch = date(1995, 1, 1)
    blocks = defaultdict(list)
    for r in o.itertuples():
        xb = int(r.o_custkey) % (1 << Z_BITS)
        yb = ((r.o_orderdate.date() - epoch).days // Z_DATE_DIV) % (1 << Z_BITS)
        blocks[_morton(xb, yb) // Z_BLOCK].append((xb, yb))
    got = q("layout_zorder").set_index("z_block")
    assert set(got.index) == set(blocks)
    for zb, pts in blocks.items():
        r = got.loc[zb]
        assert r.n_orders == len(pts)
        assert r.min_xb == min(p[0] for p in pts)
        assert r.max_xb == max(p[0] for p in pts)
        assert r.min_yb == min(p[1] for p in pts)
        assert r.max_yb == max(p[1] for p in pts)
    # THE z-order property: every block's extent is a small rectangle
    # in BOTH dimensions (a 16-z-value block spans <= 8 cells per axis
    # by Morton geometry), where a 1-D sort would leave one dimension
    # spanning the full 2^Z_BITS range.
    assert int((got.max_xb - got.min_xb).max()) <= 8
    assert int((got.max_yb - got.min_yb).max()) <= 8


def test_corpus_char_trigrams_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("lang", "text").toPandas()
    counts = defaultdict(Counter)
    for r in docs.itertuples():
        t = r.text
        for p in range(len(t) - 2):
            counts[r.lang][t[p : p + 3]] += 1
    got = q("corpus_char_trigrams")
    for lang, grp in got.groupby("lang"):
        ranked = sorted(counts[lang].items(), key=lambda kv: (-kv[1], kv[0]))
        expect = ranked[:CHAR_TOPK]
        rows = grp.sort_values("rk")
        assert list(zip(rows.g, rows.n)) == expect
        assert list(rows.rk) == list(range(1, len(expect) + 1))
    assert set(got.lang) == set(counts)
