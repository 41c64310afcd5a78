"""Brute-force parity + structural properties for the exact-sketch batch
(sketch_extras.py): the oracle certifies cross-engine equality; these
tests certify the SKETCH SEMANTICS (CMS upper bound, Bloom no-false-
negatives, KMV coordination, hashing-trick mass conservation)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.sketch_extras import (
    BLOOM_BITS,
    BLOOM_HASHES,
    BOTTOMK,
    CMS_DEPTH,
    CMS_WIDTH,
    HASH_DIM,
    KMV_SPACE,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


def _bucket(key: str, buckets: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % buckets


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def term_counts(spark):
    docs = table(spark, SF_DIR, "documents").select("text").toPandas()
    tf = Counter()
    for t in docs.text:
        tf.update(t.split(" "))
    return tf


def test_cms_sketch_vs_bruteforce_and_upper_bound(q, term_counts):
    got = q("cms_sketch")
    cells = {(r.row, r.col): r.cnt for r in got.itertuples()}
    expect = defaultdict(int)
    for term, n in term_counts.items():
        for r in range(CMS_DEPTH):
            expect[(r, _bucket(f"cms{r}:{term}", CMS_WIDTH))] += n
    assert cells == dict(expect)
    # the defining CMS property: min-over-rows estimate >= true count
    for term, n in term_counts.items():
        est = min(
            cells.get((r, _bucket(f"cms{r}:{term}", CMS_WIDTH)), 0)
            for r in range(CMS_DEPTH)
        )
        assert est >= n
    # total mass per row equals the token stream length
    stream = sum(term_counts.values())
    for r in range(CMS_DEPTH):
        assert sum(v for (rr, _), v in cells.items() if rr == r) == stream


def test_bloom_build_vs_bruteforce(q, spark):
    keys = sorted(
        r.k
        for r in table(spark, SF_DIR, "orders")
        .selectExpr("o_custkey AS k")
        .distinct()
        .collect()
    )
    words = defaultdict(int)
    for k in keys:
        for j in range(BLOOM_HASHES):
            bit = _bucket(f"bloom{j}:{k}", BLOOM_BITS)
            words[bit // 62] |= 1 << (bit % 62)
    got = q("bloom_build")
    assert {r.word_idx: r.word for r in got.itertuples()} == dict(words)
    assert (got.n_keys == len(keys)).all()

    def member(x) -> bool:
        return all(
            words[_bucket(f"bloom{j}:{x}", BLOOM_BITS) // 62]
            >> (_bucket(f"bloom{j}:{x}", BLOOM_BITS) % 62)
            & 1
            for j in range(BLOOM_HASHES)
        )

    # no false negatives — the Bloom contract
    assert all(member(k) for k in keys)
    # the measured FP count matches brute force on the probe set
    fp = sum(1 for k in keys if member(k + 10_000_000))
    assert (got.fp_probes == fp).all()


def test_sample_bottomk_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id").toPandas()
    hv = sorted(
        (_bucket(f"kmv:{d}", KMV_SPACE), d) for d in docs.doc_id
    )[:BOTTOMK]
    got = q("sample_bottomk").sort_values("rk")
    assert list(zip(got.hv, got.doc_id)) == hv
    assert list(got.rk) == list(range(1, len(hv) + 1))
    # KMV distinct-count estimate is in the right ballpark
    if len(hv) == BOTTOMK:
        est = (BOTTOMK - 1) * KMV_SPACE / hv[-1][0]
        assert 0.3 * len(docs) < est < 3 * len(docs)


def test_feat_hashing_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    got = q("feat_hashing")
    by_doc = defaultdict(dict)
    for r in got.itertuples():
        by_doc[r.doc_id][r.bucket] = r.cnt
    for r in docs.itertuples():
        expect = defaultdict(int)
        for term in r.text.split(" "):
            expect[_bucket(f"fh:{term}", HASH_DIM)] += 1
        assert by_doc[r.doc_id] == dict(expect)
        # mass conservation: bucket counts sum to the token count
        assert sum(expect.values()) == len(r.text.split(" "))
