"""Brute-force parity for round-6 batch-15 (recsys_extras.py)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from conftest import SF_DIR, above_gates

from secdb_spark.catalog import table
from secdb_spark.operators.recsys_extras import (
    CF_MIN_CO,
    CF_SEEDS,
    CF_TOPK,
    LSH_EVAL_DEN,
    LSH_EVAL_NUM,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_cf_item_similarity_vs_bruteforce(q, spark):
    li = (
        table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    baskets = defaultdict(set)
    for r in li.itertuples():
        baskets[r.l_orderkey].add(r.l_partkey)
    freq = Counter()
    for items in baskets.values():
        freq.update(items)
    seeds = sorted(freq, key=lambda p: (-freq[p], p))[:CF_SEEDS]
    got = q("cf_item_similarity")
    for seed in seeds:
        co = Counter()
        for items in baskets.values():
            if seed in items:
                for it in items:
                    if it != seed:
                        co[it] += 1
        scored = sorted(
            (
                (-(c / math.sqrt(freq[seed] * freq[it])), it, c)
                for it, c in co.items()
                if c >= CF_MIN_CO
            ),
        )[:CF_TOPK]
        rows = got[got.seed == seed].sort_values("rk")
        assert len(rows) == len(scored)
        for (negcos, it, c), r in zip(scored, rows.itertuples()):
            assert r.item == it
            assert r.co_baskets == c
            assert abs(r.cosine - (-negcos)) < 1e-3
    assert set(got.seed) <= set(seeds)


def test_lsh_eval_vs_bruteforce_truth(q, spark):
    """Recompute the exact-Jaccard ground truth in python and check the
    n_true / recall identity; candidates come from the already-certified
    lsh_candidates op."""
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    tok = {r.doc_id: set(r.text.split(" ")) for r in docs.itertuples()}
    ids = sorted(tok)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(tok[a] & tok[b])
            if (LSH_EVAL_NUM + LSH_EVAL_DEN) * inter >= LSH_EVAL_NUM * (
                len(tok[a]) + len(tok[b])
            ):
                truth.add((a, b))
    got = q("lsh_eval").iloc[0]
    cand_df = q("lsh_candidates")
    cand = set(zip(cand_df.doc_a, cand_df.doc_b))
    hit = truth & cand
    assert got.n_true == len(truth)
    assert got.n_candidates == len(cand)
    assert got.n_hit == len(hit)
    assert got.recall_bp == math.floor(len(hit) * 10000.0 / len(truth) + 0.5)
    assert got.precision_bp == math.floor(
        len(hit) * 10000.0 / len(cand) + 0.5
    )
    # banding at 2x2 over 4 sigs should catch most high-sim pairs
    assert got.recall_bp > 5000, "LSH recall collapsed below 50%"


def test_simhash_pairs_blocking_is_lossless(q, spark):
    """The pigeonhole block join must return EXACTLY the all-pairs
    Hamming<=3 set over the certified signatures — blocking is an
    optimization, never a semantics change."""
    from secdb_spark.operators.text_analysis import SIMHASH_HAM_MAX

    sims = q("dedup_simhash")
    sig = dict(zip(sims.doc_id, sims.simhash))
    ids = sorted(sig)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(int(sig[a]) ^ int(sig[b])).count("1")
            if h <= SIMHASH_HAM_MAX:
                expected[(a, b)] = h
    got = q("simhash_pairs")
    assert {
        (r.doc_a, r.doc_b): r.hamming for r in got.itertuples()
    } == expected
    assert len(expected) > 0, "fixture corpus must contain near-dup sigs"


def test_lsh_eval_grouped_equals_postings_path(q, spark, monkeypatch):
    """The r13 group-contracted bitmask kernel is an optimization, never
    a semantics change: forcing the all-pairs gate off must route
    lsh_eval through the original postings-join truth and produce the
    IDENTICAL five-column row."""
    fast = q("lsh_eval").iloc[0]
    above_gates(monkeypatch)
    slow = all_queries()["lsh_eval"](spark, SF_DIR).toPandas().iloc[0]
    for col in (
        "n_true",
        "n_candidates",
        "n_hit",
        "recall_bp",
        "precision_bp",
    ):
        assert fast[col] == slow[col], (col, fast[col], slow[col])
