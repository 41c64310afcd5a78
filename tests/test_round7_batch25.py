"""Brute-force parity for round-7 batch 25 (corpus_extras2.py)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.corpus_extras2 import (
    STOP_K_BIG,
    STOP_K_SMALL,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_length_pareto_ks_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    docs = docs[docs.n_chars > 0]
    got = q("length_pareto_ks").set_index("source")
    for src, g in docs.groupby("source"):
        vs = g.n_chars.astype(int).to_numpy()
        n, vmin = len(vs), int(vs.min())
        alpha = n / sum(math.log(v / vmin) for v in vs)
        counts = Counter(vs)
        cum, d = 0, 0.0
        for v in sorted(counts):
            model = 1 - (vmin / v) ** alpha
            lo = cum / n
            cum += counts[v]
            hi = cum / n
            d = max(d, abs(hi - model), abs(lo - model))
        row = got.loc[src]
        assert row.n_docs == n
        assert row.vmin == vmin
        assert row.alpha == pytest.approx(alpha, rel=1e-3)
        assert row.ks_d == pytest.approx(d, abs=1e-3)
        assert 0 <= row.ks_d <= 1


def test_corpus_stopword_coverage_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    cf = Counter()
    per_source = {}
    for _, r in docs.iterrows():
        toks = [t for t in r.text.lower().split(" ") if t]
        cf.update(toks)
        per_source.setdefault(r.source, Counter()).update(toks)
    ranked = sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))
    small = {t for t, _ in ranked[:STOP_K_SMALL]}
    big = {t for t, _ in ranked[:STOP_K_BIG]}
    got = q("corpus_stopword_coverage").set_index("source")
    assert len(got) == len(per_source)
    for src, c in per_source.items():
        n = sum(c.values())
        cs = sum(v for t, v in c.items() if t in small)
        cb = sum(v for t, v in c.items() if t in big)
        row = got.loc[src]
        assert row.n_tokens == n
        assert row[f"cov_top{STOP_K_SMALL}"] == pytest.approx(
            cs / n, abs=1e-4
        )
        assert row[f"cov_top{STOP_K_BIG}"] == pytest.approx(cb / n, abs=1e-4)
        # a longer head can only cover more
        assert (
            row[f"cov_top{STOP_K_BIG}"] >= row[f"cov_top{STOP_K_SMALL}"]
        )


def test_knn_reciprocity_vs_edges(q, spark):
    edges = (
        QUERIES["sim_cosine_topk"](spark, SF_DIR)
        .toPandas()[["query_id", "neighbor_id"]]
    )
    eset = set(zip(edges.query_id, edges.neighbor_id))
    n_recip = sum(1 for a, b in eset if (b, a) in eset)
    indeg = Counter(edges.neighbor_id)
    row = q("knn_reciprocity").iloc[0]
    assert row.n_vectors == edges.query_id.nunique()
    assert row.n_edges == len(eset)
    assert row.reciprocal_share == pytest.approx(
        n_recip / len(eset), abs=1e-4
    )
    assert row.max_in_degree == max(indeg.values())
    hubs = sum(1 for v in indeg.values() if v > 10)
    assert row.hub_share == pytest.approx(
        hubs / edges.query_id.nunique(), abs=1e-4
    )
    assert 0 <= row.reciprocal_share <= 1
