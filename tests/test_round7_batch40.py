"""Brute-force parity for round-7 batch 40 (warehouse_extras34.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.text_analysis import LANGID_MARKERS
from secdb_spark.operators.warehouse_extras28 import SWEEP_SEEDS
from secdb_spark.operators.warehouse_extras34 import ECDF_PROBES
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _predict(text: str) -> str:
    toks = text.split(" ")
    scores = {
        lang: sum(t in set(words) for t in toks) if words else 0
        for lang, words in LANGID_MARKERS.items()
    }
    en, de, es, fr = scores["en"], scores["de"], scores["es"], scores["fr"]
    if en >= max(de, es, fr, 1):
        return "en"
    if de >= max(es, fr, 1):
        return "de"
    if es >= max(fr, 1):
        return "es"
    if fr >= 1:
        return "fr"
    return "unknown"


def test_langid_confusion_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    cells = Counter()
    declared = Counter()
    for r in docs.itertuples():
        pred = _predict(r.text)
        cells[(r.lang, pred)] += 1
        declared[r.lang] += 1
    got = q("langid_confusion").set_index(
        ["declared_lang", "predicted_lang"]
    )
    assert len(got) == len(cells)
    for (dl, pl), c in cells.items():
        row = got.loc[(dl, pl)]
        assert row.n_docs == c
        assert row.share_of_declared == pytest.approx(
            c / declared[dl], abs=1e-4
        )
        assert bool(row.correct) == (dl == pl)
    # zh has no marker list -> its predictions can never be 'zh'
    zh_rows = got.loc["zh"] if "zh" in got.index.get_level_values(0) else None
    if zh_rows is not None:
        assert "zh" not in zh_rows.index


def test_ecdf_lookup_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    got = q("ecdf_lookup").set_index("o_orderpriority")
    for prio, g in o.groupby("o_orderpriority"):
        row = got.loc[prio]
        assert row.n_orders == len(g)
        prev = 0.0
        for p in ECDF_PROBES:
            share = (g.o_totalprice <= p).mean()
            col = f"ecdf_{p // 1000}k"
            assert row[col] == pytest.approx(share, abs=1e-4)
            assert row[col] >= prev  # ECDF is monotone
            prev = row[col]


def test_minhash_jaccard_calibration_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    sigs, terms = {}, {}
    for r in docs.itertuples():
        ts = set(r.text.split(" "))
        terms[r.doc_id] = ts
        sigs[r.doc_id] = [
            min(hashlib.md5((s + t).encode()).hexdigest() for t in ts)
            for s in SWEEP_SEEDS
        ]
    buckets = defaultdict(list)
    for did, sg in sigs.items():
        for band in range(4):
            buckets[(band, sg[2 * band] + sg[2 * band + 1])].append(did)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    agg = defaultdict(lambda: [0, 0.0])
    for a, b in cand:
        k = sum(sigs[a][i] == sigs[b][i] for i in range(8))
        inter = len(terms[a] & terms[b])
        jac = inter / (len(terms[a]) + len(terms[b]) - inter)
        agg[k][0] += 1
        agg[k][1] += round(jac, 6)
    got = q("minhash_jaccard_calibration").set_index("n_match")
    assert len(got) == len(agg)
    for k, (n, sj) in agg.items():
        row = got.loc[k]
        assert row.n_pairs == n
        assert row.est_jaccard == pytest.approx(k / 8, abs=1e-4)
        assert row.mean_exact_jaccard == pytest.approx(sj / n, abs=1e-3)
    # the estimator must be monotone on this corpus: more matching sigs,
    # higher mean exact Jaccard
    ordered = got.sort_index().mean_exact_jaccard.values
    assert all(np.diff(ordered) > -0.15)  # allow small-bucket noise
