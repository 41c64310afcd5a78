"""Brute-force parity for round-8 batch 1 (curation_extras2.py)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.curation_extras import (
    QG_MAX_TOKS,
    QG_MIN_TOKS,
    QG_TTR_DEN,
    QG_TTR_NUM,
    QG_WLEN_HI,
    QG_WLEN_LO,
)
from secdb_spark.operators.curation_extras2 import (
    ANNEAL_P2_PERMILLE,
    DEDUP_CURVE_ORDERS,
    LN_SCALE,
    VOCAB_TOPK,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_DIR, "documents").toPandas()


def _he4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000.0


def _he6(x: float) -> float:
    return math.floor(x * 1_000_000 + 0.5) / 1_000_000.0


def _flags(text: str) -> dict:
    toks = text.split(" ")
    nt, nc = len(toks), len(text)
    nd = len(set(text.lower().split(" ")))
    alpha = nc - nt + 1
    return {
        "short": nt < QG_MIN_TOKS,
        "long": nt > QG_MAX_TOKS,
        "wordlen": alpha < QG_WLEN_LO * nt or alpha > QG_WLEN_HI * nt,
        "ttr": QG_TTR_DEN * nd < QG_TTR_NUM * nt,
    }


def test_corpus_dedup_curve_vs_bruteforce(q, docs):
    got = q("corpus_dedup_curve").set_index(["source", "n"])
    for src, grp in docs.groupby("source"):
        for n in DEDUP_CURVE_ORDERS:
            total, seen = 0, set()
            for text in grp["text"]:
                toks = text.split(" ")
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    total += 1
                    seen.add(g)
            row = got.loc[(src, n)]
            assert row["total_ngrams"] == total
            assert row["distinct_ngrams"] == len(seen)
            assert row["dup_rate"] == pytest.approx(
                _he4(1.0 - len(seen) / total)
            )


def test_text_prefix_novelty_vs_bruteforce(q, docs):
    first = {}
    per_doc = {}
    for r in docs.sort_values("doc_id").itertuples():
        toks = r.text.split(" ")
        tris = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        per_doc[r.doc_id] = tris
        for g in tris:
            first.setdefault(g, r.doc_id)
    got = q("text_prefix_novelty").set_index("doc_id")
    assert len(got) == len(per_doc)
    for doc_id, tris in per_doc.items():
        novel = sum(1 for g in tris if first[g] == doc_id)
        row = got.loc[doc_id]
        assert row["n_trigrams"] == len(tris)
        assert row["n_first_here"] == novel
        assert row["prefix_novelty"] == pytest.approx(
            _he4(novel / len(tris))
        )


def test_quality_rule_ablation_vs_bruteforce(q, docs):
    flags = [_flags(t) for t in docs["text"]]
    got = q("quality_rule_ablation").set_index("rule")
    any_fail = sum(1 for f in flags if any(f.values()))
    for rule in ("short", "long", "wordlen", "ttr"):
        n_fail = sum(1 for f in flags if f[rule])
        n_uniq = sum(
            1
            for f in flags
            if f[rule] and not any(v for k, v in f.items() if k != rule)
        )
        row = got.loc[rule]
        assert row["n_fail"] == n_fail
        assert row["n_unique_kill"] == n_uniq
        assert row["n_docs"] == len(flags)
        assert row["n_any_fail"] == any_fail
        if n_fail:
            assert row["unique_share"] == pytest.approx(_he6(n_uniq / n_fail))
        else:
            assert row["unique_share"] is None or np.isnan(row["unique_share"])


def test_mix_anneal_schedule_vs_bruteforce(q, docs):
    tok_all, tok_pass = Counter(), Counter()
    for r in docs.itertuples():
        nt = len(r.text.split(" "))
        tok_all[r.source] += nt
        if not any(_flags(r.text).values()):
            tok_pass[r.source] += nt
    t_all, t_pass = sum(tok_all.values()), sum(tok_pass.values())
    got = q("mix_anneal_schedule").set_index("source")
    for src in tok_all:
        row = got.loc[src]
        s1, s2 = tok_all[src] / t_all, tok_pass[src] / t_pass
        assert row["tok_all"] == tok_all[src]
        assert row["tok_pass"] == tok_pass[src]
        assert row["share_phase1"] == pytest.approx(_he6(s1))
        assert row["share_phase2"] == pytest.approx(_he6(s2))
        blend = ((1000 - ANNEAL_P2_PERMILLE) * s1 + ANNEAL_P2_PERMILLE * s2) / 1000
        assert row["share_blended"] == pytest.approx(_he6(blend), abs=2e-6)


def test_heaps_law_fit_vs_bruteforce(q, docs):
    got = q("heaps_law_fit").set_index("source")
    for src, grp in docs.groupby("source"):
        seen: set[str] = set()
        cum_t = 0
        xs, ys = [], []
        for r in grp.sort_values("doc_id").itertuples():
            toks = r.text.split(" ")
            cum_t += len(toks)
            seen |= set(toks)
            xs.append(math.floor(math.log(cum_t) * LN_SCALE + 0.5))
            ys.append(math.floor(math.log(len(seen)) * LN_SCALE + 0.5))
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        row = got.loc[src]
        assert row["n_points"] == n
        assert row["heaps_beta"] == pytest.approx(round(slope, 4), abs=1e-4)
        # Heaps exponent is bounded by [0, 1); the tiny synthetic
        # vocabulary saturates almost immediately, so β can reach 0.0
        assert 0.0 <= row["heaps_beta"] < 1.0


def test_vocab_topk_coverage_vs_bruteforce(q, docs):
    freq = Counter()
    for t in docs["text"]:
        freq.update(t.split(" "))
    ordered = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(freq.values())
    got = q("vocab_topk_coverage").set_index("k")
    for k in VOCAB_TOPK:
        used = ordered[:k]
        row = got.loc[k]
        assert row["n_terms_used"] == len(used)
        assert row["total_tokens"] == total
        cov = sum(c for _, c in used) / total
        assert row["coverage"] == pytest.approx(_he4(cov))


def test_vocab_gini_vs_bruteforce(q, docs):
    got = q("vocab_gini").set_index("source")
    for src, grp in docs.groupby("source"):
        freq = Counter()
        for t in grp["text"]:
            freq.update(t.split(" "))
        ranked = sorted(freq.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(ranked)
        sxf = sum(f for _, f in ranked)
        swi = sum((i + 1) * f for i, (_, f) in enumerate(ranked))
        gini = (2.0 * swi) / (n * sxf) - (n + 1.0) / n
        row = got.loc[src]
        assert row["n_terms"] == n
        assert row["gini6"] == math.floor(gini * 1e6 + 0.5)


def test_embed_label_separation_vs_numpy(q, spark):
    emb = table(spark, SF_DIR, "embeddings").toPandas()
    by_label = defaultdict(list)
    for r in emb.itertuples():
        by_label[r.label].append(np.asarray(r.embedding, dtype=np.float64))
    cents = {l: np.mean(np.stack(v), axis=0) for l, v in by_label.items()}
    got = q("embed_label_separation").set_index("label")
    assert len(got) == len(by_label)
    for l, vecs in by_label.items():
        X = np.stack(vecs)
        intra = float(np.mean(((X - cents[l]) ** 2).sum(axis=1)))
        dists = {
            m: float(((cents[l] - cm) ** 2).sum())
            for m, cm in cents.items()
            if m != l
        }
        nearest = min(dists, key=lambda m: (dists[m], m))
        row = got.loc[l]
        assert row["n_vecs"] == len(vecs)
        assert row["intra_var"] == pytest.approx(intra, abs=5e-4)
        assert row["nearest_label"] == nearest
        assert row["inter_d2"] == pytest.approx(dists[nearest], abs=5e-4)
        assert row["separation"] == pytest.approx(
            dists[nearest] / intra, abs=5e-3
        )
