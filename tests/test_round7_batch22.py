"""Brute-force parity for round-7 batch 22 (warehouse_extras20.py)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.text_analysis import SEQ_LEN
from secdb_spark.operators.warehouse_extras20 import (
    HURST_WINDOWS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_embed_cluster_purity_vs_assignment(q, spark):
    # embed_kmeans is the already-certified assignment; purity must be
    # its exact label cross-tab.
    asg = QUERIES["embed_kmeans"](spark, SF_DIR).toPandas()
    emb = table(spark, SF_DIR, "embeddings").toPandas()
    lab = asg.merge(emb[["vec_id", "label"]], on="vec_id")
    got = q("embed_cluster_purity").set_index("cluster")
    assert got.n_vecs.sum() == len(emb)
    for cl, g in lab.groupby("cluster"):
        counts = Counter(g.label)
        n = len(g)
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        ent = -sum(
            (c / n) * math.log2(c / n) for c in counts.values()
        )
        row = got.loc[cl]
        assert row.n_vecs == n
        assert row.top_label == top[0]
        assert row.purity == pytest.approx(top[1] / n, abs=1e-4)
        assert row.label_entropy_bits == pytest.approx(ent, abs=1e-3)


def test_pack_fill_stats_vs_seq_pack(q, spark):
    sp = QUERIES["seq_pack"](spark, SF_DIR).toPandas()
    row = q("pack_fill_stats").iloc[0]
    assert row.n_seqs == len(sp)
    assert row.n_full_seqs == (sp.n_tokens == SEQ_LEN).sum()
    assert row.multi_doc_share == pytest.approx(
        (sp.n_docs >= 2).mean(), abs=1e-4
    )
    assert row.avg_docs_per_seq == pytest.approx(
        sp.n_docs.mean(), abs=1e-4
    )
    assert row.total_tokens == sp.n_tokens.sum()
    assert row.tail_tokens == sp.n_tokens.sum() % SEQ_LEN
    # every sequence except possibly the last is full
    assert row.n_full_seqs in (row.n_seqs, row.n_seqs - 1)


def test_ts_hurst_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_hurst").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("day").value.sum().sort_index().to_numpy()
        n = len(daily)
        xs, ys = [], []
        per_w = {}
        for w in HURST_WINDOWS:
            rss = []
            for k in range(n // w):
                seg = daily[k * w:(k + 1) * w]
                m = seg.mean()
                cum = np.cumsum(seg - m)
                r = cum.max() - cum.min()
                s = math.sqrt(((seg - m) ** 2).mean())
                if s > 0:
                    rss.append(r / s)
            if rss:
                mean_rs = float(np.mean(rss))
                per_w[w] = mean_rs
                xs.append(math.log(w))
                ys.append(math.log(mean_rs))
        if len(xs) < 2:
            assert et not in got.index
            continue
        slope = np.polyfit(xs, ys, 1)[0]
        row = got.loc[et]
        assert row.n_days == n
        assert row.hurst == pytest.approx(slope, abs=1e-3)
        for w in HURST_WINDOWS:
            col = f"rs_w{w}"
            if w in per_w:
                assert row[col] == pytest.approx(per_w[w], abs=1e-3)
            else:
                assert np.isnan(row[col])
        # R/S exponents live in (0, 1) for any real series
        assert 0 < row.hurst < 1.5
