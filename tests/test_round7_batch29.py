"""Brute-force parity for round-7 batch 29 (warehouse_extras24.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras18 import (
    DUP_PREFIX_WORDS,
)
from secdb_spark.operators.warehouse_extras24 import QLEVELS
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_mix_unique_mass_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()

    def fp(text):
        words = text.lower().split(" ")[:DUP_PREFIX_WORDS]
        return hashlib.md5(" ".join(words).encode()).hexdigest()

    docs["h"] = docs.text.map(fp)
    owner = docs.groupby("h").source.min()
    docs["owned"] = docs.apply(lambda r: owner[r.h] == r.source, axis=1)
    got = q("mix_unique_mass").set_index("source")
    owned_total = docs.owned.sum()
    for src, g in docs.groupby("source"):
        row = got.loc[src]
        assert row.n_docs == len(g)
        assert row.n_owned == g.owned.sum()
        assert row.keep_rate == pytest.approx(
            g.owned.sum() / len(g), abs=1e-4
        )
        assert row.unique_mass_share == pytest.approx(
            g.owned.sum() / owned_total, abs=1e-4
        )
    # mass shares sum to 1 (every fingerprint has exactly one owner)
    assert got.unique_mass_share.sum() == pytest.approx(1.0, abs=1e-2)
    assert got.n_owned.sum() == owned_total


def test_trade_repeat_rate_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    li = table(spark, SF_DIR, "lineitem").toPandas()
    s = table(spark, SF_DIR, "supplier").toPandas().set_index("s_suppkey")
    n = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    pair_orders = defaultdict(set)
    for r in j.itertuples():
        pair_orders[(r.o_custkey, r.l_suppkey)].add(r.o_orderkey)
    per_nation = defaultdict(list)
    for (ck, sk), orders in pair_orders.items():
        nation = n.loc[s.loc[sk, "s_nationkey"], "n_name"]
        per_nation[nation].append(len(orders))
    got = q("trade_repeat_rate").set_index("n_name")
    assert len(got) == len(per_nation)
    for nation, counts in per_nation.items():
        row = got.loc[nation]
        rep = sum(1 for c in counts if c >= 2)
        assert row.n_pairs == len(counts)
        assert row.repeat_pairs == rep
        assert row.repeat_rate == pytest.approx(
            rep / len(counts), abs=1e-4
        )
        assert row.avg_orders_per_pair == pytest.approx(
            sum(counts) / len(counts), abs=1e-4
        )


def test_embed_quantize_error_vs_bruteforce(q, spark):
    emb = table(spark, SF_DIR, "embeddings").toPandas()
    got = q("embed_quantize_error").set_index("label")
    per_label = defaultdict(lambda: ([], []))
    for r in emb.itertuples():
        e = np.asarray(r.embedding, dtype=np.float64)
        lo, hi = e.min(), e.max()
        if hi > lo:
            step = (hi - lo) / QLEVELS
            deq = lo + np.round((e - lo) / (hi - lo) * QLEVELS) * step
            err = e - deq
            per_label[r.label][0].append(float((err ** 2).mean()))
            per_label[r.label][1].append(float(np.abs(err).max()))
        else:
            per_label[r.label][0].append(0.0)
            per_label[r.label][1].append(0.0)
    assert len(got) == len(per_label)
    for label, (mses, maxes) in per_label.items():
        row = got.loc[label]
        assert row.n_vecs == len(mses)
        assert row.avg_mse == pytest.approx(np.mean(mses), abs=1e-5)
        assert row.max_abs_err == pytest.approx(max(maxes), abs=1e-5)
        # the quantizer error bound: |err| <= step/2 per element
        assert row.max_abs_err <= 0.51 * (
            max(
                (np.asarray(r.embedding).max() - np.asarray(r.embedding).min())
                for r in emb[emb.label == label].itertuples()
            )
            / QLEVELS
        ) + 1e-9
