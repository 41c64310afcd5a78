"""Brute-force parity for round-7 batch 34 (warehouse_extras28.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras28 import (
    SWEEP_CONFIGS,
    SWEEP_SEEDS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_lsh_band_sweep_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    sigs = {}
    for r in docs.itertuples():
        terms = set(r.text.split(" "))
        sigs[r.doc_id] = [
            min(hashlib.md5((s + t).encode()).hexdigest() for t in terms)
            for s in SWEEP_SEEDS
        ]
    expect = {}
    for b, rr in SWEEP_CONFIGS:
        buckets = defaultdict(list)
        for did, sg in sigs.items():
            for band in range(b):
                key = (band, "".join(sg[band * rr: (band + 1) * rr]))
                buckets[key].append(did)
        hits = Counter()
        for ids in buckets.values():
            ids.sort()
            for i in range(len(ids)):
                for jj in range(i + 1, len(ids)):
                    hits[(ids[i], ids[jj])] += 1
        expect[f"b{b}r{rr}"] = (len(hits), sum(hits.values()))
    got = q("lsh_band_sweep").set_index("config")
    assert len(got) == len([c for c in expect.values() if c[0] > 0])
    for cfg, (npairs, nhits) in expect.items():
        if npairs == 0:
            assert cfg not in got.index
            continue
        row = got.loc[cfg]
        assert row.n_candidate_pairs == npairs
        assert row.n_band_hits == nhits
        b = int(cfg[1: cfg.index("r")])
        rr = int(cfg[cfg.index("r") + 1:])
        assert row.n_bands == b and row.rows_per_band == rr
        assert row.est_threshold == pytest.approx(
            (1 / b) ** (1 / rr), abs=1e-4
        )
    # tighter bandings can never produce MORE candidates than looser ones
    assert (
        got.loc["b1r8"].n_candidate_pairs
        <= got.loc["b2r4"].n_candidate_pairs
        <= got.loc["b4r2"].n_candidate_pairs
        <= got.loc["b8r1"].n_candidate_pairs
    )


def test_quality_band_mix_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    freq = Counter()
    doc_tf = {}
    for r in docs.itertuples():
        tf = Counter(r.text.split(" "))
        doc_tf[r.doc_id] = tf
        freq.update(tf)
    n = sum(freq.values())
    bands = {}
    for did, tf in doc_tf.items():
        # mirror the decimal(38,6) quantization of each addend
        s = sum(
            round(c * np.log(freq[t] / n), 6) for t, c in tf.items()
        )
        bands[did] = int(np.floor(s / sum(tf.values()) * 100))
    src = docs.set_index("doc_id").source
    mix = Counter((src[d], b) for d, b in bands.items())
    per_source = Counter(src[d] for d in bands)
    got = q("quality_band_mix").set_index(["source", "logp_cband"])
    assert len(got) == len(mix)
    for (s_, b_), c in mix.items():
        row = got.loc[(s_, b_)]
        assert row.n_docs == c
        assert row.share_of_source == pytest.approx(
            c / per_source[s_], abs=1e-4
        )


def test_trade_reciprocity_vs_bruteforce(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    c = table(spark, SF_DIR, "customer").toPandas()
    s = table(spark, SF_DIR, "supplier").toPandas()
    n = table(spark, SF_DIR, "nation").toPandas().set_index("n_nationkey")
    li["rev"] = np.floor(
        li.l_extendedprice * (1 - li.l_discount)
    ).astype(np.int64)
    j = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(s, left_on="l_suppkey", right_on="s_suppkey")
    )
    j["cn"] = j.c_nationkey.map(n.n_name)
    j["sn"] = j.s_nationkey.map(n.n_name)
    j = j[j.cn != j.sn]
    flow = j.groupby(["cn", "sn"]).rev.sum().to_dict()
    pairs = {}
    for (cn, sn), rev in flow.items():
        lo, hi = sorted((cn, sn))
        a, b = pairs.get((lo, hi), (0, 0))
        if cn == lo:
            pairs[(lo, hi)] = (a + rev, b)
        else:
            pairs[(lo, hi)] = (a, b + rev)
    got = q("trade_reciprocity").set_index(["nation_lo", "nation_hi"])
    assert len(got) == len(pairs)
    for key, (flo, fhi) in pairs.items():
        row = got.loc[key]
        assert row.flow_lo_buys == flo
        assert row.flow_hi_buys == fhi
        sym = 1 - abs(flo - fhi) / (flo + fhi)
        assert row.symmetry == pytest.approx(sym, abs=1e-4)
        assert 0 <= row.symmetry <= 1
