"""Brute-force parity checks for the round-6 batch-5 operators
(ml_prep.py) — independent python/numpy formulations beside the DuckDB
oracles so a mirrored-formula bug cannot certify silently."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.ml_prep import (
    BAL_BAND,
    K_ANON,
    KHOP_TOPK,
    MIX_SCALE,
    SEGMENTS,
    SPLIT_BP,
    XCORR_A,
    XCORR_B,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


@pytest.fixture(scope="module")
def cust_pd(spark):
    return table(spark, SF_DIR, "customer").toPandas()


def _bucket(key: str, buckets: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % buckets


def test_feat_onehot_exact(q, cust_pd):
    got = q("feat_onehot").set_index("c_custkey")
    assert len(got) == len(cust_pd)
    for r in cust_pd.itertuples():
        row = got.loc[r.c_custkey]
        for s in SEGMENTS:
            assert row[f"seg_{s.lower()}"] == int(r.c_mktsegment == s)
        assert row.seg_other == int(r.c_mktsegment not in SEGMENTS)
    # exactly one indicator fires per row
    ind_cols = [f"seg_{s.lower()}" for s in SEGMENTS] + ["seg_other"]
    assert (got[ind_cols].sum(axis=1) == 1).all()


def test_feat_scale_vs_numpy(q, cust_pd):
    got = q("feat_scale").set_index("c_custkey")
    for seg, grp in cust_pd.groupby("c_mktsegment"):
        x = np.floor(grp.c_acctbal.values * 100 + 0.5)
        mu, sd = x.mean(), x.std()  # population std, matches the op
        mn, mx = x.min(), x.max()
        for ck, xi in zip(grp.c_custkey, x):
            r = got.loc[ck]
            assert abs(r.z_bal - (xi - mu) / sd) < 1e-3
            assert abs(r.mm_bal - (xi - mn) / (mx - mn)) < 1e-3
    # z-scores average ~0 within each segment
    merged = got.join(cust_pd.set_index("c_custkey").c_mktsegment)
    assert (merged.groupby("c_mktsegment").z_bal.mean().abs() < 0.01).all()


def test_split_train_test_vs_hashlib(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id").toPandas()
    exp = defaultdict(lambda: [0, 0])
    for did in docs.doc_id:
        b = _bucket(f"split:{did}", 10_000)
        split = (
            "train"
            if b < SPLIT_BP[0]
            else ("valid" if b < SPLIT_BP[0] + SPLIT_BP[1] else "test")
        )
        exp[split][0] += 1
        exp[split][1] += int(did)
    got = q("split_train_test").set_index("split")
    assert set(got.index) == set(exp)
    for split, (n, chk) in exp.items():
        assert got.loc[split].n_docs == n
        assert got.loc[split].id_checksum == chk
    assert got.n_docs.sum() == len(docs)


def test_audit_k_anonymity_vs_bruteforce(q, cust_pd):
    sizes = Counter(
        (
            r.c_nationkey,
            r.c_mktsegment,
            math.floor(math.floor(r.c_acctbal * 100 + 0.5) / BAL_BAND),
        )
        for r in cust_pd.itertuples()
    )
    got = q("audit_k_anonymity").iloc[0]
    exposed = sum(v for v in sizes.values() if v < K_ANON)
    assert got.n_groups == len(sizes)
    assert got.min_group_size == min(sizes.values())
    assert got.n_small_groups == sum(1 for v in sizes.values() if v < K_ANON)
    assert got.n_exposed_rows == exposed
    assert abs(got.exposed_share - exposed / len(cust_pd)) < 1e-3


def test_mix_apply_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "source").toPandas()
    counts = docs.source.value_counts()
    total = counts.sum()
    qw = {
        s: math.floor(math.sqrt(n / total) * MIX_SCALE + 0.5)
        for s, n in counts.items()
    }
    anchor = min(qw, key=lambda s: (counts[s] / qw[s], s))
    rates = {
        s: (counts[anchor] * 10000 * qw[s]) // (qw[anchor] * counts[s])
        for s in qw
    }
    assert rates[anchor] == 10000, "anchor source must keep everything"
    assert all(r <= 10000 for r in rates.values()), "no source upsamples"
    exp = defaultdict(lambda: [0, 0])
    for r in docs.itertuples():
        if _bucket(f"mix:{r.doc_id}", 10_000) < rates[r.source]:
            exp[r.source][0] += 1
            exp[r.source][1] += int(r.doc_id)
    got = q("mix_apply").set_index("source")
    assert set(got.index) == set(exp)
    for s, (n, chk) in exp.items():
        assert got.loc[s].rate_bp == rates[s]
        assert got.loc[s].n_kept == n
        assert got.loc[s].id_checksum == chk


def test_graph_khop_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey").toPandas()
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey").toPandas()
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    edges = set(zip(m.o_custkey, m.l_suppkey))
    by_c = defaultdict(set)
    by_s = defaultdict(set)
    for c, s in edges:
        by_c[c].add(s)
        by_s[s].add(c)
    seeds = sorted(by_c, key=lambda c: (-len(by_c[c]), c))[:KHOP_TOPK]
    got = q("graph_khop").set_index("custkey")
    assert set(got.index) == set(seeds)
    for c in seeds:
        reach = set().union(*(by_s[s] for s in by_c[c])) - {c}
        assert got.loc[c].n_suppliers_1hop == len(by_c[c])
        assert got.loc[c].n_customers_2hop == len(reach)


def test_ts_cross_corr_vs_numpy(q, spark):
    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    got = q("ts_cross_corr").set_index("lag")
    a = ev[ev.event_type == XCORR_A].groupby("day").size()
    b = ev[ev.event_type == XCORR_B].groupby("day").size()
    for lag in got.index:
        xs, ys = [], []
        for day, x in a.items():
            shifted = day + np.timedelta64(int(lag), "D")
            if shifted in b.index:
                xs.append(x)
                ys.append(b[shifted])
        r = got.loc[lag]
        assert r.n_days == len(xs)
        assert abs(r.xcorr - np.corrcoef(xs, ys)[0, 1]) < 1e-3
