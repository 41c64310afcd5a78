"""Brute-force parity checks for the round-6 batch-6 operators
(similarity_extras.py)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.similarity_extras import (
    _PLANES,
    EMB_SCALE,
    EVENT_TYPES,
    QBINS,
    SRP_PLANES,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _srp_sig(vec) -> int:
    sig = 0
    for p in range(SRP_PLANES):
        dot = sum(
            math.floor(float(x) * EMB_SCALE + 0.5) * c
            for x, c in zip(vec, _PLANES[p])
        )
        if dot >= 0:
            sig += 1 << p
    return sig


def test_ann_lsh_exact_vs_bruteforce(q, spark):
    emb = table(spark, SF_DIR, "embeddings").toPandas()
    exp = defaultdict(lambda: [0, set(), None, 0])
    for r in emb.itertuples():
        s = _srp_sig(r.embedding)
        e = exp[s]
        e[0] += 1
        e[1].add(r.label)
        e[2] = r.vec_id if e[2] is None else min(e[2], r.vec_id)
        e[3] += int(r.vec_id)
    got = q("ann_lsh_exact").set_index("sig")
    assert set(got.index) == set(exp)
    for s, (n, labels, rep, chk) in exp.items():
        r = got.loc[s]
        assert r.n_vectors == n
        assert r.n_labels == len(labels)
        assert r.rep_vec == rep
        assert r.id_checksum == chk
    # planes must actually split the corpus (not constant-sign junk)
    assert len(exp) > 2
    # coefficients are deterministic md5 derivations, mean ~0
    flat = [c for row in _PLANES for c in row]
    assert abs(np.mean(flat)) < 100


def test_sim_containment_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    tok = {r.doc_id: set(r.text.split(" ")) for r in docs.itertuples()}
    got = q("sim_containment")
    seen = set(zip(got.doc_a, got.doc_b))
    ids = sorted(tok)
    expected = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(tok[a] & tok[b])
            if inter >= 25:
                expected.add((a, b))
    assert seen == expected
    for r in got.sample(min(100, len(got)), random_state=3).itertuples():
        inter = len(tok[r.doc_a] & tok[r.doc_b])
        assert r.n_common == inter
        assert abs(r.containment_a - inter / len(tok[r.doc_a])) < 1e-3
        assert abs(r.containment_b - inter / len(tok[r.doc_b])) < 1e-3
        # containment dominates Jaccard (within the 4-dp rounding of
        # the published containment value)
        union = len(tok[r.doc_a] | tok[r.doc_b])
        assert r.containment_a >= inter / union - 5e-5


def test_feat_quantile_bin_vs_bruteforce(q, spark):
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_acctbal").toPandas()
    ordered = c.sort_values(["c_acctbal", "c_custkey"]).reset_index(drop=True)
    n = len(ordered)
    base, rem = divmod(n, QBINS)
    got = q("feat_quantile_bin").set_index("bin").sort_index()
    assert list(got.index) == list(range(1, QBINS + 1))
    start = 0
    for b in range(1, QBINS + 1):
        size = base + (1 if b <= rem else 0)
        chunk = ordered.iloc[start : start + size]
        r = got.loc[b]
        assert r.n == size
        assert r.lo == chunk.c_acctbal.min()
        assert r.hi == chunk.c_acctbal.max()
        start += size
    # bins are contiguous and ordered
    assert (got.hi.values[:-1] <= got.lo.values[1:]).all()


def test_dedup_histogram_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("text").toPandas()
    sizes = Counter(Counter(docs.text).values())
    got = q("dedup_histogram").set_index("cluster_size")
    assert {int(k): int(v) for k, v in zip(got.index, got.n_clusters)} == dict(
        sizes
    )
    assert got.n_docs.sum() == len(docs)
    for sz, r in got.iterrows():
        assert r.n_docs == sz * r.n_clusters


def test_events_type_overlap_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").select("user_id", "event_type").toPandas()
    users_of = {
        t: set(ev[ev.event_type == t].user_id) for t in EVENT_TYPES
    }
    got = q("events_type_overlap").set_index(["type_a", "type_b"])
    assert len(got) == len(EVENT_TYPES) * (len(EVENT_TYPES) - 1) // 2
    for i, a in enumerate(EVENT_TYPES):
        for b in EVENT_TYPES[i + 1 :]:
            r = got.loc[(a, b)]
            inter = len(users_of[a] & users_of[b])
            assert r.n_both == inter
            assert r.n_a == len(users_of[a])
            assert r.n_b == len(users_of[b])
            union = len(users_of[a] | users_of[b])
            assert abs(r.jaccard - inter / union) < 1e-3
