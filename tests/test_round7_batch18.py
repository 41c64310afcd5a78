"""Brute-force parity for round-7 batch 18 (warehouse_extras16.py)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras16 import (
    KNN_K,
    KNN_MOD,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_stream_cdc_apply_equals_batch_cdc(q, spark):
    """The streaming apply must equal the batch change-log answer:
    latest non-delete record per key; keys whose LAST op is a delete
    vanish."""
    o = table(spark, SF_DIR, "orders").toPandas()
    got = q("stream_cdc_apply").set_index("o_orderkey")
    expect = {}
    for _, r in o.iterrows():
        k = r.o_orderkey
        last_seq = k % 3
        deleted = k % 10 == 0  # delete arrives at the last seq
        if not deleted:
            expect[k] = round(r.o_totalprice + last_seq, 4)
    assert set(got.index) == set(expect)
    for k, v in list(expect.items())[:200]:
        assert got.loc[k].latest_value == pytest.approx(v, abs=1e-9)


def test_knn_label_eval_vs_numpy(q, spark):
    pdf = table(spark, SF_DIR, "embeddings").toPandas()
    ids = pdf.vec_id.to_numpy()
    labels = pdf.label.to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    norm = np.linalg.norm(mat, axis=1)
    qsel = ids % KNN_MOD == 0
    sims = mat[qsel] @ mat.T / np.outer(norm[qsel], norm)
    stats = Counter()
    correct = Counter()
    for qi, row in zip(np.where(qsel)[0], sims):
        mask = np.ones(len(ids), bool)
        mask[qi] = False
        top = sorted(zip(-row[mask], ids[mask], labels[mask]))[:KNN_K]
        votes = Counter(lab for _, _, lab in top)
        pred = min(votes, key=lambda lab: (-votes[lab], lab))
        stats[labels[qi]] += 1
        correct[labels[qi]] += int(pred == labels[qi])
    got = q("knn_label_eval").set_index("label")
    assert got.n_queries.sum() == sum(stats.values())
    for lab, n in stats.items():
        row = got.loc[lab]
        assert row.n_queries == n
        assert row.n_correct == correct[lab]
        assert row.accuracy == pytest.approx(correct[lab] / n, abs=1e-3)


def test_customer_lorenz_deciles_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["v"] = np.floor(o.o_totalprice * 100 + 0.5).astype(np.int64)
    cr = o.groupby("o_custkey").v.sum().sort_values(kind="stable")
    # ntile(10) over (revq, custkey) ascending
    order = sorted(zip(cr.values, cr.index))
    n = len(order)
    base, extra = divmod(n, 10)
    got = q("customer_lorenz_deciles").set_index("decile").sort_index()
    total = cr.sum()
    idx = 0
    cum = 0
    for d in range(1, 11):
        size = base + (1 if d <= extra else 0)
        chunk = order[idx: idx + size]
        idx += size
        rev = sum(v for v, _ in chunk)
        cum += rev
        row = got.loc[d]
        assert row.n_customers == size
        assert row.share == pytest.approx(rev / total, abs=1e-3)
        assert row.cum_share == pytest.approx(cum / total, abs=1e-3)
    # Lorenz curve properties
    assert got.cum_share.iloc[-1] == pytest.approx(1.0, abs=1e-3)
    assert (got.share.diff().dropna() >= -1e-9).all()  # nondecreasing
