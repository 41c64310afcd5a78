"""Brute-force parity for round-7 batch 12 (eval_extras,
warehouse_extras11)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.eval_extras import (
    IVF_EVAL_K,
    IVF_EVAL_MOD,
)
from secdb_spark.operators.llm_pipeline import (
    IVF_SEED_TAG,
    N_CENTROIDS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_ivf_eval_vs_numpy(q, spark):
    pdf = table(spark, SF_DIR, "embeddings").toPandas()
    ids = pdf.vec_id.to_numpy()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    # md5-seeded centroid pick (the certified basis)
    seed_key = [
        hashlib.md5(f"{IVF_SEED_TAG}{v}".encode()).hexdigest() for v in ids
    ]
    order = np.lexsort((ids, np.array(seed_key)))
    cents = mat[order[:N_CENTROIDS]]
    norm = np.linalg.norm(mat, axis=1)
    cnorm = np.linalg.norm(cents, axis=1)
    sims_c = mat @ cents.T / np.outer(norm, cnorm)
    bucket = np.argmax(sims_c, axis=1)  # ties by lowest idx = argmax rule
    qsel = ids % IVF_EVAL_MOD == 0
    sims = mat[qsel] @ mat.T / np.outer(norm[qsel], norm)
    hits = 0
    cand = 0
    for qi, row in zip(np.where(qsel)[0], sims):
        mask = np.ones(len(ids), bool)
        mask[qi] = False
        keys = sorted(
            zip(-row[mask], ids[mask]),
        )[:IVF_EVAL_K]
        exact = {vid for _, vid in keys}
        same = mask & (bucket == bucket[qi])
        cand += int(same.sum())
        ikeys = sorted(zip(-row[same], ids[same]))[:IVF_EVAL_K]
        ivf = {vid for _, vid in ikeys}
        hits += len(exact & ivf)
    nq = int(qsel.sum())
    got = q("ivf_eval").iloc[0]
    assert got.n_queries == nq
    assert got.recall_at_k == pytest.approx(
        hits / (IVF_EVAL_K * nq), abs=1e-3
    )
    assert got.scan_frac == pytest.approx(
        cand / (nq * (len(ids) - 1)), abs=1e-3
    )
    assert 0 < got.scan_frac < 1  # index actually pruned something


def test_user_hour_entropy_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ev["h"] = ev.ts.dt.hour
    bands = Counter()
    totals = Counter()
    for uid, g in ev.groupby("user_id"):
        c = g.groupby("h").size()
        n = c.sum()
        hbits = -sum(ci / n * math.log2(ci / n) for ci in c)
        band = math.floor(hbits)
        bands[band] += 1
        totals[band] += n
    got = q("user_hour_entropy").set_index("band")
    assert got.n_users.sum() == ev.user_id.nunique()
    for band, nu in bands.items():
        row = got.loc[band]
        assert row.n_users == nu
        assert row.avg_events == pytest.approx(totals[band] / nu, abs=1e-3)


def test_retention_halflife_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    o["m"] = o.o_orderdate.dt.year * 12 + o.o_orderdate.dt.month
    om = o[["o_custkey", "m"]].drop_duplicates()
    cm = om.groupby("o_custkey").m.min()
    maxm = om.m.max()
    ages = (om.m - cm.loc[om.o_custkey].to_numpy()).to_numpy()
    num = Counter(a for a in ages if a >= 1)
    sizes = Counter(cm.values)
    xs, ys = [], []
    for a, n_act in sorted(num.items()):
        elig = sum(sz for c, sz in sizes.items() if c + a <= maxm)
        xs.append(a)
        ys.append(math.log(n_act / elig))
    slope = np.polyfit(xs, ys, 1)[0]
    got = q("retention_halflife").iloc[0]
    assert got.n_ages == len(xs)
    assert got.slope == pytest.approx(slope, abs=1e-3)
    assert got.halflife_months == pytest.approx(
        -math.log(2) / slope, rel=1e-2
    )
    assert got.slope < 0  # retention decays


def test_supplier_leadtime_drift_vs_polyfit(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    o = table(spark, SF_DIR, "orders").toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    j["x"] = j.o_orderdate.dt.year
    j["y"] = (j.l_shipdate - j.o_orderdate).dt.days
    got = q("supplier_leadtime_drift").set_index("l_suppkey")
    assert got.n_lines.sum() == len(j)
    for sk, g in list(j.groupby("l_suppkey"))[:25]:
        row = got.loc[sk]
        assert row.n_lines == len(g)
        slope = np.polyfit(g.x, g.y, 1)[0]
        assert row.drift_days_per_year == pytest.approx(slope, abs=1e-3)
