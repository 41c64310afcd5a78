"""Brute-force parity for round-7 batch 13 (warehouse_extras12.py)."""

from __future__ import annotations

import math
from collections import Counter
from itertools import combinations

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras12 import BRC_ANCHOR
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_events_type_pmi_vs_bruteforce(q, spark):
    ev = table(spark, SF_DIR, "events").toPandas()
    ut = ev[["user_id", "event_type"]].drop_duplicates()
    users = ut.groupby("user_id").event_type.apply(set)
    nu = len(users)
    marg = Counter()
    pairs = Counter()
    for types in users:
        for t in types:
            marg[t] += 1
        for a, b in combinations(sorted(types), 2):
            pairs[(a, b)] += 1
    got = q("events_type_pmi").set_index(["ta", "tb"])
    assert len(got) == len(pairs)
    for (a, b), n_ab in pairs.items():
        row = got.loc[(a, b)]
        assert row.n_ab == n_ab
        pmi = math.log2(n_ab * nu / (marg[a] * marg[b]))
        assert row.pmi6 == pytest.approx(pmi * 1e6, abs=1.01)


def test_brand_revenue_corr_vs_numpy(q, spark):
    li = table(spark, SF_DIR, "lineitem").toPandas()
    p = table(spark, SF_DIR, "part").toPandas()
    j = li.merge(p, left_on="l_partkey", right_on="p_partkey")
    j["wk"] = (j.l_shipdate - np.datetime64(BRC_ANCHOR)).dt.days // 7
    j["rev"] = np.floor(j.l_extendedprice * (1 - j.l_discount)).astype(
        np.int64
    )
    w = j.groupby(["p_brand", "wk"]).rev.sum()
    got = q("brand_revenue_corr").set_index(["brand_a", "brand_b"])
    brands = sorted(j.p_brand.unique())
    checked = 0
    for a, b in combinations(brands, 2):
        sa, sb = w.loc[a], w.loc[b]
        common = sa.index.intersection(sb.index)
        row = got.loc[(a, b)]
        assert row.n_weeks == len(common)
        if len(common) > 2:
            r = np.corrcoef(
                sa.loc[common].to_numpy(dtype=float),
                sb.loc[common].to_numpy(dtype=float),
            )[0, 1]
            assert row["corr"] == pytest.approx(r, abs=1e-3)
            checked += 1
        if checked >= 30:
            break
    assert checked > 0


def test_text_bigram_logprob_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    toks = {d.doc_id: d.text.lower().split(" ") for _, d in docs.iterrows()}
    uc = Counter(w for ws in toks.values() for w in ws)
    bc = Counter(
        (a, b) for ws in toks.values() for a, b in zip(ws, ws[1:])
    )
    vocab = len(uc)
    got = q("text_bigram_logprob").set_index("doc_id")
    assert len(got) == len(docs)
    for doc_id, ws in list(toks.items())[:50]:
        bgs = list(zip(ws, ws[1:]))
        lps = [
            math.log((bc[bg] + 1) / (uc[bg[0]] + vocab)) for bg in bgs
        ]
        row = got.loc[doc_id]
        assert row.n_bigrams == len(bgs)
        avg = sum(lps) / len(lps)
        assert row.avg_lp == pytest.approx(avg, abs=1e-3)
        assert row.ppl == pytest.approx(math.exp(-avg), rel=1e-3)
        assert row.ppl >= 1.0  # smoothed LM can't beat certainty
