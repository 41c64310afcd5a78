"""Brute-force parity checks for the round-6 batch-4 operators
(warehouse_extras6.py + the two new sql_surface ops)."""

from __future__ import annotations

import math
import zlib

import numpy as np
import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras6 import NORM_SCALE
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_win_nth_value_vs_bruteforce(q, spark):
    o = (
        table(spark, SF_DIR, "orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .toPandas()
        .sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    )
    got = q("win_nth_value").set_index("o_orderkey")
    for ck, grp in o.groupby("o_custkey"):
        prices = list(grp.o_totalprice)
        keys = list(grp.o_orderkey)
        for i, k in enumerate(keys):
            r = got.loc[k]
            assert r.first_seen_price == prices[0]
            if i >= 2:
                assert r.third_seen_price == prices[2]
            else:
                assert np.isnan(r.third_seen_price)


def test_mix_temperature_vs_bruteforce(q, spark):
    docs = table(spark, SF_DIR, "documents").select("source").toPandas()
    counts = docs.source.value_counts()
    total = counts.sum()
    qw = {s: math.floor(math.sqrt(n / total) * 10**12 + 0.5) for s, n in counts.items()}
    qtot = sum(qw.values())
    got = q("mix_temperature").set_index("source")
    assert set(got.index) == set(counts.index)
    for s, n in counts.items():
        r = got.loc[s]
        assert r.n_docs == n
        assert abs(r.p_natural - n / total) < 1e-3
        assert abs(r.mix_weight - qw[s] / qtot) < 1e-3
        assert abs(r.upsample_factor - (qw[s] / qtot) / (n / total)) < 1e-3
    # tempered weights still sum to 1 and compress the spread toward
    # uniform (upsample > 1 for below-average sources, < 1 above)
    assert abs(got.mix_weight.sum() - 1.0) < 1e-2
    mean_p = 1.0 / len(counts)
    for s, n in counts.items():
        if n / total < mean_p - 1e-9:
            assert got.loc[s].upsample_factor > 1.0
        elif n / total > mean_p + 1e-9:
            assert got.loc[s].upsample_factor < 1.0


def test_agg_bool_vs_bruteforce(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    got = q("agg_bool").set_index("o_orderpriority")
    for pr, grp in o.groupby("o_orderpriority"):
        r = got.loc[pr]
        assert r.n_large == int((grp.o_totalprice > 200000).sum())
        assert bool(r.all_positive) == bool((grp.o_totalprice > 0).all())
        assert bool(r.any_finished) == bool((grp.o_orderstatus == "F").any())


def test_ts_autocorr_vs_numpy(q, spark):
    ev = table(spark, SF_DIR, "events").select("event_type", "ts").toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    daily = ev.groupby(["event_type", "day"]).size().rename("c").reset_index()
    got = q("ts_autocorr").set_index("event_type")
    for et, grp in daily.groupby("event_type"):
        c = grp.sort_values("day").c.values.astype(float)
        x, y = c[:-1], c[1:]
        r = got.loc[et]
        assert r.n_pairs == len(x)
        assert abs(r.acf1 - np.corrcoef(x, y)[0, 1]) < 1e-3


def test_embed_norm_vs_numpy(q, spark):
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").toPandas()
    got = q("embed_norm").set_index("vec_id")
    for r in emb.itertuples():
        v = np.asarray(r.embedding, dtype=np.float64)
        total = sum(
            math.floor(float(x) * float(x) * NORM_SCALE + 0.5) for x in v
        )
        expect = math.sqrt(total / NORM_SCALE)
        g = got.loc[r.vec_id]
        assert g.dim == len(v)
        assert abs(g.l2_norm - expect) < 1e-3
        # quantized norm tracks the true norm
        assert abs(g.l2_norm - np.linalg.norm(v)) < 1e-3


def test_text_compressibility_vs_zlib(q, spark):
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    got = q("text_compressibility").set_index("doc_id")
    assert len(got) == len(docs)
    for r in docs.sample(50, random_state=7).itertuples():
        raw = r.text.encode("utf-8")
        expect = round(len(zlib.compress(raw, 6)) / len(raw), 4)
        assert got.loc[r.doc_id].comp_ratio == expect
    # token-soup synthetic docs compress well below 1 once past the
    # fixed zlib header overhead (tiny docs can exceed 1.0 legitimately)
    assert (got[got.n_chars >= 200].comp_ratio < 1.0).all()


def test_sql_values_inline_partitions_customers(q, spark):
    c = table(spark, SF_DIR, "customer").select("c_acctbal").toPandas()
    got = q("sql_values_inline").set_index("tier")
    bands = {
        "debt": (-100000.0, 0.0),
        "bronze": (0.0, 3000.0),
        "silver": (3000.0, 7000.0),
        "gold": (7000.0, 100000.0),
    }
    n_total = 0
    for tier, (lo, hi) in bands.items():
        sel = c[(c.c_acctbal >= lo) & (c.c_acctbal < hi)]
        if len(sel) == 0:
            assert tier not in got.index
            continue
        r = got.loc[tier]
        assert r.n_customers == len(sel)
        assert abs(r.total_bal - sel.c_acctbal.sum()) < 0.01
        n_total += len(sel)
    assert n_total == len(c), "bands must partition the acctbal domain"


def test_sql_order_by_all_totals(q, spark):
    o = table(spark, SF_DIR, "orders").toPandas()
    got = q("sql_order_by_all")
    assert got.n.sum() == len(o)
    assert len(got) == o.groupby(["o_orderstatus", "o_orderpriority"]).ngroups
