"""Brute-force parity for round-7 batch 20 (warehouse_extras18.py)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest

from conftest import SF_DIR

from secdb_spark.catalog import table
from secdb_spark.operators.warehouse_extras18 import (
    DUP_PREFIX_WORDS,
)
from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def _source_counts(spark):
    docs = table(spark, SF_DIR, "documents").toPandas()
    by_source: dict[str, Counter] = {}
    for _, r in docs.iterrows():
        c = by_source.setdefault(r.source, Counter())
        c.update(t for t in r.text.lower().split(" ") if t)
    return docs, by_source


def test_source_js_divergence_vs_bruteforce(q, spark):
    _, by_source = _source_counts(spark)
    got = q("source_js_divergence").set_index(["source_a", "source_b"])
    sources = sorted(by_source)
    n_pairs_with_common = 0
    for i, sa in enumerate(sources):
        for sb in sources[i + 1:]:
            ca, cb = by_source[sa], by_source[sb]
            na, nb = sum(ca.values()), sum(cb.values())
            common = set(ca) & set(cb)
            if not common:
                continue
            n_pairs_with_common += 1
            js = 0.0
            for t in set(ca) | set(cb):
                p = ca.get(t, 0) / na
                qq = cb.get(t, 0) / nb
                m = (p + qq) / 2
                if p:
                    js += 0.5 * p * math.log2(p / m)
                if qq:
                    js += 0.5 * qq * math.log2(qq / m)
            row = got.loc[(sa, sb)]
            assert row.n_common_terms == len(common)
            assert row.js_bits == pytest.approx(js, abs=1e-3)
            assert 0 <= row.js_bits <= 1 + 1e-9
    assert len(got) == n_pairs_with_common


def test_cross_source_dup_matrix_vs_bruteforce(q, spark):
    docs, _ = _source_counts(spark)

    def fp(text):
        words = text.lower().split(" ")[:DUP_PREFIX_WORDS]
        return hashlib.md5(" ".join(words).encode()).hexdigest()

    docs["h"] = docs.text.map(fp)
    per_source = {
        s: set(g.h) for s, g in docs.groupby("source")
    }
    got = q("cross_source_dup_matrix")
    expect = {}
    srcs = sorted(per_source)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1:]:
            shared = per_source[sa] & per_source[sb]
            if shared:
                ja = len(shared) / (
                    len(per_source[sa]) + len(per_source[sb]) - len(shared)
                )
                expect[(sa, sb)] = (len(shared), round(ja, 4))
    assert len(got) == len(expect)
    for _, r in got.iterrows():
        sh, ja = expect[(r.source_a, r.source_b)]
        assert r.shared_hashes == sh
        assert r.jaccard == pytest.approx(ja, abs=1e-4)


def test_customer_migration_matrix_vs_bruteforce(q, spark):
    orders = table(spark, SF_DIR, "orders").toPandas()
    orders["yr"] = orders.o_orderdate.map(lambda d: d.year)
    cy = (
        orders.groupby(["o_custkey", "yr"])
        .size()
        .reset_index(name="n_orders")
    )

    def seg_of(n):
        return "one" if n == 1 else ("casual" if n <= 3 else "loyal")

    cy["seg"] = cy.n_orders.map(seg_of)
    seg = {(r.o_custkey, r.yr): r.seg for _, r in cy.iterrows()}
    max_yr = cy.yr.max()
    expect = Counter()
    for (ck, yr), s in seg.items():
        if yr >= max_yr:
            continue
        expect[(yr, s, seg.get((ck, yr + 1), "absent"))] += 1
    got = q("customer_migration_matrix")
    assert len(got) == len(expect)
    for _, r in got.iterrows():
        assert expect[(r.yr, r.from_seg, r.to_seg)] == r.n_customers
    # every from-seg row total must equal the number of customers active
    # in that year (conservation of customers)
    for yr in got.yr.unique():
        active = len(cy[cy.yr == yr])
        assert got[got.yr == yr].n_customers.sum() == active


def test_event_trigram_transitions_vs_bruteforce(q, spark):
    ev = (
        table(spark, SF_DIR, "events")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    tri = Counter()
    for _, g in ev.groupby("user_id"):
        types = g.event_type.tolist()
        for i in range(2, len(types)):
            tri[(types[i - 2], types[i - 1], types[i])] += 1
    ctx_total = Counter()
    for (p2, p1, _), n in tri.items():
        ctx_total[(p2, p1)] += n
    got = q("event_trigram_transitions")
    assert len(got) == len(ctx_total)
    for _, r in got.iterrows():
        assert ctx_total[(r.p2, r.p1)] == r.n_transitions
        # the argmax with (count desc, name asc) tiebreak
        cands = {
            nx: n for (a, b, nx), n in tri.items()
            if a == r.p2 and b == r.p1
        }
        best = sorted(cands.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r.top_next, r.top_n) == best
        assert r.top_share == pytest.approx(
            best[1] / ctx_total[(r.p2, r.p1)], abs=1e-4
        )
