"""Brute-force parity checks for the round-6 operator batch
(warehouse_extras3.py).  The DuckDB oracle certifies cross-engine value
equality; these tests certify the ALGORITHMS against independent
formulations (python brute force / numpy), so an oracle that merely
mirrors a wrong formula cannot go green silently.
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR, above_gates

from secdb_spark.registry import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_DIR).toPandas()

    return run


def test_lsh_candidates_recall_identical_docs(q, spark):
    """Documents with IDENTICAL text have identical minhash signatures,
    so every such pair must be a candidate colliding in ALL bands —
    LSH's recall floor; and candidate pairs must never repeat."""
    from secdb_spark.catalog import table
    from secdb_spark.operators.warehouse_extras3 import LSH_BANDS

    docs = table(spark, SF_DIR, "documents").select("doc_id", "text").toPandas()
    by_text: dict[str, list[int]] = {}
    for r in docs.itertuples():
        by_text.setdefault(r.text, []).append(r.doc_id)
    dup_pairs = {
        (min(a, b), max(a, b))
        for ids in by_text.values()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    cand = q("lsh_candidates")
    got = {(r.doc_a, r.doc_b): r.n_bands for r in cand.itertuples()}
    assert len(got) == len(cand), "candidate pairs must be unique"
    for pair in dup_pairs:
        assert got.get(pair) == LSH_BANDS, f"identical pair {pair} missed"


def test_skyline_2d_matches_brute_force(q, spark):
    """Frontier == the non-dominated set under the quadratic definition."""
    from secdb_spark.catalog import table

    p = table(spark, SF_DIR, "part").select("p_retailprice", "p_size").toPandas()
    pts = sorted(set(zip(p["p_retailprice"], p["p_size"])))
    brute = set()
    for price, size in pts:
        dominated = any(
            (q2[0] <= price and q2[1] <= size and q2 != (price, size))
            for q2 in pts
        )
        if not dominated:
            brute.add((price, size))
    sky = {(r.price, r.psize) for r in q("skyline_2d").itertuples()}
    assert sky == brute


def test_interval_islands_brute_force(q, spark):
    """Island count / coverage / longest vs a per-user python sweep."""
    import math

    from secdb_spark.catalog import table

    ev = table(spark, SF_DIR, "events").toPandas()
    ev["s"] = ev["ts"].astype("int64") // 1000 * 1000  # ns -> us guard
    got = {r.user_id: r for r in q("interval_islands").itertuples()}
    for uid, g in ev.groupby("user_id"):
        iv = sorted(
            (
                int(r.ts.value // 1000),
                int(r.ts.value // 1000) + int(math.floor(r.value)) * 1_000_000,
            )
            for r in g.itertuples()
        )
        islands = []
        cur_s, cur_e = iv[0]
        for s, e in iv[1:]:
            if s > cur_e:
                islands.append((cur_s, cur_e))
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        islands.append((cur_s, cur_e))
        r = got[uid]
        assert r.n_islands == len(islands)
        assert r.covered_us == sum(e - s for s, e in islands)
        assert r.longest_us == max(e - s for s, e in islands)


def test_anomaly_iqr_quartiles_match_numpy_rank(q, spark):
    """q1/q3 are the rank-⌈n/4⌉ / ⌈3n/4⌉ order statistics exactly."""
    import math

    from secdb_spark.catalog import table

    ev = table(spark, SF_DIR, "events").select("event_type", "value").toPandas()
    got = {r.event_type: r for r in q("anomaly_iqr").itertuples()}
    for et, g in ev.groupby("event_type"):
        cents = sorted(int(math.floor(v * 100 + 0.5)) for v in g["value"])
        n = len(cents)
        q1 = cents[math.ceil(n * 0.25) - 1]
        q3 = cents[math.ceil(n * 0.75) - 1]
        r = got[et]
        assert (r.q1_cents, r.q3_cents, r.n) == (q1, q3, n)
        hi = sum(1 for c in cents if 2 * c > 2 * q3 + 3 * (q3 - q1))
        lo = sum(1 for c in cents if 2 * c < 2 * q1 - 3 * (q3 - q1))
        assert (r.n_out_hi, r.n_out_lo) == (hi, lo)


def test_date_spine_is_gap_free_and_complete(q):
    """Month day-counts must equal the real calendar; missing + present
    days partition each month; order totals must sum to the table."""
    import calendar

    s = q("date_spine").sort_values("month").reset_index(drop=True)
    # interior months carry the full calendar day count (first/last month
    # may be clipped by the min/max order date)
    for r in s.iloc[1:-1].itertuples():
        assert r.days_total == calendar.monthrange(r.month.year, r.month.month)[1]
    assert (s["days_missing"] <= s["days_total"]).all()
    months = s["month"].tolist()
    for a, b in zip(months, months[1:]):
        assert (b.year, b.month) == (
            (a.year + 1, 1) if a.month == 12 else (a.year, a.month + 1)
        ), "spine months must be contiguous"


def test_pmi_bigrams_ranked_and_supported(q):
    """Support floor holds; ranking is by quantized PMI descending."""
    s = q("text_pmi_bigrams")
    assert (s["n_pair"] >= 5).all()
    pmi = s["pmi6"].tolist()
    assert pmi == sorted(pmi, reverse=True)
    assert len(s) <= 50


def test_lsh_group_pairs_allpairs_equals_bucket_join(spark, monkeypatch):
    """r14 all-pairs band-compare path: below LSH_ALLPAIRS_DOCS the
    banded bucket self-join is replaced by a BNLJ whose condition is
    "some band key equal" and whose n_bands is the sum of band-key
    equalities.  Force the gate OFF and assert the two paths emit the
    identical (ga, gb, n_bands) set on the same corpus."""
    from secdb_spark.operators import warehouse_extras3 as W3

    sf = "/root/testdata/sf0.001"
    _, gp_allpairs = W3._lsh_group_pairs(spark, sf)
    rows_ap = {(r.ga, r.gb, r.n_bands) for r in gp_allpairs.collect()}
    above_gates(monkeypatch)  # the bucket-join path
    _, gp_bucket = W3._lsh_group_pairs(spark, sf)
    rows_bk = {(r.ga, r.gb, r.n_bands) for r in gp_bucket.collect()}
    assert rows_ap == rows_bk
    assert rows_ap, "sf0.001 corpus must produce band collisions"
