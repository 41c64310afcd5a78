"""Round-12 batch 2 (SURVEY §2.BC curation quartet) — semantic
invariants beyond the oracle differential: share conservation, KL
non-negativity, brute-force duplicate-gram agreement, and chunk
reconstruction.  Value-level oracle diff runs via tools/selfcheck.py.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from secdb_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q():
    return all_queries()


@pytest.fixture(scope="module")
def docs(spark):
    return {
        r["doc_id"]: (r["text"], r["source"])
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }


def test_doc_script_mix_shares_conserve(spark, q):
    rows = q["doc_script_mix"](spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        total = (r["letter_share"] + r["digit_share"] + r["space_share"]
                 + r["other_share"])
        # four he4 quantizations: each off by < 1e-4 from the true share
        assert math.isclose(total, 1.0, abs_tol=4e-4)
        assert r["letter_share"] > 0.4  # it is a text corpus


def test_mix_kl_reweight_kl_nonnegative_and_weights_consistent(spark, q):
    rows = q["mix_kl_reweight"](spark, SF).collect()
    assert len(rows) == 20
    total_kl = sum(r["kl_term_unats"] for r in rows)
    # KL(target||actual) >= 0; micro-nat quantization can shave at most
    # half a unit per source
    assert total_kl >= -len(rows)
    tot = sum(r["n_tokens"] for r in rows)
    for r in rows:
        pa = r["n_tokens"] / tot
        assert math.isclose(r["actual_share"], pa, abs_tol=1e-4)
        assert math.isclose(r["weight"], (1.0 / len(rows)) / pa,
                            abs_tol=1e-4)


def test_corpus_dup_ngram_share_matches_bruteforce(spark, q, docs):
    n = 5
    occ: list[tuple[str, str]] = []  # (source, gram)
    doc_sets: dict[str, set[int]] = {}
    for doc_id, (text, source) in docs.items():
        w = text.split(" ")
        if len(w) < n:
            continue
        for i in range(len(w) - n + 1):
            gram = " ".join(w[i:i + n])
            occ.append((source, gram))
            doc_sets.setdefault(gram, set()).add(doc_id)
    exp: dict[str, list[int]] = {}
    for source, gram in occ:
        tot_dup = exp.setdefault(source, [0, 0])
        tot_dup[0] += 1
        if len(doc_sets[gram]) >= 2:
            tot_dup[1] += 1
    rows = q["corpus_dup_ngram_share"](spark, SF).collect()
    assert {r["source"] for r in rows} == set(exp)
    for r in rows:
        tot, dup = exp[r["source"]]
        assert (r["n_grams"], r["n_dup_grams"]) == (tot, dup)
        assert 0.0 <= r["dup_share"] <= 1.0


def test_text_chunk_sliding_reconstructs_documents(spark, q, docs):
    from secdb_spark.operators.warehouse_extras40 import CHUNK_S, CHUNK_W

    rows = q["text_chunk_sliding"](spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, (t, _s) in docs.items() if len(t) >= 1}
    for doc_id, chunks in by_doc.items():
        text = docs[doc_id][0]
        chunks.sort(key=lambda r: r["chunk_idx"])
        # chunk count and geometry
        assert len(chunks) == (len(text) - 1) // CHUNK_S + 1
        for k, r in enumerate(chunks):
            start = 1 + k * CHUNK_S
            piece = text[start - 1:start - 1 + CHUNK_W]
            assert r["chunk_idx"] == k + 1
            assert r["start_pos"] == start
            assert r["chunk_len"] == len(piece)
            assert r["chunk_md5"] == hashlib.md5(
                piece.encode()).hexdigest()
        # overlap property: stride prefixes + the last chunk rebuild the
        # document exactly
        rebuilt = "".join(
            text[k * CHUNK_S:(k + 1) * CHUNK_S]
            for k in range(len(chunks) - 1)
        ) + text[(len(chunks) - 1) * CHUNK_S:]
        assert rebuilt == text


def test_scd2_apply_changes_version_chains(spark, q):
    rows = q["scd2_apply_changes"](spark, SF).collect()
    cust = spark.read.parquet(f"{SF}/customer.parquet").collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["custkey"], []).append(r)
    assert set(by_key) == {c["c_custkey"] for c in cust}
    neg = {c["c_custkey"] for c in cust if c["c_acctbal"] < 0}
    has_orders = {
        r["o_custkey"]
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_custkey").distinct().collect()
    }
    for key, versions in by_key.items():
        current = [v for v in versions if v["is_current"]]
        assert len(current) == 1  # exactly one open version per key
        assert current[0]["valid_to"] is None
        if key in neg and key in has_orders:
            assert len(versions) == 2
            closed = next(v for v in versions if not v["is_current"])
            # the chain is contiguous: close date == new open date
            assert closed["valid_to"] == current[0]["valid_from"]
            assert current[0]["mktsegment"] == "WINBACK"
        else:
            assert len(versions) == 1
            assert current[0]["valid_from"] == "1995-01-01"


def test_dedup_url_canonical_collapses_variants(spark, q):
    rows = q["dedup_url_canonical"](spark, SF).collect()
    for r in rows:
        cu = r["canonical_url"]
        # canonical invariants: no fragment, no tracking params, no
        # default port, no www, no trailing slash, all-lowercase
        assert "#" not in cu and "utm_" not in cu and ":443" not in cu
        assert "://www." not in cu and not cu.endswith("/")
        assert cu == cu.lower()
        assert r["n_urls"] >= r["n_distinct_raw"] >= 1
    # every custkey lands in exactly one canonical group
    assert sum(r["n_urls"] for r in rows) == 150
    # variants 0/1/2 of the same item provably collapse: item 2 has
    # custkeys 2 (variant 2), 52 (variant 0), 102 (variant 2) -> one
    # canonical group of three raws
    g = {r["canonical_url"]: r for r in rows}
    r2 = g["https://example.com/item/2"]
    assert r2["n_urls"] == 3 and r2["keep_custkey"] == 2
    assert r2["n_distinct_raw"] == 2  # two distinct raw variants
