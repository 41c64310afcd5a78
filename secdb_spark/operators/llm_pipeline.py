"""§2.J — LLM-data-pipeline operators: dedup, similarity, ANN, multimodal.

North-star extensions (BASELINE.json:6; no reference implementation —
designed Spark-first for 100 TB training-data curation).

Scale design notes:
- sim_cosine_topk is the reformulation of the survey's 141 s HOF trap
  (SURVEY §6): the candidate matrix is broadcast ONCE as a NumPy array and
  each Arrow batch of queries does one blocked float64 matmul — ~50-100x
  the naive Catalyst-HOF formulation, and the same shape scales out:
  queries partition freely; at 10^9 vectors the broadcast side becomes an
  IVF index (ann_ivf below) instead of the full matrix.
- dedup_near is MinHash+LSH entirely in DataFrame ops (explode ->
  min-hash agg -> band keys -> bucket self-join): the shuffle is on band
  keys whose cardinality grows with corpus size, so no pairwise blowup;
  candidates are verified with exact Jaccard before reporting.
- dedup_exact hash-partitions on the content hash — at 100 TB this is the
  only dedup that needs no candidate generation at all.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import spread_scan, table
from ..registry import register
from ..session import memo
from ._helpers import pin, require_integral_id

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
JACCARD_THRESHOLD = 0.9


def _tokens(col: str = "text"):
    """Distinct token set per document (order-insensitive, sorted)."""
    return F.sort_array(F.array_distinct(F.split(F.col(col), " ")))


def exact_dup_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """dedup_exact on any (id, text): sha256 content clusters with the
    min-id keeper.  Returns (content_hash, keeper_id, n_copies)."""
    return df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash")).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, deterministic keeper (min doc_id): the
    `exact_dup_clusters` kernel over the documents table.
    NOT dropDuplicates(): that keeps an arbitrary row per key — fine for
    throughput, wrong for a reproducible pipeline. groupBy(hash) hash-
    partitions by content hash, so each duplicate cluster lands in one
    partition regardless of corpus size."""
    d = table(spark, sf_dir, "documents")
    return exact_dup_clusters(d, "doc_id", "text").withColumnRenamed(
        "keeper_id", "keeper_doc_id"
    )


@register(
    "sim_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), card AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
    FROM inter
    JOIN card ca ON doc_a = ca.doc_id
    JOIN card cb ON doc_b = cb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
    """,
)
def sim_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for pairs >= 0.9, with the hot-token
    mitigation the r1 docstring promised: PREFIX FILTERING (the AllPairs
    principle, Bayardo et al., WWW'07).

    Candidate generation joins the inverted index only on each document's
    PREFIX — its |d| - ceil(theta*|d|) + 1 rarest tokens under the global
    (df ASC, tok) order. Ultra-common tokens therefore index almost no
    documents (they sit at the end of every ordering), killing the
    hot-token row explosion. LOSSLESS by the prefix-filter theorem: a pair
    with J(a,b) >= theta has |a n b| >= theta*|a u b| >= ceil(theta*max(|a|,|b|))
    common tokens, and two sets whose required overlap is alpha must share
    a token within their first |x| - alpha + 1 tokens of any common global
    order (proven adversarially in tests/test_properties.py). Candidates
    are then verified with EXACT Jaccard on the FULL token sets, so the
    filter affects recall only — and the theorem makes recall 1."""
    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    return _jaccard_pairs(
        d, allpairs=catalog.fits(sf_dir, JACCARD_ALLPAIRS_DOCS, "documents")
    )


def _spread_docs(spark: SparkSession, sf_dir: str, d: DataFrame) -> DataFrame:
    """`d` (documents or a subset) through the documents scan-spread
    gate: compute-heavy per-token pipelines (tokenize + hash + aggregate)
    otherwise run single-threaded on the benched single-row-group
    corpus."""
    return spread_scan(d, sf_dir, "documents", "doc_id", MASK_BROADCAST_DOCS)


def _jaccard_pairs(
    d: DataFrame,
    tokens=None,
    threshold: float | None = None,
    allpairs: bool = False,
) -> DataFrame:
    """Prefix-filtered exact-Jaccard pair pipeline over any (doc_id, text)
    DataFrame — see sim_jaccard for the losslessness argument.  `tokens`
    overrides the element expression (default: distinct word set), e.g.
    word-bigram shingles for dedup_shingle; the prefix-filter theorem is
    independent of what the set elements are.  `allpairs` says the corpus
    is under JACCARD_ALLPAIRS_DOCS (registered callers ask `catalog.fits`
    on the documents footer — never a Spark job): with a closed
    dictionary as well it dispatches to the all-pairs bitmask kernel
    (r14, the sim_containment precedent); otherwise the prefix-filtered
    path runs."""
    if threshold is None:
        threshold = JACCARD_THRESHOLD
    # r13 kernel rewrite (guide §2.3 "shuffle fewer bytes"): every stage
    # downstream of tokenization runs on HASHED LONG elements, not token
    # strings — xxhash64 once at set build, then the df counts, the
    # prefix window order (df, hash — any consistent global total order
    # satisfies the prefix-filter theorem; rarest-first is kept), the
    # posting self-join key, and the verify arrays are all 8-byte longs
    # (primitive equality; a 2^-64 hash collision is the dedup_near
    # open-vocab precedent, far below any other error source).  The
    # per-doc cardinality comes from size(hset) — the second window
    # (count over the doc partition) disappears — and the verify derives
    # the union arithmetically (na + nb - n_common) behind a
    # size-compatibility prefilter instead of materializing array_union
    # per pair.  Profiled at sf0.1 (11.3M candidates for 948k true pairs
    # on the templated corpus): the string-array verify alone was 22.4 s.
    #
    # pinned: sets feeds the posting explode AND both verify sides, and
    # prefix feeds both candidate-join legs — un-pinned each consumer
    # re-tokenized the corpus (plan-audit, SCALE.md §50; 6 scans).
    sets = pin(
        d.select(
            "doc_id",
            F.sort_array(
                F.transform(
                    _tokens() if tokens is None else tokens,
                    lambda t: F.xxhash64(t),
                )
            ).alias("hset"),
        ).withColumn("n", F.size("hset"))
    )

    def out_cols(j):
        return ["doc_a", "doc_b", j.alias("jaccard")]

    # Bounded dictionary probe over the HASHED element domain, run on the
    # pinned sets (no re-tokenize): an approx_count_distinct pre-probe
    # first so an open corpus never pays a full distinct, then the exact
    # limit-capped dictionary — the _mask_vocab playbook generalized to
    # any element expression (unigrams, shingles, api callers) because
    # hashes, not strings, are the dictionary.
    #
    # r14: the pre-probe was a 256-doc sample distinct, which is
    # INCONCLUSIVE for shingle corpora (dedup_shingle's sample read 905
    # distinct bigrams <= the 1024 cap, so every invocation paid the
    # sample job AND the full-corpus exact distinct that then proved the
    # vocabulary open).  One HLL pass over the pinned sets (map-side
    # partial aggregation, no shuffle of the exploded stream) is the
    # same job cost but DEFINITIVE for open corpora: estimated
    # cardinality beyond 2x the cap cannot be a <=cap dictionary (HLL
    # relative error ~2%), so the exact fetch is skipped.  Dispatch is
    # perf-only — both verify kernels are exact — so an estimator miss
    # can only cost speed, never rows.
    vocabh = None
    approx = (
        sets.select(F.explode("hset").alias("th"))
        .agg(F.approx_count_distinct("th").alias("c"))
        .collect()[0].c
    )
    if 0 < approx <= 2 * MASK_MAX_VOCAB:
        rows = (
            sets.select(F.explode("hset").alias("th"))
            .distinct()
            .limit(MASK_MAX_VOCAB + 1)
            .collect()
        )
        if 0 < len(rows) <= MASK_MAX_VOCAB:
            vocabh = sorted(r.th for r in rows)
    ma = mb = inter_sz = None
    if vocabh is not None:
        n_vocab = len(vocabh)
        n_words = (n_vocab + 63) // 64
        idx_map = F.expr(
            "map("
            + ", ".join(f"{h}L, {i}" for i, h in enumerate(vocabh))
            + ")"
        )
        pow2 = F.expr(
            "array("
            + ", ".join(str(1 << i) + "L" for i in range(63))
            + ", -9223372036854775808L)"
        )
        idxs = F.transform("hset", lambda h: idx_map[h].cast("long"))

        def word(w):
            return F.aggregate(
                idxs,
                F.lit(0).cast("long"),
                lambda a, x: a.bitwiseOR(
                    F.when(
                        (x / 64).cast("int") == F.lit(w),
                        F.element_at(pow2, (x % 64).cast("int") + 1),
                    ).otherwise(F.lit(0).cast("long"))
                ),
            )

        masks = sets.select(
            "doc_id", *[word(w).alias(f"m{w}") for w in range(n_words)], "n"
        )
        ma = masks.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
            F.col("n").alias("na"),
        )
        mb = masks.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
            F.col("n").alias("nb"),
        )
        inter_sz = sum(
            [
                F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
                for w in range(n_words)
            ],
            F.lit(0),
        )
        if allpairs and threshold > 0:
            # ALL-PAIRS bitmask kernel (r14; the sim_containment r13
            # precedent, guide §1.2 first-principles): on a closed
            # dictionary the exact Jaccard of ANY pair is a popcount
            # over n_words mask longs, so below the quadratic gate the
            # N^2/2 broadcast nested-loop pass with the verify fused
            # into the join condition beats the whole prefix machinery
            # — the dfreq shuffle, the per-doc rank window, the prefix
            # pin, the posting self-join AND the output distinct (each
            # pair is evaluated exactly once) all disappear.  The fused
            # condition is the IDENTICAL float comparison chain the
            # prefix path applies (size gate, then jaccard >= theta on
            # the same double expression), and every J >= theta > 0
            # pair shares a token so the prefix path finds it too —
            # selection sets are equal, proven by the gate-off
            # agreement test.  Masks pin once (doc_id + n_words longs
            # + n per doc); the stream side keeps the spread-gate
            # partitioning, the build side broadcasts.  Above the gate
            # (or with no corpus-size hint) nothing changes.
            masksp = pin(masks)
            pa = masksp.select(
                F.col("doc_id").alias("doc_a"),
                *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
                F.col("n").alias("na"),
            )
            pb = masksp.select(
                F.col("doc_id").alias("doc_b"),
                *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
                F.col("n").alias("nb"),
            )
            jac = inter_sz.cast("double") / (
                F.col("na") + F.col("nb") - inter_sz
            )
            return pa.join(
                F.broadcast(pb),
                (F.col("doc_a") < F.col("doc_b"))
                & (
                    F.least("na", "nb")
                    >= F.lit(threshold) * F.greatest("na", "nb")
                )
                & (jac >= F.lit(threshold)),
            ).select(*out_cols(jac))
    toks = sets.select("doc_id", "n", F.explode("hset").alias("th"))
    dfreq = toks.groupBy("th").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "th")
    prefix = (
        toks.join(dfreq, "th")
        .withColumn("rnk", F.row_number().over(wdoc))
        .filter(
            F.col("rnk")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
        # rnk + n ride along (2 ints over the prefix-sized frame) for
        # the positional filter below
        .select("doc_id", "th", "rnk", "n")
    )
    prefix = pin(prefix)
    cand_raw = (
        prefix.select(
            F.col("doc_id").alias("doc_a"),
            "th",
            F.col("rnk").alias("ia"),
            F.col("n").alias("na"),
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"),
                "th",
                F.col("rnk").alias("jb"),
                F.col("n").alias("nb"),
            ),
            "th",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # POSITIONAL filter (r14; PPJoin, Xiao et al. WWW'08 — guide §2.3
    # "shuffle fewer bytes"): a candidate occurrence joins on shared
    # prefix token t at global-order ranks (ia, jb), so the overlap is
    # bounded by ub = min(ia-1, jb-1) + 1 + min(na-ia, nb-jb) — common
    # tokens strictly before t under the total (df, th) order, t itself,
    # and common tokens after t.  J >= theta <=> (p+q)*c >= p*(na+nb)
    # for theta = p/q, so dropping occurrences with (p+q)*ub < p*(na+nb)
    # is LOSSLESS: a true pair's EVERY occurrence satisfies the bound
    # (ub >= c for each of them), so it always survives the later
    # distinct; a dropped occurrence can only be a pair the exact verify
    # would reject (property-tested adversarially).  Exact integer
    # arithmetic (no float threshold in the filter): p/q comes from the
    # decimal literal of the threshold; thresholds whose decimal form is
    # not a small rational skip the filter rather than risk int64
    # overflow in (p+q)*ub.  At sf0.1 this cuts dedup_shingle's
    # occurrence stream 6.0M -> 2.1M and the distinct pair shuffle
    # 4.4M -> 1.4M (census in OPTIMIZATION_r14.md); it subsumes the
    # na/nb size-compatibility filter (ia = jb = 1 degenerates to it),
    # which stays in verify() only as a cheap post-join guard.
    from fractions import Fraction

    frac = Fraction(str(threshold))
    if frac.denominator <= 1_000_000:
        p, q = frac.numerator, frac.denominator
        ub = (
            F.least(F.col("ia") - 1, F.col("jb") - 1)
            + 1
            + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb"))
        )
        cand_raw = cand_raw.filter(
            F.lit(p + q) * ub >= F.lit(p) * (F.col("na") + F.col("nb"))
        )
    cand_raw = cand_raw.select("doc_a", "doc_b")

    if vocabh is not None:
        # VERIFY-FIRST bitmask kernel (r13): with a closed element
        # dictionary the per-pair verify is bit_count(a AND b) over
        # n_words longs — so cheap that deduplicating candidates FIRST
        # is the wrong order.  The raw first-shared-prefix-token stream
        # (a pair appears once per shared prefix token, small
        # multiplicity) flows straight through the broadcast mask joins
        # and the Jaccard filter; the distinct shuffle runs LAST, over
        # verified pairs only.  Measured at sf0.1 (22.4M raw / 11.3M
        # distinct candidates, 965k true pairs): candidates+verify
        # dropped from ~20 s (distinct-first + array_intersect) to
        # 3.6 s.  Masks derive map-side from the pinned sets via a
        # literal hash->index map (SQL-text authored, one parse) and a
        # power-of-two lookup table (shiftleft needs a literal bit
        # count); no extra scan, no checkpoint.
        return (
            cand_raw.join(F.broadcast(ma), "doc_a")
            .join(F.broadcast(mb), "doc_b")
            .filter(
                F.least("na", "nb")
                >= F.lit(threshold) * F.greatest("na", "nb")
            )
            .withColumn("n_common", inter_sz)
            .select(
                *out_cols(
                    F.col("n_common").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_common"))
                )
            )
            .filter(F.col("jaccard") >= threshold)
            .distinct()
        )
    # Open-dictionary kernel: array verify is per-pair expensive, so
    # candidates dedup FIRST (one distinct over the raw pair stream),
    # then verify on FULL hashed sets: exact rational in double ->
    # bit-identical x-engine (hashed-set sizes equal string-set sizes)
    cand = cand_raw.distinct()
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("set_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("set_b"),
        F.col("n").alias("nb"),
    )
    inter_sz = F.size(F.array_intersect("set_a", "set_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.least("na", "nb")
            >= F.lit(threshold) * F.greatest("na", "nb")
        )
        .withColumn("n_common", inter_sz)
        .select(
            *out_cols(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            )
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: _jaccard_pairs all-pairs gate (r14, the sim_containment precedent):
#: below this doc count, with a closed dictionary and theta > 0, the
#: N^2/2 fused-popcount broadcast nested-loop pass beats the prefix
#: machinery (2e8 pair evaluations at the bound — seconds on one
#: executor wave; the prefix path's dfreq shuffle + rank window +
#: prefix pin + posting join + output distinct all disappear).  Above
#: it the prefix-filtered path is unchanged.
JACCARD_ALLPAIRS_DOCS = 20_000

# Verify fast path: when the corpus dictionary fits in MASK_MAX_VOCAB bits,
# token sets become fixed-width long[] bitmasks and exact Jaccard is
# bit_count(a AND b) per word — O(words) per pair vs O(set) hashing for
# array_intersect, and 8 bytes/word through the join instead of the full
# hashed-token arrays.  2.3x on the bench corpus (vocab 31 -> 1 word).
MASK_MAX_VOCAB = 1024
# Docs sampled by the cheap vocab pre-probe (see _mask_vocab).
VOCAB_PROBE_DOCS = 256
# Mask-kernel corpora up to this many docs broadcast their per-doc bitmasks
# (<= n_words longs + a count each: 2M docs * 24B = ~48 MB) and verify
# BEFORE the candidate-dedup shuffle; above it, candidates dedup first and
# the masks arrive by shuffle join keyed on doc id.
MASK_BROADCAST_DOCS = 2_000_000

def _mask_vocab(spark: SparkSession, sf_dir: str) -> list[str] | None:
    """The corpus's FULL sorted dictionary if it fits MASK_MAX_VOCAB
    tokens, else None (open vocab).  Replaces round 2's unconditional
    `toks.distinct().count()` — a full extra scan+shuffle of the token
    stream on every plan build — with two bounded steps:

    1. Pre-probe: distinct tokens over VOCAB_PROBE_DOCS docs (reads a few
       row groups).  An open-vocab corpus blows past MASK_MAX_VOCAB within
       a handful of documents, so the common big-corpus case never pays a
       full pass at all.
    2. Only if the sample fits: one `distinct().limit(cap+1)` over the
       full stream to fetch the EXACT dictionary (map-side partial
       aggregation collapses a templated corpus to <= cap+1 rows before
       the shuffle; the collect is bounded at cap+1 rows).

    The mask kernel is only ever chosen with the complete dictionary in
    hand, so dispatch stays exactness-preserving.  The dictionary is held
    in `session.memo`, keyed on (sf_dir, MASK_MAX_VOCAB) and read from
    documents.parquet: a repeat call in one Spark application skips both
    probes, and a corpus rewritten at the same path is probed again.  The
    gate is part of the key so tests monkeypatching MASK_MAX_VOCAB
    observe their forced kernel."""

    def build() -> list[str] | None:
        d = table(spark, sf_dir, "documents")
        sampled = (
            d.select("text").limit(VOCAB_PROBE_DOCS)
            .select(F.explode(_tokens()).alias("tok"))
            .distinct()
            .count()
        )
        if not 0 < sampled <= MASK_MAX_VOCAB:
            return None
        rows = (
            d.select(F.explode(_tokens()).alias("tok"))
            .distinct()
            .limit(MASK_MAX_VOCAB + 1)
            .collect()
        )
        if 0 < len(rows) <= MASK_MAX_VOCAB:
            return sorted(r.tok for r in rows)
        return None

    key = ("vocab", os.path.abspath(sf_dir), MASK_MAX_VOCAB)
    return memo(spark, key, [os.path.join(sf_dir, "documents.parquet")], build)


def _vocab_mask_words(vocab: list[str], tokens_col) -> list:
    """Fixed-width bitmask longs over a CLOSED dictionary: word w of the
    result has bit (i mod 64) set iff vocab[i] appears in `tokens_col`
    (an array<string> column).  The token→index map and the power-of-two
    lookup embed as literal SQL expressions (no dictionary frame, no
    join — the dedup_near r13 precedent), so mask construction is pure
    map-side work.  |A∩B| for two masked sets is Σ_w bit_count(a_w AND
    b_w) — exact (indices, not hashes), 8 bytes/word through any join
    instead of the full token arrays."""
    n_words = (len(vocab) + 63) // 64

    def _sqlstr(t: str) -> str:
        return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

    idx_map = F.expr(
        "map("
        + ", ".join(f"{_sqlstr(t)}, {i}" for i, t in enumerate(vocab))
        + ")"
    )
    pow2 = F.expr(
        "array("
        + ", ".join(str(1 << i) + "L" for i in range(63))
        + ", -9223372036854775808L)"
    )
    idxs = F.transform(tokens_col, lambda t: idx_map[t].cast("long"))

    def word(w):
        return F.aggregate(
            idxs,
            F.lit(0).cast("long"),
            lambda a, x: a.bitwiseOR(
                F.when(
                    (x / 64).cast("int") == F.lit(w),
                    F.element_at(pow2, (x % 64).cast("int") + 1),
                ).otherwise(F.lit(0).cast("long"))
            ),
        )

    return [word(w) for w in range(n_words)]


def _dn_sig_sql(j: int) -> str:
    """DuckDB twin of _dn_sig_expr: seed-slot j's hash is an 8-hex-char
    slice of one of two salted sha256 digests — 2 hashes per token
    instead of 16, with 32-bit slot width (the classic MinHash width;
    the argmin-permutation property needs independence, not length)."""
    salt = "A:" if j < 8 else "B:"
    lo = (j % 8) * 8 + 1
    return f"min(substr(sha256('{salt}' || tok), {lo}, 8)) AS h{j}"


def _dedup_near_ctes() -> str:
    """The shared CTE chain of dedup_near's DuckDB twin on the portable
    sha256-slice basis (signatures → band keys → bucket join →
    exact-Jaccard inputs) — used by both the dedup_near oracle (pair
    output) and the dedup_clusters oracle (recursive closure over the
    same pairs)."""
    rows_per_band = N_MINHASH // N_BANDS
    sig_exprs = ", ".join(_dn_sig_sql(j) for j in range(N_MINHASH))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, '{b}_' || {key} AS band_key FROM sigs".format(
            b=b,
            key=" || '_' || ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sigs AS (
      SELECT doc_id, {sig_exprs}
      FROM toks GROUP BY doc_id
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ), card AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      GROUP BY 1, 2
    ), near_pairs AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common)
               AS jaccard
      FROM inter i
      JOIN card ca ON i.doc_a = ca.doc_id
      JOIN card cb ON i.doc_b = cb.doc_id
      WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common)
            >= {JACCARD_THRESHOLD}
    )"""


def _dedup_near_oracle() -> str:
    """Full-pipeline DuckDB twin of dedup_near on the portable md5-min
    basis: identical signatures, identical band keys, exact-Jaccard
    verify — the minhash_sig/lsh_candidates certification playbook
    applied end-to-end (VERDICT r6 'Next round' #5)."""
    return f"""
    WITH {_dedup_near_ctes()}
    SELECT doc_a, doc_b, jaccard FROM near_pairs
    """


@register("dedup_near", oracle=_dedup_near_oracle())
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash (16 perms) + LSH (4 bands x 4),
    verified with exact Jaccard >= 0.9 — all DataFrame ops, no pairwise
    blowup: candidates only form inside LSH buckets, each candidate pair
    is generated EXACTLY ONCE (first-matching-band join: equi on band b
    plus "bands j<b differ" residuals), so no pair-dedup shuffle exists
    anywhere in the plan. The permutation
    family is min over 8-hex-char SLICES of two salted sha256 digests —
    engine-portable like minhash_sig/lsh_candidates' md5 basis (so the
    whole pipeline has a DuckDB twin and an exact value hash; was R
    class on seeded xxhash64 through round 6) but with 2 hashes per
    token instead of 16 (slices of independent digests are independent
    32-bit slots — the classic MinHash width).
    Property-tested against sim_jaccard (precision = 1 by construction of
    the verify step; recall asserted in tests).

    Verification is adaptive: corpora whose dictionary fits MASK_MAX_VOCAB
    bits (templated/structured text — the common shape for boilerplate-heavy
    web dumps after normalization) verify via dictionary bitmasks (exact,
    collision-free: indices come from a dictionary, not hashing); open-vocab
    corpora use the hashed-sorted-array kernel.  The vocab probe is
    bounded both ways (sample pre-probe, then an exact limit-capped
    dictionary fetch only when the sample fits — see _mask_vocab) and
    cached per corpus; both verify kernels are exact, so the choice is
    purely a performance dispatch."""
    d = table(spark, sf_dir, "documents")
    # Scan-spread gate (r13, guide §2.5 "input skew"): the testdata
    # corpus is ONE parquet row group, which caps the tokenize+digest map
    # stage at a single task no matter the core count (parquet assigns a
    # row group to exactly one task).  When scan parallelism is
    # row-group-bound AND the corpus is gate-small, one cheap hash
    # repartition on doc_id (shuffles just the raw text once) spreads the
    # heavy per-token hashing across the cluster, and the downstream
    # per-doc aggregate reuses the partitioning — no second exchange.  At
    # warehouse scale the corpus has many row groups / files and no
    # shuffle is added.
    d = _spread_docs(spark, sf_dir, d)
    return _dedup_near_pairs(spark, sf_dir, d)


def _dedup_near_pairs(
    spark: SparkSession, sf_dir: str, d: DataFrame
) -> DataFrame:
    """dedup_near's pipeline over an arbitrary (doc_id, text) SUBSET of
    the sf_dir corpus (r14): dedup_clusters runs it on one REPRESENTATIVE
    per identical-token-set group — identical sets share every signature,
    band key and verify outcome, so the representative pair list IS the
    contracted group-edge list (see dedup_clusters).  The dictionary and
    broadcast gates key on the FULL corpus via sf_dir (upper bounds for
    any subset)."""
    toks = d.select("doc_id", F.explode(_tokens()).alias("tok"))
    vocab = _mask_vocab(spark, sf_dir)
    rows_per_band = N_MINHASH // N_BANDS

    # Band keys as LONGs (xxhash64 of the 4 slice values): primitive join
    # keys beat ~36-char strings, and a 2^-64 key collision can only ADD
    # a candidate, which the exact-Jaccard verify rejects — the output
    # set is unchanged (Spark-side only; the oracle keeps string keys).
    def _band_cols():
        return [
            F.xxhash64(
                *[
                    F.col(f"h{band * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            ).alias(f"band{band}")
            for band in range(N_BANDS)
        ]

    def _band_pairs(sigmask: DataFrame, bcast: bool) -> DataFrame:
        # FIRST-MATCHING-BAND candidate join: for band b, equi-join on
        # band_b with the residual predicate "band_j differs for all
        # j < b".  Each candidate pair is emitted at exactly one band
        # (its first hash-equal band), so the raw candidate stream is
        # duplicate-free BY CONSTRUCTION and the N_BANDS-way pair
        # multiplicity — and the multi-million-row distinct() shuffle
        # that used to absorb it — disappears.  A band-j key collision
        # merely moves a pair's emission earlier; it still reaches the
        # exact verify exactly once.
        #
        # Build-side strategy is an EXPLICIT doc-count gate (r13), not a
        # size estimate: the checkpointed signature frame descends from a
        # join whose size estimate is garbage (the stats visitor
        # multiplies child sizes), so auto-broadcast cannot be trusted
        # either way.  Below MASK_BROADCAST_DOCS the build side (pruned
        # to doc_id + N_BANDS longs, ~40 B/doc) broadcasts and every
        # band join is a map-side BroadcastHashJoin; above it the joins
        # shuffle on the band key and AQE handles skewed buckets — the
        # same gate, and the same 100 TB shape, as the verify joins
        # below.
        x, y = sigmask.alias("x"), sigmask.alias("y")
        if bcast:
            y = F.broadcast(y)
        band_joins = []
        for b in range(N_BANDS):
            cond = (F.col(f"x.band{b}") == F.col(f"y.band{b}")) & (
                F.col("x.doc_id") < F.col("y.doc_id")
            )
            for j in range(b):
                cond = cond & (F.col(f"x.band{j}") != F.col(f"y.band{j}"))
            band_joins.append(
                x.join(y, cond).select(
                    F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"),
                )
            )
        return reduce(DataFrame.unionAll, band_joins)

    def verify(joined: DataFrame, inter_sz) -> DataFrame:
        # Exact Jaccard (keeps precision = 1): union size derived
        # arithmetically (na + nb - n_common) behind a size-compatibility
        # prefilter — pairs where min/max token count alone caps Jaccard
        # below the threshold never pay the intersection.
        return (
            joined.filter(
                F.least("na", "nb")
                >= F.lit(JACCARD_THRESHOLD) * F.greatest("na", "nb")
            )
            .withColumn("n_common", inter_sz)
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("n_common").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_common"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )

    if vocab is not None:
        # SINGLE-PASS closed-vocab kernel (r13, guide §2.4 "remove
        # shuffles outright" / §1.2 "the distributed algorithm"): rounds
        # 2-12 built the band signatures and the verify bitmasks in TWO
        # separate tokenize+aggregate+localCheckpoint jobs — two full
        # passes over the corpus, each ~1.0 s of the 2.4 s sf0.1 bench
        # reading (profiled r13).  Both aggregates are keyed by doc_id,
        # so ONE groupBy now computes the 16 min-slices, the n_words
        # bitmask words AND the token count together, and ONE
        # localCheckpoint materializes them (doc_id + 4 band longs +
        # n_words mask longs + count per doc).
        #
        # The dictionary is already in hand (bounded collect in
        # _mask_vocab), so the per-token slice values are computed HERE
        # in Python (hashlib sha256 == Spark sha2 on the same UTF-8
        # bytes, certified by the unchanged DuckDB oracle) and embedded
        # as LITERAL map/array expressions — no dictionary frame, no
        # broadcast exchange at all: the per-plan `toks.distinct()+sha2`
        # subquery AND the per-execution ~0.25 s broadcast-build job of
        # the dictionary join both disappear (measured r13: the 31-row
        # broadcast join added a constant 0.27 s per execution over the
        # identical joinless aggregate).  Literals are authored as ONE
        # SQL text per expression (the parser builds them in a single
        # py4j call; per-element F.lit construction measured 14 s of
        # driver time at the 1024-token bound, the SQL-text form 0.7 s).
        # Slices are LONGs: min over fixed-width lowercase hex equals
        # min over the parsed value (lexicographic == numeric), so the
        # argmin token — and therefore every band key — is unchanged.
        import hashlib

        n_vocab = len(vocab)
        n_words = (n_vocab + 63) // 64

        def _slices_of(tok: str) -> list[int]:
            da = hashlib.sha256(b"A:" + tok.encode("utf-8")).hexdigest()
            db = hashlib.sha256(b"B:" + tok.encode("utf-8")).hexdigest()
            return [
                int((da if j < 8 else db)[(j % 8) * 8 : (j % 8) * 8 + 8], 16)
                for j in range(N_MINHASH)
            ]

        slices = [_slices_of(t) for t in vocab]

        def _sqlstr(t: str) -> str:
            return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

        idx_map = F.expr(
            "map("
            + ", ".join(f"{_sqlstr(t)}, {i}" for i, t in enumerate(vocab))
            + ")"
        )
        slice_arrs = [
            F.expr(
                "array("
                + ", ".join(f"{slices[i][j]}L" for i in range(n_vocab))
                + ")"
            )
            for j in range(N_MINHASH)
        ]
        # idx is never NULL: _mask_vocab only returns COMPLETE
        # dictionaries, so every token hits the map (the join this
        # replaces was inner on the same dictionary).
        ti = toks.select("doc_id", idx_map[F.col("tok")].alias("idx"))
        per_doc = ti.groupBy("doc_id").agg(
            *[
                F.min(
                    F.element_at(slice_arrs[j], F.col("idx") + 1)
                ).alias(f"h{j}")
                for j in range(N_MINHASH)
            ],
            *[
                F.bit_or(
                    F.expr(
                        f"CASE WHEN idx div 64 = {w} THEN "
                        "shiftleft(1L, CAST(idx % 64 AS INT)) ELSE 0L END"
                    )
                ).alias(f"m{w}")
                for w in range(n_words)
            ],
            F.count(F.lit(1)).alias("n"),
        )
        sigmask = per_doc.select(
            "doc_id",
            *_band_cols(),
            *[f"m{w}" for w in range(n_words)],
            "n",
        ).localCheckpoint(eager=True)
        in_gate = catalog.fits(sf_dir, MASK_BROADCAST_DOCS, "documents")
        pairs_raw = _band_pairs(sigmask, bcast=in_gate)
        ma = sigmask.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
            F.col("n").alias("na"),
        )
        mb = sigmask.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
            F.col("n").alias("nb"),
        )
        inter_sz = sum(
            [
                F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
                for w in range(n_words)
            ],
            F.lit(0),
        )
        if in_gate:
            # VERIFY-FIRST kernel: the per-doc masks are tiny (n_words
            # longs + a count), so broadcast them onto the band-join
            # pairs — the whole candidate stream (already duplicate-free
            # via first-matching-band) stays inside one
            # whole-stage-codegen stage with ZERO shuffles; there is no
            # pair-dedup shuffle left at all.
            joined = pairs_raw.join(F.broadcast(ma), "doc_a").join(
                F.broadcast(mb), "doc_b"
            )
            return verify(joined, inter_sz)
        # Above the broadcast gate: shuffle-join the masks (partitioned
        # by doc id — the 100 TB shape); candidates are already unique.
        joined = pairs_raw.join(ma, "doc_a").join(mb, "doc_b")
        return verify(joined, inter_sz)
    # Open-vocab kernel — SINGLE MAP-SIDE PASS (r13, guide §2.4): the
    # 16 signature mins, the hashed-sorted verify set (primitive
    # equality beats string equality ~2.5x; xxhash64 collisions are
    # ~2^-64, far below any other error source) and the cardinality are
    # all per-doc functions of the token ARRAY, so they compute as array
    # expressions in one projection chain — no explode, no aggregation
    # shuffle (rounds 2-12 ran a tokenize+min-agg shuffle pass AND a
    # separate tokenize+hash+sort pass), and ONE localCheckpoint.  The
    # digest structs live in their own projection so the two sha256
    # calls per token run once, not once per slice (CollapseProject
    # keeps multiply-referenced non-cheap aliases separate).
    digs = d.select(
        "doc_id",
        F.transform(
            _tokens(),
            lambda t: F.struct(
                F.sha2(F.concat(F.lit("A:"), t), 256).alias("da"),
                F.sha2(F.concat(F.lit("B:"), t), 256).alias("db"),
                F.xxhash64(t).alias("hx"),
            ),
        ).alias("dg"),
    )
    per_doc = digs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    "dg",
                    lambda x: F.substring(
                        x["da"] if j < 8 else x["db"], (j % 8) * 8 + 1, 8
                    ),
                )
            ).alias(f"h{j}")
            for j in range(N_MINHASH)
        ],
        F.sort_array(F.transform("dg", lambda x: x["hx"])).alias("hset"),
        F.size("dg").alias("n"),
    )
    sigmask = per_doc.select(
        "doc_id", *_band_cols(), "hset", "n"
    ).localCheckpoint(eager=True)
    pairs_raw = _band_pairs(
        sigmask, bcast=catalog.fits(sf_dir, MASK_BROADCAST_DOCS, "documents")
    )
    sa = sigmask.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hset").alias("set_a"),
        F.col("n").alias("na"),
    )
    sb = sigmask.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hset").alias("set_b"),
        F.col("n").alias("nb"),
    )
    joined = pairs_raw.join(sa, "doc_a").join(sb, "doc_b")
    return verify(joined, F.size(F.array_intersect("set_a", "set_b")))


COSINE_SCHEMA = "query_id long, neighbor_id long, sim double"
TOP_K = 5
N_CENTROIDS = 16
IVF_PROBE = 6
# Above this corpus size the broadcast brute-force path is refused: the
# candidate matrix would be O(corpus) on the driver.  The distributed
# bucketed kernel takes over (no driver collect of the embedding table).
BROADCAST_MAX_VECTORS = 65536

ASSIGN_SCHEMA = "bucket int, vec_id long, e array<double>"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


#: engine-portable IVF seed order: md5('ivfseed:' || vec_id) — the
#: minhash_sig basis, so the certified twin (ann_ivf_assign) selects the
#: IDENTICAL centroid set in DuckDB.
IVF_SEED_TAG = "ivfseed:"


def _ivf_seed_expr(vec_id_col):
    return F.md5(F.concat(F.lit(IVF_SEED_TAG), vec_id_col.cast("string")))


def _centroids(emb: DataFrame):
    """Seeded-sample centroids: the N_CENTROIDS vectors with the smallest
    md5(tagged vec_id) — portable across engines (was xxhash64 through
    round 6; the md5 basis lets ann_ivf_assign certify the assignment
    step against DuckDB).  Deterministic, computed as a distributed
    top-k — only n_cent rows ever reach the driver (vs the full-corpus
    toPandas() this replaced).  Returns the L2-normalized centroid
    matrix."""
    import numpy as np

    rows = (
        emb.withColumn("h", _ivf_seed_expr(F.col("vec_id")))
        .orderBy("h", "vec_id")
        .limit(N_CENTROIDS)
        .select("e")
        .collect()
    )
    C = np.stack([np.asarray(r.e) for r in rows])
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def _ivf_parts(spark: SparkSession, emb: DataFrame, probe: int):
    """Distributed IVF index build: returns (cand, probes) DataFrames.

    cand:   one row per corpus vector, assigned to its nearest-centroid
            bucket — hash-partitionable by bucket, never driver-collected.
    probes: `probe` rows per query vector, one per probed (nearest) bucket.

    Both carry the L2-normalized vector so the per-bucket kernel does no
    renormalization.  Assignment and probe ordering use identical float
    ops on identical inputs, so a candidate's own bucket is always its
    rank-1 probe (exactness when probe == N_CENTROIDS)."""
    import numpy as np

    cent = _centroids(emb)
    bc = spark.sparkContext.broadcast(cent)  # O(n_cent * dim) only

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for b in batches:
            if b.empty:
                continue
            Q = np.stack(b["e"].to_numpy())
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            S = Qn @ C.T
            # tie-safe nearest bucket: (-sim, bucket index)
            buck = np.array(
                [np.lexsort((np.arange(C.shape[0]), -S[r]))[0] for r in range(S.shape[0])],
                dtype="int32",
            )
            yield pd.DataFrame(
                {"bucket": buck, "vec_id": b["vec_id"], "e": list(Qn)}
            )

    def probe_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for b in batches:
            if b.empty:
                continue
            Q = np.stack(b["e"].to_numpy())
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            S = Qn @ C.T
            out_b, out_id, out_e = [], [], []
            for r in range(S.shape[0]):
                order = np.lexsort((np.arange(C.shape[0]), -S[r]))[:probe]
                for bk in order:
                    out_b.append(int(bk))
                    out_id.append(b["vec_id"].iloc[r])
                    out_e.append(Qn[r])
            yield pd.DataFrame({"bucket": out_b, "vec_id": out_id, "e": out_e})

    cand = emb.mapInPandas(assign, ASSIGN_SCHEMA)
    probes = emb.mapInPandas(probe_fn, ASSIGN_SCHEMA)
    return cand, probes


def _topk_bucketed(spark: SparkSession, emb: DataFrame, probe: int,
                   k: int = TOP_K) -> DataFrame:
    """Distributed ANN: per-bucket matmul over cogrouped (candidates,
    probing queries).  TRUE IVF economics — a bucket's candidates are
    scanned only by the queries that probe it, so compute/IO is bounded by
    probe/N_CENTROIDS of the all-pairs product (plus bucket skew).
    probe == N_CENTROIDS degenerates to exact distributed brute force
    (block-nested-loop with bucket blocks).  No step collects the corpus
    to the driver; the shuffle key is the bucket id."""
    import numpy as np

    cand, probes = _ivf_parts(spark, emb, probe)

    def bucket_topk(cands: pd.DataFrame, queries: pd.DataFrame) -> pd.DataFrame:
        if cands.empty or queries.empty:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "sim"])
        C = np.stack(cands["e"].to_numpy())
        c_ids = cands["vec_id"].to_numpy()
        Q = np.stack(queries["e"].to_numpy())
        q_ids = queries["vec_id"].to_numpy()
        S = np.round(Q @ C.T, 6)  # rank on ROUNDED sims: tie-safe selection
        out = []
        for r in range(S.shape[0]):
            s = S[r].copy()
            s[c_ids == q_ids[r]] = -np.inf  # exclude self
            order = np.lexsort((c_ids, -s))[:k]
            for j in order:
                if s[j] == -np.inf:
                    continue
                out.append((int(q_ids[r]), int(c_ids[j]), float(s[j])))
        return pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    per_bucket = (
        cand.groupby("bucket")
        .cogroup(probes.groupby("bucket"))
        .applyInPandas(bucket_topk, COSINE_SCHEMA)
    )
    # global top-k over the per-bucket winners (already rounded -> tie-safe)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        per_bucket.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _topk_broadcast(spark: SparkSession, emb: DataFrame, k: int = TOP_K) -> DataFrame:
    """Broadcast brute-force kernel — the fast path for corpora that fit
    comfortably on the driver (explicitly gated by BROADCAST_MAX_VECTORS;
    sim_cosine_topk falls back to _topk_bucketed above the gate)."""
    import numpy as np

    pdf = emb.toPandas()  # gated: caller checked corpus <= BROADCAST_MAX_VECTORS
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["e"].to_numpy())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, Mn))

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value
        for b in batches:
            q_ids = b["vec_id"].to_numpy()
            Q = np.stack(b["e"].to_numpy())
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            S = np.round(Qn @ c_mat.T, 6)  # rank on ROUNDED sims (tie-safe)
            out = []
            for r in range(S.shape[0]):
                s = S[r].copy()
                s[c_ids == q_ids[r]] = -np.inf  # exclude self
                order = np.lexsort((c_ids, -s))[:k]
                for j in order:
                    if s[j] == -np.inf:
                        continue
                    out.append((int(q_ids[r]), int(c_ids[j]), float(s[j])))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    return emb.repartition(8).mapInPandas(block, COSINE_SCHEMA)


def _cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dispatch on the footer row count, NOT emb.count() — the count was
    # a full Spark job inside the benched hot path (round-2's
    # q_cosine_topk +68% regression).
    emb = _emb(spark, sf_dir)
    if catalog.fits(sf_dir, BROADCAST_MAX_VECTORS, "embeddings"):
        return _topk_broadcast(spark, emb)
    return _topk_bucketed(spark, emb, probe=N_CENTROIDS)


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT query_id, neighbor_id, sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.e, b.e), 6) AS sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC,
                        b.vec_id) AS rn
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ) t WHERE rn <= {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE q_cosine_topk — exact top-5 cosine neighbors per vector.
    Reformulated per SURVEY §6 (naive HOF SQL was 141 s). Both engines rank
    on ROUND(sim, 6) with a neighbor_id tie-break, so the selection itself
    is tie-safe under cross-engine FP jitter, not just the reported value.
    Corpus <= BROADCAST_MAX_VECTORS: broadcast matrix + one matmul per
    Arrow batch; above the gate: distributed bucketed kernel (probe=all
    buckets = exact block-nested-loop, no driver collect)."""
    return _cosine_topk_exact(spark, sf_dir)


@register("ann_ivf", oracle=None)  # R class: approximate by design
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN with REAL pruning economics: seeded-sample
    centroids (distributed top-k by xxhash64(vec_id), never a corpus
    collect), candidates hash-partitioned by nearest-centroid bucket,
    queries cogrouped with ONLY their IVF_PROBE probed buckets — a
    bucket's candidates are scanned solely by the queries probing it, so
    compute/IO ~ probe/N_CENTROIDS of all-pairs (asserted in
    tests/test_ann_scale.py). Recall@5 vs sim_cosine_topk is
    property-tested. At 10^9+ vectors centroids grow ~sqrt(n); the
    per-bucket cogroup shape is unchanged."""
    return _topk_bucketed(spark, _emb(spark, sf_dir), probe=IVF_PROBE)


_IVF_SEED_SQL = f"md5('{IVF_SEED_TAG}' || CAST(vec_id AS VARCHAR))"


@register(
    "ann_ivf_assign",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY {_IVF_SEED_SQL}, vec_id) - 1
               AS c_idx,
             e AS c,
             sqrt(list_reduce(list_transform(e, x -> x * x),
                              (acc, x) -> acc + x)) AS cnorm
      FROM emb
      ORDER BY {_IVF_SEED_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    ), pairs AS (
      SELECT q.vec_id, s.c_idx,
             list_reduce(
               list_transform(list_zip(q.e, s.c), p -> p[1] * p[2]),
               (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(q.e, x -> x * x),
                                 (acc, x) -> acc + x)) * s.cnorm) AS sim
      FROM emb q CROSS JOIN seeds s
    ), best AS (
      SELECT vec_id, c_idx, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, c_idx) AS rn
      FROM pairs
    )
    SELECT vec_id, CAST(c_idx AS INTEGER) AS bucket,
           round(sim, 6) AS sim
    FROM best WHERE rn = 1
    """,
)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-build assignment step, certified EXACTLY — the
    embed_kmeans iteration-1 playbook applied to ann_ivf (VERDICT r6
    'Next round' #5): ann_ivf itself stays R class (its per-bucket
    NumPy matmul kernel is approximate by design), but its
    centroid-selection + nearest-centroid assignment semantics get a
    DuckDB twin on the shared md5 seed basis (_ivf_seed_expr — the SAME
    expression _centroids uses, so this op pins the production centroid
    set, not a parallel one).

    Cross-engine exactness: cosine is built from three strict left
    folds (dot, |q|², |c|²) in a FIXED evaluation tree
    `dot / (sqrt(qq) * cnorm)` — Spark `aggregate(zip_with(...))` vs
    DuckDB `list_reduce(list_transform(list_zip(...)))` — so both
    engines produce bit-identical sims, identical argmax buckets
    (tie-safe via min-struct on (-sim, c_idx) == ORDER BY sim DESC,
    c_idx), and identical round(sim, 6).

    Scale shape: N_CENTROIDS seed rows collect to the driver
    (model-sized) and re-enter as a broadcast; assignment is a map-side
    K-way fold inside WholeStageCodegen; the only shuffle is the final
    min-by-struct groupBy on vec_id."""
    emb = _emb(spark, sf_dir)
    seeds = (
        emb.orderBy(_ivf_seed_expr(F.col("vec_id")), "vec_id")
        .limit(N_CENTROIDS)
        .select("e")
        .collect()
    )
    sq_fold = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    seeds_df = spark.createDataFrame(
        [(i, list(r.e)) for i, r in enumerate(seeds)],
        "c_idx int, c array<double>",
    )
    seeds_df = seeds_df.select(
        "c_idx", "c", F.sqrt(sq_fold(F.col("c"))).alias("cnorm")
    )
    dot = F.aggregate(
        F.zip_with(F.col("e"), F.col("c"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # r13 (guide §1.2 per-task work): the query norm is a per-VECTOR
    # quantity — hoisting sqrt(sq_fold(e)) out of the per-pair expression
    # evaluates it once per vector instead of once per (vector, centroid)
    # pair.  Bit-identical: same IEEE ops on the same operands, so sim
    # and the certified round(sim, 6) are unchanged.
    emb_n = emb.select(
        "vec_id", "e", F.sqrt(sq_fold(F.col("e"))).alias("enorm")
    )
    sim = dot / (F.col("enorm") * F.col("cnorm"))
    pairs = emb_n.crossJoin(F.broadcast(seeds_df)).select(
        "vec_id", "c_idx", sim.alias("sim")
    )
    best = pairs.groupBy("vec_id").agg(
        F.min(F.struct((-F.col("sim")).alias("ns"), F.col("c_idx"))).alias("m")
    )
    return best.select(
        "vec_id",
        F.col("m.c_idx").alias("bucket"),
        F.round(-F.col("m.ns"), 6).alias("sim"),
    )


LSH_BITS = 6          # random-hyperplane sign bits -> 2^6 buckets
LSH_SEED = 20240813   # hyperplane RNG seed (deterministic index build)


def ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_bits: int = 8,
    seed: int = 20240813,
) -> DataFrame:
    """Approximate cosine top-k on ANY (id, embedding) table (ann_lsh's
    algebra with k / bits / seed parameterized): each vector buckets by
    the sign pattern of `n_bits` seeded random-hyperplane projections
    (SimHash for cosine), queries multiprobe their own bucket plus every
    Hamming-1 neighbor, and each bucket's candidates are scanned only by
    the queries probing it.  Returns (query_id, neighbor_id, sim).
    Data-independent (no centroid build) — use cosine_topk for the exact
    answer when the corpus is small enough.

    Scale shape: the hyperplane matrix is regenerated identically in
    every task from the seed (O(bits x dim) constants, nothing collected
    or broadcast); candidates hash-partition by bucket, so each query
    scans ~ (1 + n_bits) / 2^n_bits of the corpus instead of all of
    it."""
    if k < 1 or not 1 <= n_bits <= 24:
        raise ValueError("k must be >= 1 and n_bits in [1, 24]")
    require_integral_id(df, id_col, "ann_topk")
    import numpy as np

    emb = df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )

    def code_of(Qn: "np.ndarray", planes: "np.ndarray") -> "np.ndarray":
        bits = (Qn @ planes.T) >= 0.0
        return (bits @ (1 << np.arange(n_bits))).astype("int32")

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if b.empty:
                continue
            planes = np.random.RandomState(seed).standard_normal(
                (n_bits, len(b["e"].iloc[0]))
            )
            Q = np.stack(b["e"].to_numpy())
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"bucket": code_of(Qn, planes), "vec_id": b["vec_id"], "e": list(Qn)}
            )

    def probe_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if b.empty:
                continue
            planes = np.random.RandomState(seed).standard_normal(
                (n_bits, len(b["e"].iloc[0]))
            )
            Q = np.stack(b["e"].to_numpy())
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            own = code_of(Qn, planes)
            out_b, out_id, out_e = [], [], []
            for r in range(len(own)):
                probes = [int(own[r])] + [
                    int(own[r]) ^ (1 << j) for j in range(n_bits)
                ]
                for bk in probes:
                    out_b.append(bk)
                    out_id.append(b["vec_id"].iloc[r])
                    out_e.append(Qn[r])
            yield pd.DataFrame({"bucket": out_b, "vec_id": out_id, "e": out_e})

    cand = emb.mapInPandas(assign, ASSIGN_SCHEMA)
    probes = emb.mapInPandas(probe_fn, ASSIGN_SCHEMA)

    def bucket_topk(cands: pd.DataFrame, queries: pd.DataFrame) -> pd.DataFrame:
        if cands.empty or queries.empty:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "sim"])
        C = np.stack(cands["e"].to_numpy())
        c_ids = cands["vec_id"].to_numpy()
        Q = np.stack(queries["e"].to_numpy())
        q_ids = queries["vec_id"].to_numpy()
        S = np.round(Q @ C.T, 6)
        out = []
        for r in range(S.shape[0]):
            s = S[r].copy()
            s[c_ids == q_ids[r]] = -np.inf
            order = np.lexsort((c_ids, -s))[:k]
            for j in order:
                if s[j] == -np.inf:
                    continue
                out.append((int(q_ids[r]), int(c_ids[j]), float(s[j])))
        return pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    per_bucket = (
        cand.groupby("bucket")
        .cogroup(probes.groupby("bucket"))
        .applyInPandas(bucket_topk, COSINE_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        per_bucket.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register("ann_lsh", oracle=None)  # R class: approximate by design
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN — the second scale path next to ann_ivf (data-
    independent, no centroid build): each vector's bucket is the sign
    pattern of LSH_BITS random-hyperplane projections (Charikar'02 SimHash
    for cosine); candidates hash-partition by bucket, queries MULTIPROBE
    their own bucket plus every Hamming-1 neighbor (flip one bit), and
    each bucket's candidates are scanned only by the queries probing it —
    the same cogroup economics as ann_ivf with zero training.  The
    hyperplane matrix is seeded numpy (LSH_BITS x dim, regenerated
    identically in every task — nothing is collected or broadcast beyond
    the O(bits*dim) constants).  On the near-random synthetic corpus
    recall@5 is ~0.23 while scanning ~11% of the corpus — ~2.1x better
    than equal-cost random scanning, which is the honest ceiling for
    data-independent LSH on unclustered data (tests/test_ann_scale.py
    pins both the recall ratio and the scan economics)."""
    return ann_topk(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", TOP_K,
        LSH_BITS, LSH_SEED,
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, sha256(text) AS content_hash,
             CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END AS incoming
      FROM documents
    ), corpus AS (
      SELECT DISTINCT content_hash FROM hashed WHERE incoming = 0
    )
    SELECT h.doc_id, h.content_hash
    FROM hashed h
    LEFT JOIN corpus c ON h.content_hash = c.content_hash
    WHERE h.incoming = 1
      AND c.content_hash IS NULL
      AND h.doc_id = (
        SELECT min(h2.doc_id) FROM hashed h2
        WHERE h2.incoming = 1 AND h2.content_hash = h.content_hash
      )
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup — the daily-ingest shape: a new
    batch (here doc_id % 10 >= 8) is admitted only where its content hash
    (a) does not exist in the already-ingested corpus (anti-join) and
    (b) is the deterministic keeper (min doc_id) within the batch itself.

    Scale shape: the corpus side reduces to its DISTINCT hash set before
    the anti-join, both sides hash-partition on content_hash (the 100 TB
    layout keeps the corpus hash index bucketed by this key, making the
    anti-join co-located), and the within-batch keeper is one map-side-
    combinable min aggregation.  No step is proportional to corpus *
    batch."""
    d = table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.sha2("text", 256)
    )
    incoming = d.filter(F.col("doc_id") % 10 >= 8)
    corpus_hashes = (
        d.filter(F.col("doc_id") % 10 < 8).select("content_hash").distinct()
    )
    fresh = incoming.join(corpus_hashes, "content_hash", "anti")
    return (
        fresh.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "content_hash")
    )


@register(
    "sim_knn",
    oracle=f"""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC,
                          b.vec_id) AS rn
        FROM n a JOIN n b ON a.vec_id <> b.vec_id
      ) t WHERE rn <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, e.label, count(*) AS n_votes
      FROM topk JOIN embeddings e ON neighbor_id = e.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, label AS predicted_label, n_votes FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label) AS rv
      FROM votes
    ) t WHERE rv = 1
    """,
)
def sim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label vote over the exact top-5 neighbors (deterministic
    tie-break: highest vote count, then smallest label)."""
    topk = _cosine_topk_exact(spark, sf_dir)
    labels = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("rv", F.row_number().over(w))
        .filter(F.col("rv") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


@register(
    "embed_neardup",
    oracle="""
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
    """,
)
def embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= 0.4; corpus max is
    ~0.51 so the threshold is meaningfully selective). Threshold applied
    to ROUND(sim, 6) on both engines so boundary pairs are tie-safe.
    Small corpus: broadcast-matmul kernel; above BROADCAST_MAX_VECTORS:
    blocked all-pairs (_pairs_blocked — no driver collect)."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    if not catalog.fits(sf_dir, BROADCAST_MAX_VECTORS, "embeddings"):
        return _pairs_blocked(spark, emb, threshold=0.4)
    pdf = emb.toPandas()  # gated by BROADCAST_MAX_VECTORS above
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["e"].to_numpy())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, Mn))

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = bc.value
        for b in batches:
            q_ids = b["vec_id"].to_numpy()
            Q = np.stack(b["e"].to_numpy())
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            S = np.round(Qn @ c_mat.T, 6)
            rows, cols = (S >= 0.4).nonzero()
            out = [
                (int(q_ids[r]), int(c_ids[c]), float(S[r, c]))
                for r, c in zip(rows, cols)
                if q_ids[r] < c_ids[c]  # canonical pair orientation
            ]
            yield pd.DataFrame(out, columns=["vec_a", "vec_b", "sim"])

    return emb.repartition(8).mapInPandas(block, "vec_a long, vec_b long, sim double")


def _pairs_blocked(spark: SparkSession, emb: DataFrame, threshold: float,
                   n_blocks: int = 32) -> DataFrame:
    """Distributed all-pairs cosine >= threshold via a 2-D BLOCK-PAIR
    decomposition: vectors hash-block on vec_id, and each task owns one
    unordered block pair (bi <= bj) — block bi's vectors meet block bj's
    in exactly one matmul, so every vector pair is COMPUTED ONCE (the old
    every-vector-probes-every-block shape computed each cross-block pair
    twice, once per orientation).  Exact all-pairs is inherently O(n^2)
    compute; this halves the constant and keeps the shuffle at n_blocks
    replicas per vector (each vector belongs to n_blocks unordered pairs).
    Shuffle key is the block pair; nothing is collected to the driver."""
    import numpy as np

    blocked = emb.withColumn(
        "bucket", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    ).select("bucket", "vec_id", "e")
    others = spark.range(n_blocks).select(F.col("id").cast("int").alias("other"))
    # vector in block i -> one row per unordered pair {i, o}: key (bi, bj)
    # with bi <= bj receives block bi's and block bj's vectors exactly once
    expanded = blocked.crossJoin(others).select(
        F.least("bucket", "other").alias("bi"),
        F.greatest("bucket", "other").alias("bj"),
        "bucket",
        "vec_id",
        "e",
    )

    def pair_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        cols = ["vec_a", "vec_b", "sim"]
        a = pdf[pdf["bucket"] == bi]
        if a.empty:
            return pd.DataFrame(columns=cols)
        A = np.stack(a["e"].to_numpy())
        a_ids = a["vec_id"].to_numpy()
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        if bi == bj:
            S = np.round(An @ An.T, 6)
            rows_, cols_ = (S >= threshold).nonzero()
            out = [
                (int(a_ids[r]), int(a_ids[c]), float(S[r, c]))
                for r, c in zip(rows_, cols_)
                if a_ids[r] < a_ids[c]
            ]
            return pd.DataFrame(out, columns=cols)
        b = pdf[pdf["bucket"] == bj]
        if b.empty:
            return pd.DataFrame(columns=cols)
        B = np.stack(b["e"].to_numpy())
        b_ids = b["vec_id"].to_numpy()
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        S = np.round(An @ Bn.T, 6)
        rows_, cols_ = (S >= threshold).nonzero()
        out = [
            (
                int(min(a_ids[r], b_ids[c])),
                int(max(a_ids[r], b_ids[c])),
                float(S[r, c]),
            )
            for r, c in zip(rows_, cols_)
        ]
        return pd.DataFrame(out, columns=cols)

    return expanded.groupby("bi", "bj").applyInPandas(
        pair_block, "vec_a long, vec_b long, sim double"
    )


@register(
    "mm_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
           len(e.embedding) AS dim,
           round(sqrt(list_aggregate(
             list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x), 'sum')), 6
           ) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def mm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal assembly: text record ⋈ embedding vector into one row
    (struct built internally, scalar fields surfaced for comparison)."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id).withColumn(
        "record",
        F.struct("doc_id", "lang", "source", "n_chars", "label", "embedding"),
    )
    emb_d = F.col("record.embedding").cast("array<double>")
    return joined.select(
        F.col("record.doc_id").alias("doc_id"),
        F.col("record.lang").alias("lang"),
        F.col("record.source").alias("source"),
        F.col("record.n_chars").alias("n_chars"),
        F.col("record.label").alias("label"),
        F.size("record.embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(emb_d, lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("emb_norm"),
    )


MM_FEATURES_SCHEMA = (
    "doc_id long, modality string, n_bytes long, checksum bigint, "
    "feat_json string, decode_error string"
)


@register("mm_features", oracle=None)  # R class: binary plumbing, stubbed decode
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction plumbing: opaque binary payload +
    typed metadata -> mapInPandas batch feature extractor.

    The real image/audio decode is STUBBED (no codec libs in this
    container): modality 'text' gets deterministic fake features
    (byte-histogram moments, vectorized with numpy over the whole Arrow
    batch — one concatenated buffer + reduceat over offsets, no per-row
    Python loop); any other modality raises NotImplementedError inside
    the batch fn and is surfaced per-row in decode_error.  The feature
    vector ships as a JSON string (`feat_json`) — the driver's row
    canonicalizer cannot hash array cells (invert_index's serialization
    contract).  The Spark-side contract — binary column, Arrow batch
    shape, schema, partitioning — is real and tested."""
    import json

    import numpy as np

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text").alias("modality"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if b.empty:
                continue
            is_text = (b["modality"] == "text").to_numpy()
            payloads = [bytes(p) for p in b["payload"]]
            lens = np.array([len(p) for p in payloads], dtype="int64")
            # vectorized moments: one flat buffer, segment-reduce by offsets.
            # reduceat cannot express empty segments, so stats run over the
            # non-empty rows and scatter back (empty payload -> all-zero
            # feature, matching a zero-byte histogram).
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8).astype("int64")
            nz = np.flatnonzero(lens)
            sums = np.zeros(len(lens), "int64")
            sq = np.zeros(len(lens), "int64")
            mins = np.zeros(len(lens), "int64")
            maxs = np.zeros(len(lens), "int64")
            if nz.size:
                ends = np.cumsum(lens)
                starts = (ends - lens)[nz]
                sums[nz] = np.add.reduceat(flat, starts)
                sq[nz] = np.add.reduceat(flat * flat, starts)
                mins[nz] = np.minimum.reduceat(flat, starts)
                maxs[nz] = np.maximum.reduceat(flat, starts)
            means = sums / np.maximum(lens, 1)
            stds = np.sqrt(np.maximum(sq / np.maximum(lens, 1) - means * means, 0.0))
            feats = [
                json.dumps(
                    [float(np.float32(m)), float(np.float32(s)),
                     float(np.float32(lo)), float(np.float32(hi))]
                )
                if ok
                else None
                for ok, m, s, lo, hi in zip(is_text, means, stds, mins, maxs)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"].astype("int64"),
                    "modality": b["modality"],
                    "n_bytes": lens,
                    "checksum": np.where(is_text, sums, None),
                    "feat_json": feats,
                    "decode_error": [
                        None if ok else f"NotImplementedError: decode[{m}]"
                        # STUB: real decode (image resize / audio resample /
                        # video frame-sample) needs codec libs absent here.
                        for ok, m in zip(is_text, b["modality"])
                    ],
                }
            )

    return d.mapInPandas(extract, MM_FEATURES_SCHEMA)


@register(
    "embed_quantize",
    oracle="""
    WITH src AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), rng AS (
      SELECT vec_id, e,
             list_aggregate(e, 'min') AS lo,
             list_aggregate(e, 'max') AS hi
      FROM src
    ), coded AS (
      SELECT vec_id, lo, hi,
             -- hi==lo (constant vector): code 0, value reconstructs as lo.
             -- An unguarded divide crashes Spark (ANSI mode) outright.
             list_transform(e, x -> CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((x - lo) / (hi - lo) * 255 + 0.5) AS BIGINT)
                  END) AS codes
      FROM rng
    )
    SELECT vec_id, lo, hi,
           coalesce(array_to_string(codes[1:4], ','), '') AS q_head,
           CAST(coalesce(list_aggregate(codes, 'sum'), 0) AS BIGINT) AS q_checksum
    FROM coded
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization per vector (min/max range -> 0..255
    codes): 4x storage compression for ANN candidate sets — quantized
    codes live in the broadcast index, full floats only for reranking.
    Codes + per-vector (lo, hi) allow dequantization with bounded error
    (property-tested). floor(x+0.5) keeps both engines bit-identical on
    the code values; checksum + head surfaced for the hash gate."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    lo = F.array_min("e")
    hi = F.array_max("e")
    with_rng = emb.select("vec_id", "e", lo.alias("lo"), hi.alias("hi"))

    def code(x):
        # constant vector (hi == lo): code 0 — an unguarded divide is a
        # DIVIDE_BY_ZERO job abort under Spark ANSI mode (default in 4.x)
        return F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
            F.floor(
                (x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255 + 0.5
            ).cast("long")
        )

    codes = F.transform(F.col("e"), code)
    return with_rng.select(
        "vec_id",
        "lo",
        "hi",
        F.array_join(F.slice(codes, 1, 4), ",").alias("q_head"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_checksum"
        ),
    )


@register(
    "curation_pipeline",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, lang, text,
             (CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 200
                   THEN 1 ELSE 0 END
              + CASE WHEN CAST(len(list_distinct(string_split(lower(text), ' ')))
                          AS DOUBLE) / len(string_split(text, ' ')) >= 0.45
                     THEN 1 ELSE 0 END
              + CASE WHEN CAST(len(list_filter(string_split(lower(text), ' '),
                                               t -> t IN ('a', 'the'))) AS DOUBLE)
                          / len(string_split(text, ' ')) <= 0.5
                     THEN 1 ELSE 0 END) AS quality_score
      FROM documents
    ), kept AS (
      SELECT * FROM quality WHERE quality_score = 3
    ), deduped AS (
      SELECT lang, text, min(doc_id) AS keeper_doc_id
      FROM kept GROUP BY sha256(text), lang, text
    )
    SELECT lang,
           count(*) AS docs_kept,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_kept,
           min(keeper_doc_id) AS first_keeper
    FROM deduped
    GROUP BY lang
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition as ONE lazy plan: quality filter
    (text_quality's 0-3 score) -> exact dedup (sha256, deterministic
    keeper) -> per-language token accounting. Catalyst fuses the filter
    and scoring into the scan stage; the two aggregations are the only
    shuffles. This is the shape of a real corpus-prep job — and the point
    of an engine: stages compose without materialization between them."""
    d = table(spark, sf_dir, "documents")
    raw_toks = F.split(F.col("text"), " ")
    low_toks = F.split(F.lower("text"), " ")
    n_tokens = F.size(raw_toks)
    uniq_ratio = F.size(F.array_distinct(low_toks)).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter(low_toks, lambda t: t.isin("a", "the"))).cast("double")
        / n_tokens
    )
    quality = (
        F.when(n_tokens.between(30, 200), 1).otherwise(0)
        + F.when(uniq_ratio >= 0.45, 1).otherwise(0)
        + F.when(stop_ratio <= 0.5, 1).otherwise(0)
    )
    kept = d.withColumn("quality_score", quality).filter(F.col("quality_score") == 3)
    deduped = (
        kept.groupBy(F.sha2("text", 256).alias("h"), "lang", "text")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("tokens_kept"),
        F.min("keeper_doc_id").alias("first_keeper"),
    )


def _dedup_clusters_oracle() -> str:
    """Recursive-CTE transitive closure over dedup_near's verified pairs
    (the dedup_clusters_exact playbook): with dedup_near now on the
    certified md5 basis (round 7), the cluster step's pair source is
    DuckDB-computable, so the iterative label propagation gets an exact
    oracle — min reachable id per node == converged min-label."""
    return f"""
    WITH RECURSIVE {_dedup_near_ctes()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM near_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM near_pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, label) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
    ),
    lbl AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
    SELECT label AS cluster_rep,
           CAST(count(*) AS BIGINT) AS cluster_size,
           CAST(list_sort(list(id)) AS VARCHAR) AS members
    FROM lbl GROUP BY label
    """


@register("dedup_clusters", oracle=_dedup_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph — turns
    pairwise matches into dedup CLUSTERS with a canonical representative
    (min doc_id), the step that makes near-dedup actionable (keep one doc
    per component, not per pair).

    Iterative min-label propagation; converges in O(component diameter)
    rounds.  Exact oracle since round 7: dedup_near's pair graph rides
    the certified md5 basis, so the oracle recomputes the clusters as a
    recursive-CTE transitive closure (min reachable id per node — the
    fixpoint label propagation converges to).  Scale notes: labels are
    localCheckpoint()ed each round to cut the growing lineage (the
    classic iterative-Spark failure mode), and convergence is a count of
    changed labels (one small action per round), not a collect.
    Property-tested against union-find."""
    # r13 GROUP-GRAPH COLLAPSE, r14 REPRESENTATIVE-LEVEL PAIRS (guide
    # §1.2 "the distributed algorithm"): docs with IDENTICAL token sets
    # form a clique in the near-dup graph (equal sets share every
    # signature, so dedup_near always emits their pairs at J = 1), so
    # contracting each identical-set group to one node — its min doc_id,
    # which is also the label the component converges to — preserves
    # connected components EXACTLY.  r13 still MATERIALIZED the full doc
    # pair list (948k rows at sf0.1: one pair-sized checkpoint + a
    # distinct) only to contract it to 28k group edges.  r14 removes the
    # doc-pair list entirely: identical sets share every band key AND
    # every verify outcome, so running dedup_near's pipeline on ONE
    # REPRESENTATIVE per group (doc_id == gid) emits exactly the
    # distinct inter-group edges — J(a in A, b in B) = J(rep_A, rep_B)
    # and candidate(a, b) <=> candidate(rep_A, rep_B), proven by the
    # representative-equivalence property test.  Member docs re-enter
    # only at expansion: a doc appears in the old pair list iff its
    # group has >= 2 members (intra-group J = 1 pairs) or its group has
    # an inter-group edge — both derivable from dmap + the edge list
    # without touching doc pairs.
    dmap = _spread_docs(
        spark, sf_dir, table(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(_tokens()))
        .alias("gid"),
    )
    dmap = dmap.localCheckpoint(eager=True)
    rep_ids = dmap.filter(F.col("doc_id") == F.col("gid")).select("doc_id")
    reps = table(spark, sf_dir, "documents").join(rep_ids, "doc_id", "semi")
    gpairs = (
        _dedup_near_pairs(spark, sf_dir, _spread_docs(spark, sf_dir, reps))
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    # Scale-adaptive loop width (r14, guide §2.2 "fewer, larger
    # partitions"): the band-join union leaves 4 x ncores near-empty
    # partitions on the contracted edge list, and every label round
    # below re-scans it — at sf0.1 the 7-round loop spent half its wall
    # scheduling empty tasks (measured: loop 6.1 s at 128 partitions,
    # 3.2 s at 8).  The edge count is already materialized (checkpoint),
    # so one cheap count sizes the loop input at ~50k edges/partition,
    # capped at defaultParallelism — at corpus scale the cap keeps full
    # parallelism, locally the loop runs on 1-2 fat partitions.
    n_edges = gpairs.count()
    loop_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-n_edges // 50_000),
        ),
    )
    gpairs = gpairs.coalesce(loop_parts)
    # member docs: groups with >= 2 docs, plus edge endpoints (covers
    # singleton groups that pair with another group); a group with only
    # intra-group pairs has no edges and keeps label == gid via the
    # left-join coalesce at expansion (identical to seeding it).
    gsize = dmap.groupBy("gid").agg(F.count(F.lit(1)).alias("gn"))
    active = (
        gsize.filter(F.col("gn") >= 2).select("gid")
        .union(gpairs.select(F.col("doc_a").alias("gid")))
        .union(gpairs.select(F.col("doc_b").alias("gid")))
        .distinct()
    )
    doc_gid = dmap.join(active, "gid").select(
        F.col("doc_id").alias("id"), "gid"
    )
    labels = (
        gpairs.select(F.col("doc_a").alias("id"))
        .union(gpairs.select(F.col("doc_b").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    edges_bidir = gpairs.union(
        gpairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    for _ in range(15):  # diameter bound; corpus components are tiny
        neighbor_min = (
            edges_bidir.join(labels, edges_bidir.doc_b == labels.id)
            .groupBy(F.col("doc_a").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer-jumping (label[label]) compresses chains in
        # O(log diameter) rounds: the new label is min(label, min
        # neighbor label, label's own label) — all three are ids inside
        # the same component, so the fixpoint (the component min) is
        # unchanged.  r14 applies the jump TWICE per round (the second
        # jump reads the in-round labels), squaring the per-round
        # compression: measured 7 -> 5 rounds on the sf0.1 group graph
        # (diameter 10), each jump a broadcast of the model-sized label
        # frame.  `changed` compares the FINAL label against the round
        # input, so convergence sees both stages.
        jump = labels.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
        )
        stage1 = (
            labels.join(neighbor_min, "id", "left")
            .join(F.broadcast(jump), F.col("label") == F.col("_jid"), "left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"),
                    F.coalesce("nbr_label", F.col("label")),
                    F.coalesce("_jlabel", F.col("label")),
                ).alias("label"),
            )
        )
        jump2 = stage1.select(
            F.col("id").alias("_j2id"), F.col("label").alias("_j2label")
        )
        new_labels = (
            stage1.join(
                F.broadcast(jump2), F.col("label") == F.col("_j2id"), "left"
            )
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce("_j2label", F.col("label")),
                ).alias("label"),
                (
                    F.least(
                        F.col("label"),
                        F.coalesce("_j2label", F.col("label")),
                    )
                    < F.col("_old")
                ).alias("changed"),
            )
        )
        new_labels = new_labels.localCheckpoint()
        converged = new_labels.filter(F.col("changed")).isEmpty()
        labels = new_labels.drop("changed")
        if converged:
            break
    # expand group labels back to the documents that appear in pairs;
    # left join: an edge-less group keeps its own gid as the label
    doc_labels = doc_gid.join(
        labels.select(F.col("id").alias("gid"), "label"), "gid", "left"
    ).withColumn("label", F.coalesce("label", "gid"))
    return (
        doc_labels.groupBy(F.col("label").alias("cluster_rep"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(F.collect_list("id")).cast("string").alias("members"),
        )
    )


MM_IMG_W, MM_IMG_H = 16, 12  # synthetic raw bitmap dims (uint8, 1 channel)


def _mm_payloads(spark: SparkSession, sf_dir: str, n_frames: int = 1) -> DataFrame:
    """Synthesize deterministic RAW (uncompressed) bitmap payloads as a
    real binary column: doc_id seeds a uint8 grid of n_frames*H*W bytes.
    This is the layout a decoded image/video tensor has AFTER the codec
    stage; generating it raw keeps every downstream op (resize,
    frame-sample) REAL math — only the codec decode itself would be the
    stubbed step in this container (see mm_features)."""
    import numpy as np

    d = table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sz = n_frames * MM_IMG_H * MM_IMG_W
        for b in batches:
            out = []
            for doc_id in b["doc_id"]:
                # deterministic per-doc bytes: iterated affine (LCG) on doc_id
                x = np.arange(sz, dtype=np.uint64)
                vals = ((x * 2654435761 + np.uint64(int(doc_id) * 40503 + 7)) >> np.uint64(8)).astype(np.uint8)
                out.append((int(doc_id), vals.tobytes(), n_frames, MM_IMG_H, MM_IMG_W))
            yield pd.DataFrame(
                out, columns=["doc_id", "payload", "n_frames", "height", "width"]
            )

    return d.repartition(8).mapInPandas(
        gen, "doc_id long, payload binary, n_frames int, height int, width int"
    )


@register("mm_resize", oracle=None)  # R class: binary plumbing, property-tested
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize over an opaque binary column (SURVEY/LLM-pipeline
    'multimodal' family): raw uint8 bitmap (H x W) -> nearest-neighbor
    downsample to (H/2 x W/2) inside an Arrow-batched mapInPandas. The
    resize math is real (index-grid gather per batch); the payload column,
    typed metadata, batch shape and partitioning are exactly what a
    codec-decoded pipeline uses. Output carries the resized payload plus
    a checksum so tests can verify pixel-exact selection."""
    import numpy as np

    src = _mm_payloads(spark, sf_dir, n_frames=1)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for doc_id, payload, h, w in zip(
                b["doc_id"], b["payload"], b["height"], b["width"]
            ):
                img = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(h, w)
                small = img[::2, ::2]  # nearest-neighbor 2x downsample
                out.append(
                    (
                        int(doc_id),
                        small.shape[0],
                        small.shape[1],
                        small.tobytes(),
                        int(small.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "out_h", "out_w", "payload", "pixel_sum"],
            )

    return src.mapInPandas(
        resize, "doc_id long, out_h int, out_w int, payload binary, pixel_sum long"
    )


@register("mm_frame_sample", oracle=None)  # R class: binary plumbing, property-tested
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over an opaque binary column: raw uint8 tensor
    (n_frames x H x W) -> every 3rd frame, one OUTPUT ROW PER SAMPLED
    FRAME (the explode-shaped contract a frame-level training pipeline
    needs). Slicing is real byte-offset math on the raw layout; per-frame
    checksums let tests verify frame-exact extraction. Scale: frames of
    one video stay in one Arrow batch; videos partition freely."""
    import numpy as np

    n_frames, stride = 9, 3
    src = _mm_payloads(spark, sf_dir, n_frames=n_frames)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for doc_id, payload, nf, h, w in zip(
                b["doc_id"], b["payload"], b["n_frames"], b["height"], b["width"]
            ):
                vid = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(nf, h, w)
                for idx in range(0, nf, stride):
                    frame = vid[idx]
                    out.append(
                        (
                            int(doc_id),
                            idx,
                            int(frame.astype(np.int64).sum()),
                            frame.tobytes(),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "frame_sum", "frame"]
            )

    return src.mapInPandas(
        sample, "doc_id long, frame_idx int, frame_sum long, frame binary"
    )
