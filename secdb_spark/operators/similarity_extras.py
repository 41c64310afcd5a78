"""Round-6 additions, batch 6 — SURVEY §2.T: an EXACTLY-certifiable
random-hyperplane LSH (the vector-side twin of `lsh_candidates`'
minhash certification), asymmetric containment similarity over the
certified candidate graph, equal-frequency quantile binning, a
duplicate-cluster multiplicity histogram, and the event-type user-base
overlap matrix.

Design rules as everywhere in this package: one declarative DataFrame
plan per op (Catalyst owns the physical strategy), broadcast what is
model-sized, shuffle only on the op's natural key, every float that
reaches the driver either integer-quantized or produced by an identical
single-IEEE-op expression tree in both engines (registry.py header lists
the six determinism conventions).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import (
    GLOBAL_WINDOW_GATE,
    bucketed_global_rank,
    ntile_from_rank,
)
from ._helpers import pin, r4

D0 = "decimal(38,0)"

# ---------------------------------------------------------------------------
# ann_lsh_exact — md5-derived hyperplanes make SRP-LSH oracle-checkable
# ---------------------------------------------------------------------------

SRP_PLANES = 8
SRP_DIM = 64
SRP_COEF_RANGE = 2001  # coefficients in [-1000, 1000]
EMB_SCALE = 10**6      # component quantization (float32, unit scale)


def _srp_coef(p: int, d: int) -> int:
    """Deterministic pseudo-random hyperplane coefficient in
    [-1000, 1000] from md5 — the engine-portable basis (minhash_sig
    playbook): both the Spark literal array and the DuckDB literal are
    generated from THIS function, so the planes are identical by
    construction and the whole signature computation is exact integer
    arithmetic both sides."""
    h = hashlib.md5(f"srp:{p}:{d}".encode()).hexdigest()[:8]
    return int(h, 16) % SRP_COEF_RANGE - 1000


_PLANES = [[_srp_coef(p, d) for d in range(SRP_DIM)] for p in range(SRP_PLANES)]


def _srp_sig_sql() -> str:
    """DuckDB expression for the 8-bit SRP signature of `embedding`."""
    bits = []
    for p, coefs in enumerate(_PLANES):
        dot = (
            f"list_sum(list_transform(list_zip(embedding, "
            f"{coefs}::BIGINT[]), "
            f"t -> CAST(floor(CAST(t[1] AS DOUBLE) * {EMB_SCALE} + 0.5) "
            f"AS BIGINT) * t[2]))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "ann_lsh_exact",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, label, CAST({_srp_sig_sql()} AS INT) AS sig
      FROM embeddings
    )
    SELECT sig,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
           CAST(min(vec_id) AS BIGINT) AS rep_vec,
           CAST(sum(CAST(vec_id AS BIGINT)) AS BIGINT) AS id_checksum
    FROM sigs GROUP BY sig
    """,
)
def ann_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH with EXACT cross-engine
    certification — the vector-space twin of `lsh_candidates`: the
    {SRP_PLANES} hyperplanes are md5-derived integer coefficient vectors
    (identical literals embedded in both engines), components quantize
    to 1e6 fixed-point, so each dot product is exact int64 arithmetic
    and the 8-bit bucket signature is a pure integer function of the
    vector — no RNG, no float sign boundary.  `ann_lsh` (R class) is the
    production variant with seeded xxhash planes and multiprobe; this op
    closes its oracle gap the way `minhash_sig`/`lsh_candidates` did for
    minhash banding, certifying bucket membership end to end.

    Scale: signatures are computed by {SRP_PLANES} scan-fused
    zip_with+aggregate folds — NO explode (a dims×planes explode would
    multiply the scan 512×), no shuffle until the bucket rollup, whose
    key count is ≤ 2^{SRP_PLANES}.  Bucket sizes are the load-balance
    diagnostic: ANN queries probe one bucket (+Hamming-1 neighbors, as
    ann_lsh does) instead of the corpus — the measured pruning economics
    live in tests/test_ann_scale.py."""
    emb = table(spark, sf_dir, "embeddings")
    quant = lambda x: F.floor(x.cast("double") * EMB_SCALE + 0.5).cast("long")  # noqa: E731
    sig = None
    for p, coefs in enumerate(_PLANES):
        dot = F.aggregate(
            F.zip_with(
                "embedding",
                F.array(*[F.lit(c) for c in coefs]).cast("array<long>"),
                lambda x, c: quant(x) * c,
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        bit = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return (
        emb.select("vec_id", "label", sig.cast("int").alias("sig"))
        .groupBy("sig")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count_distinct("label").alias("n_labels"),
            F.min("vec_id").alias("rep_vec"),
            F.sum(F.col("vec_id").cast("long")).alias("id_checksum"),
        )
    )


#: sim_containment all-pairs gate: below this doc count (and with a
#: closed dictionary) the N^2/2 bitmask pass beats the postings
#: self-join, whose volume is sum_term C(df, 2) and explodes on
#: Zipf-concentrated corpora.  2e8 pair evaluations at the bound,
#: fused popcount filter, ~seconds on one executor wave.
CONTAIN_ALLPAIRS_DOCS = 20_000
#: shared-distinct-terms floor (the HAVING in both engines).
CONTAIN_MIN_COMMON = 25

# ---------------------------------------------------------------------------
# sim_containment — asymmetric overlap over the certified candidate graph
# ---------------------------------------------------------------------------

@register(
    "sim_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM toks a JOIN toks b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 25
    )
    SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS n_common,
           round(CAST(inter AS DOUBLE) / sa.sz, 4) AS containment_a,
           round(CAST(inter AS DOUBLE) / sb.sz, 4) AS containment_b
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """,
)
def sim_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment similarity: |A∩B|/|A| and |A∩B|/|B| for
    document pairs sharing ≥25 distinct terms — the measure that catches
    SUBSET duplication (a short doc wholly contained in a long one),
    which symmetric Jaccard dilutes away; it is the near-dedup policy
    knob for quote/boilerplate absorption (Lee et al. dedup lineage).
    Intersections are exact distinct-term co-occurrence counts; the two
    ratios are single divisions of exact integers.

    Scale: candidate pairs form ONLY through the term-postings
    equi-join (never all-pairs); the ≥25 common-terms floor plays the
    role θ plays in sim_jaccard's prefix filter — Zipf-hot terms
    dominate the posting lists, so production corpora drop ultra-hot
    terms from the join side (text_unigram_logprob's vocab side
    broadcast makes that a one-line filter).  Sizes are a model-free
    per-doc aggregate joined back on the pair keys."""
    from .llm_pipeline import (
        MASK_MAX_VOCAB,
        _mask_vocab,
        _spread_docs,
    )

    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    vocab = _mask_vocab(spark, sf_dir)
    if (
        vocab is not None
        and catalog.fits(sf_dir, CONTAIN_ALLPAIRS_DOCS, "documents")
    ):
        # r13 BITMASK ALL-PAIRS kernel (guide §1.2 first-principles): on
        # a closed-dictionary corpus the postings self-join is the WRONG
        # candidate generator — Zipf-hot terms make its pair-row volume
        # sum_term C(df, 2), which at sf0.1 is ~218M exploded rows
        # through a pair-keyed aggregate (90 s), ~17x MORE than the
        # N^2/2 = 12.5M all-pairs it was meant to avoid.  With the
        # dictionary in hand every doc is n_words bitmask longs, the
        # exact intersection is bit_count(a AND b), and the whole op is
        # one broadcast nested-loop pass whose join condition fuses the
        # doc ordering AND the >= {CONTAIN_MIN_COMMON}-common-terms
        # floor (no pair materializes unless it passes).  Gated BOTH
        # ways: dictionary must fit MASK_MAX_VOCAB and the corpus must
        # be small enough that N^2/2 popcounts beat the postings join
        # (CONTAIN_ALLPAIRS_DOCS); above either gate the postings path
        # below — the open-web 100 TB shape with its documented
        # hot-term-drop knob — is unchanged.
        n_vocab = len(vocab)
        n_words = (n_vocab + 63) // 64

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
        tokset = F.array_distinct(F.split(F.col("text"), " "))
        idxs = F.transform(tokset, lambda t: idx_map[t].cast("long"))

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

        masks = d.select(
            "doc_id",
            *[word(w).alias(f"m{w}") for w in range(n_words)],
            F.size(tokset).alias("sz"),
        ).localCheckpoint(eager=True)
        ma = masks.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"m{w}").alias(f"a{w}") for w in range(n_words)],
            F.col("sz").alias("sza"),
        )
        mb = masks.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"m{w}").alias(f"b{w}") for w in range(n_words)],
            F.col("sz").alias("szb"),
        )
        inter = sum(
            [
                F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
                for w in range(n_words)
            ],
            F.lit(0),
        )
        return (
            ma.join(
                F.broadcast(mb),
                (F.col("doc_a") < F.col("doc_b"))
                & (inter >= CONTAIN_MIN_COMMON),
            )
            .select(
                "doc_a",
                "doc_b",
                inter.cast("long").alias("n_common"),
                r4(inter.cast("double") / F.col("sza")).alias(
                    "containment_a"
                ),
                r4(inter.cast("double") / F.col("szb")).alias(
                    "containment_b"
                ),
            )
        )
    # pinned: postings feed sizes + both self-join sides (3 consumers)
    # — un-pinned each re-ran the tokenize (plan-audit, SCALE.md §50).
    toks = pin(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.col("text"), " "))
            ).alias("term"),
        )
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("doc_id").alias("doc_a"), "term")
    b = toks.select(F.col("doc_id").alias("doc_b"), "term")
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= CONTAIN_MIN_COMMON)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("long").alias("n_common"),
            r4(F.col("inter").cast("double") / F.col("sza")).alias(
                "containment_a"
            ),
            r4(F.col("inter").cast("double") / F.col("szb")).alias(
                "containment_b"
            ),
        )
    )


# ---------------------------------------------------------------------------
# feat_quantile_bin — equal-frequency binning with exact rank boundaries
# ---------------------------------------------------------------------------

QBINS = 10


@register(
    "feat_quantile_bin",
    oracle=f"""
    WITH t AS (
      SELECT c_custkey, c_acctbal,
             ntile({QBINS}) OVER (ORDER BY c_acctbal, c_custkey) AS bin
      FROM customer
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           min(c_acctbal) AS lo, max(c_acctbal) AS hi
    FROM t GROUP BY bin
    """,
)
def feat_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning of the balance feature:
    {QBINS} NTILE buckets with their exact boundaries and populations —
    the discretization step for monotonic-feature models and for
    decile-report style analytics.  The order is tie-safe (custkey
    breaks equal balances) so bin membership is identical cross-engine;
    boundaries are min/max of INPUT values (exact doubles, no derived
    float).

    Scale: a global NTILE is the known single-partition window
    anti-pattern, so this op dual-kernels on the customer footer row
    count: below the gate, the plain NTILE window; above it, the
    `_global_order` bucketed rank kernel + `ntile_from_rank`
    (approx-quantile splits broadcast back, rank offsets via a tiny
    self-join) — the same dispatch part_abc_pareto/customer_rfm use."""
    c = table(spark, sf_dir, "customer")
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "customer"):
        n = F.lit(catalog.table_rows(sf_dir, "customer")).cast("long")
        ranked = bucketed_global_rank(
            c.select("c_custkey", "c_acctbal"),
            "c_acctbal",
            ["c_custkey"],
            out="_r",
        )
        t = ranked.select(
            "c_custkey",
            "c_acctbal",
            ntile_from_rank(F.col("_r"), n, QBINS).alias("bin"),
        )
    else:
        w = Window.orderBy("c_acctbal", "c_custkey")
        t = c.select(
            "c_custkey", "c_acctbal", F.ntile(QBINS).over(w).alias("bin")
        )
    return t.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )


# ---------------------------------------------------------------------------
# dedup_histogram — duplicate-multiplicity distribution
# ---------------------------------------------------------------------------

@register(
    "dedup_histogram",
    oracle="""
    WITH clusters AS (
      SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY md5(text)
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM clusters GROUP BY sz
    """,
)
def dedup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-multiplicity histogram: how many exact-content clusters
    exist at each size — the one-glance dedup health report (a heavy
    tail of large clusters means template spam; all-1s means the corpus
    is already unique).  This is `dedup_exact`'s cluster table rolled up
    one more level; md5 is the shared content-hash basis.

    Scale: two cascaded combine-friendly aggregates — (hash → size),
    then (size → count).  The second input is |clusters| rows; the
    histogram itself is at most |distinct sizes| rows.  No joins, no
    windows; the op scales with the scan like dedup_exact does."""
    d = table(spark, sf_dir, "documents")
    clusters = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return clusters.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# events_type_overlap — user-base overlap matrix from one bitmask pass
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _pair_sql() -> str:
    rows = []
    for i, a in enumerate(EVENT_TYPES):
        for b in EVENT_TYPES[i + 1 :]:
            rows.append(
                f"SELECT '{a}' AS type_a, '{b}' AS type_b, "
                f"CAST(sum(h_{a} * h_{b}) AS BIGINT) AS n_both, "
                f"CAST(sum(h_{a}) AS BIGINT) AS n_a, "
                f"CAST(sum(h_{b}) AS BIGINT) AS n_b FROM flags"
            )
    return " UNION ALL ".join(rows)


@register(
    "events_type_overlap",
    oracle=f"""
    WITH flags AS (
      SELECT user_id,
             {", ".join(
                 f"max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                 f" AS h_{t}"
                 for t in EVENT_TYPES)}
      FROM events GROUP BY user_id
    ), pairs AS ({_pair_sql()})
    SELECT type_a, type_b, n_both, n_a, n_b,
           round(CAST(n_both AS DOUBLE) / (n_a + n_b - n_both), 4)
             AS jaccard
    FROM pairs
    """,
)
def events_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-base overlap matrix between event types: for every type
    pair, how many users do both, each, and the Jaccard overlap — the
    audience-similarity screen (do purchasers come from clickers?).
    ONE pass computes per-user presence flags; a second model-sized pass
    sums flag products for all {len(EVENT_TYPES) * (len(EVENT_TYPES) - 1) // 2}
    pairs simultaneously — never a per-pair self-join over the event
    stream, which is the quadratic formulation this replaces.

    Scale: presence flags are a user_id-keyed combinable aggregate; the
    pair sums run over the |users|-row flag table in one scan (all 10
    products in the same projection).  The flag table IS the reusable
    artifact — k types cost k columns, not k² joins."""
    ev = table(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"h_{t}")
            for t in EVENT_TYPES
        ]
    )
    sums = flags.agg(
        *(
            [
                F.sum(F.col(f"h_{a}") * F.col(f"h_{b}"))
                .cast("long")
                .alias(f"both_{a}_{b}")
                for i, a in enumerate(EVENT_TYPES)
                for b in EVENT_TYPES[i + 1 :]
            ]
            + [
                F.sum(F.col(f"h_{t}")).cast("long").alias(f"n_{t}")
                for t in EVENT_TYPES
            ]
        )
    )
    # pinned: the 1-row sums frame is re-selected once per stacked pair
    # row below — un-pinned, each re-ran the full flag aggregate
    # (10 executed scans of events; plan-audit, SCALE.md §50).
    sums = pin(sums)
    pair_rows = []
    for i, a in enumerate(EVENT_TYPES):
        for b in EVENT_TYPES[i + 1 :]:
            pair_rows.append(
                f"'{a}' AS type_a, '{b}' AS type_b, "
                f"both_{a}_{b} AS n_both, n_{a} AS n_a, n_{b} AS n_b"
            )
    stacked = None
    for expr in pair_rows:
        row = sums.selectExpr(expr.split(", "))
        stacked = row if stacked is None else stacked.unionByName(row)
    return stacked.select(
        "type_a",
        "type_b",
        "n_both",
        "n_a",
        "n_b",
        r4(
            F.col("n_both").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
        ).alias("jaccard"),
    )
