"""Round-6 additions, batch 11 — SURVEY §2.Y: probabilistic data
structures made EXACTLY certifiable on the portable md5 basis — a
Count-Min sketch, a Bloom filter with measured false-positive rate, the
bottom-k (KMV) coordinated sample, and the feature-hashing trick.

The engines' native sketches (HLL, approx quantiles) are R-class by
construction: their hash seeds and merge internals are engine-specific.
But the STRUCTURES themselves are deterministic given the hash
functions, so building them from md5 (computable in both engines —
the minhash_sig playbook) turns each one into an exact-oracle op: the
driver certifies every counter, every bit word, every sampled key.
That is the correctness story a production sketch pipeline wants:
cross-system reproducibility of the sketch artifact itself.

Bit packing uses 62-bit words (not 64): DuckDB raises on `1::BIGINT <<
63` where Spark wraps negative — the same boundary agg_bitmap_distinct
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import check_free, pin
from .pipeline_extras import _hash_bucket, _sql_hash_bucket

# ---------------------------------------------------------------------------
# cms_sketch — Count-Min over the corpus token stream
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64


@register(
    "cms_sketch",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ), cells AS (
      {" UNION ALL ".join(
          f"SELECT {r} AS row, "
          f"{_sql_hash_bucket(f''''cms{r}:' || term''', CMS_WIDTH)} AS col, "
          f"count(*) AS cnt FROM toks GROUP BY col"
          for r in range(CMS_DEPTH))}
    )
    SELECT CAST(row AS INT) AS row, CAST(col AS INT) AS col,
           CAST(cnt AS BIGINT) AS cnt
    FROM cells
    """,
)
def cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of the corpus token stream ({CMS_DEPTH}×
    {CMS_WIDTH} counters, md5 row hashes) — the mergeable heavy-hitter
    structure whose point estimate min_r(cell[r][h_r(x)]) upper-bounds
    any term's true count.  Because the row hashes are md5-derived, the
    ENTIRE counter matrix is certified cell by cell against DuckDB —
    the cross-system reproducibility a sketch artifact needs before it
    can be merged across pipelines.

    Scale: ONE tokenize scan feeding a pinned per-term count (the
    vocab-sized natural pre-aggregate); each of the {CMS_DEPTH} rows is
    then a {CMS_WIDTH}-key re-aggregate of those term counts (fully
    map-side combinable — the sketch IS the partial aggregate, which is
    the whole point of CMS: merging sketches = adding matrices).
    Un-pinned, the {CMS_DEPTH} row branches each re-ran the corpus
    tokenize (plan-audit, SCALE.md §50).  Sketch size is constant
    regardless of corpus size."""
    term_counts = pin(
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    rows = None
    for r in range(CMS_DEPTH):
        col = _hash_bucket(
            F.concat(F.lit(f"cms{r}:"), F.col("term")), CMS_WIDTH
        )
        cell = term_counts.groupBy(col.cast("int").alias("col")).agg(
            F.sum("tc").alias("cnt")
        ).select(F.lit(r).alias("row"), "col", "cnt")
        rows = cell if rows is None else rows.unionByName(cell)
    return rows.select(
        F.col("row").cast("int").alias("row"),
        "col",
        F.col("cnt").cast("long").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# bloom_build — Bloom filter + measured false-positive rate
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096      # m
BLOOM_HASHES = 3       # k
BLOOM_WORD = 62        # bits per packed word (DuckDB shift boundary)
BLOOM_PROBE_OFFSET = 10_000_000  # absent-key probe space


@register(
    "bloom_build",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
    ), bits AS (
      {" UNION ALL ".join(
          f"SELECT {_sql_hash_bucket(f''''bloom{j}:' || CAST(k AS VARCHAR)''', BLOOM_BITS)} AS bit FROM keys"
          for j in range(BLOOM_HASHES))}
    ), words AS (
      SELECT CAST(bit // {BLOOM_WORD} AS BIGINT) AS word_idx,
             bit_or(1::BIGINT << CAST(bit % {BLOOM_WORD} AS INT)) AS word
      FROM (SELECT DISTINCT bit FROM bits) GROUP BY 1
    ), probes AS (
      SELECT k + {BLOOM_PROBE_OFFSET} AS p FROM keys
    ), probe_bits AS (
      SELECT p,
             {", ".join(
                 f"{_sql_hash_bucket(f''''bloom{j}:' || CAST(p AS VARCHAR)''', BLOOM_BITS)} AS b{j}"
                 for j in range(BLOOM_HASHES))}
      FROM probes
    ), hits AS (
      SELECT count(*) AS fp FROM probe_bits pb
      WHERE {" AND ".join(
          f"EXISTS (SELECT 1 FROM words w WHERE w.word_idx = pb.b{j} // {BLOOM_WORD}"
          f" AND (w.word & (1::BIGINT << CAST(pb.b{j} % {BLOOM_WORD} AS INT))) <> 0)"
          for j in range(BLOOM_HASHES))}
    )
    SELECT w.word_idx, w.word,
           (SELECT CAST(fp AS BIGINT) FROM hits) AS fp_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys
    FROM words w
    """,
)
def bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over the distinct customer keys ({BLOOM_BITS} bits,
    {BLOOM_HASHES} md5 hashes, packed into {BLOOM_WORD}-bit bigint
    words) plus a MEASURED false-positive count against a disjoint probe
    set — the join-pre-filter primitive (ship the words to the fact
    side, drop rows whose key cannot be in the dim) with its actual FP
    economics certified, not assumed.  Every bit position is an md5
    function of the key, so the packed words and the FP count are exact
    cross-engine.

    Scale: build is a distinct + {BLOOM_HASHES} map-side bit exprs +
    a {BLOOM_BITS // BLOOM_WORD}-key bit_or rollup (combinable — Bloom
    union IS bit_or, so sketches merge in the combine phase).  The
    probe pass broadcasts the ~{BLOOM_BITS // BLOOM_WORD}-row word
    table; at 100 TB that broadcast replaces a full shuffle of the
    fact side, which is the entire value proposition."""
    o = table(spark, sf_dir, "orders")
    # pinned: consumed by every hash branch AND the probe side — without
    # it each branch re-runs the distinct (plan-audit, SCALE.md §50).
    keys = pin(o.select(F.col("o_custkey").alias("k")).distinct())
    bits = None
    for j in range(BLOOM_HASHES):
        b = keys.select(
            _hash_bucket(
                F.concat(F.lit(f"bloom{j}:"), F.col("k").cast("string")),
                BLOOM_BITS,
            ).alias("bit")
        )
        bits = b if bits is None else bits.unionByName(b)
    words = (
        bits.distinct()
        .groupBy(
            F.floor(F.col("bit") / BLOOM_WORD).cast("long").alias("word_idx")
        )
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {BLOOM_WORD} AS INT))")
            ).alias("word")
        )
    )
    # words is model-sized (BLOOM_BITS/word bits) with one broadcast
    # consumer PER HASH: pin it so the build rollup runs once.
    words = pin(words)
    # FP measurement: probe a disjoint key space through the filter
    probes = keys.select((F.col("k") + BLOOM_PROBE_OFFSET).alias("p"))
    pb = probes.select(
        "p",
        *[
            _hash_bucket(
                F.concat(F.lit(f"bloom{j}:"), F.col("p").cast("string")),
                BLOOM_BITS,
            ).alias(f"b{j}")
            for j in range(BLOOM_HASHES)
        ],
    )
    hit = pb
    for j in range(BLOOM_HASHES):
        wj = words.select(
            F.col("word_idx").alias(f"wi{j}"), F.col("word").alias(f"w{j}")
        )
        hit = hit.join(
            F.broadcast(wj),
            F.floor(F.col(f"b{j}") / BLOOM_WORD) == F.col(f"wi{j}"),
            "inner",
        ).filter(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(b{j} % {BLOOM_WORD} AS INT))"
            ).bitwiseAND(F.col(f"w{j}"))
            != 0
        )
    fp = hit.agg(F.count(F.lit(1)).alias("fp_probes"))
    nk = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    return (
        words.crossJoin(F.broadcast(fp))
        .crossJoin(F.broadcast(nk))
        .select(
            "word_idx",
            "word",
            F.col("fp_probes").cast("long").alias("fp_probes"),
            F.col("n_keys").cast("long").alias("n_keys"),
        )
    )


# ---------------------------------------------------------------------------
# sample_bottomk — coordinated bottom-k (KMV) sample
# ---------------------------------------------------------------------------

BOTTOMK = 100
KMV_SPACE = 1_000_000_000


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    k: int = 100,
    space: int = 1_000_000_000,
) -> DataFrame:
    """Bottom-k (KMV) sample of ANY id column (sample_bottomk's algebra
    with column and k parameterized): the k rows with the smallest md5
    hash values — simultaneously (a) a uniform sample without
    replacement, (b) COORDINATED across dataset versions (an unchanged
    id keeps its hash, so successive snapshots share most of their
    sample — what makes A/B-stable eval sets), and (c) a distinct-count
    estimator (n_hat ~ (k-1)*space/kth_hash).  A deterministic pure
    function of the ids — reproducible, unlike reservoir sampling whose
    result depends on partition visit order.  Returns (id, hv, rk).

    Scale: per-partition bottom-k via TakeOrderedAndProject (heap +
    merge, no global sort); the hash is map-side scan work."""
    check_free([id_col], "hv")
    h = df.select(
        id_col,
        _hash_bucket(
            F.concat(F.lit("kmv:"), F.col(id_col).cast("string")), space
        ).alias("hv"),
    )
    topk = h.orderBy("hv", id_col).limit(k)
    w = Window.orderBy("hv", id_col)
    return topk.select(
        id_col,
        F.col("hv").cast("long").alias("hv"),
        F.row_number().over(w).cast("long").alias("rk"),
    )


@register(
    "sample_bottomk",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {_sql_hash_bucket("'kmv:' || CAST(doc_id AS VARCHAR)", KMV_SPACE)}
               AS hv
      FROM documents
    )
    SELECT doc_id, CAST(hv AS BIGINT) AS hv,
           CAST(row_number() OVER (ORDER BY hv, doc_id) AS BIGINT) AS rk
    FROM h
    ORDER BY hv, doc_id LIMIT {BOTTOMK}
    """,
)
def sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) sample: the {BOTTOMK} documents with the smallest
    md5 hash values — simultaneously (a) a uniform sample without
    replacement, (b) COORDINATED across corpus versions (an unchanged
    doc keeps its hash, so successive corpus snapshots share most of
    their sample — the property that makes A/B-stable eval sets), and
    (c) a distinct-count estimator (n̂ ≈ (k−1)·SPACE/kth_hash).  All of
    it a deterministic pure function of the ids — exact-oracle, unlike
    reservoir sampling whose result depends on partition visit order.

    Scale: per-partition bottom-k via TakeOrderedAndProject (heap +
    merge, no global sort); the hash is map-side scan work."""
    return bottomk_sample(
        table(spark, sf_dir, "documents"), "doc_id", BOTTOMK, KMV_SPACE
    )


# ---------------------------------------------------------------------------
# feat_hashing — the hashing trick (fixed-dim token count vectors)
# ---------------------------------------------------------------------------

HASH_DIM = 32


def hash_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 32,
) -> DataFrame:
    """The hashing trick over ANY text column (feat_hashing's algebra
    with columns and dimension parameterized): whitespace tokens map to
    a fixed dim-bucket count vector via md5 — the stateless vectorizer
    (no vocabulary fit, no OOV problem, collision noise bounded by
    dimension).  Emitted in sparse (id, bucket, cnt) form — the
    driver-safe serialization of a vector column and the natural input
    to a sparse matmul.  Returns (id, bucket, cnt).

    Scale: tokenize-explode -> two-key grouped count, map-side
    combinable; NO vocabulary state anywhere — nothing to broadcast,
    nothing to version at 100 TB."""
    check_free([id_col], "term", "bucket")
    toks = df.select(
        id_col, F.explode(F.split(text_col, " ")).alias("term")
    )
    bucket = _hash_bucket(F.concat(F.lit("fh:"), F.col("term")), dim)
    return toks.groupBy(
        id_col, bucket.cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "feat_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT doc_id,
           CAST({_sql_hash_bucket("'fh:' || term", HASH_DIM)} AS INT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM toks GROUP BY doc_id, bucket
    """,
)
def feat_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens map to a fixed {HASH_DIM}-dim count
    vector via md5 — the stateless vectorizer (no vocabulary fit, no
    OOV problem, collision noise bounded by dimension) that large-scale
    text classifiers use when a vocab table is operationally unwanted.
    Emitted in sparse (doc, bucket, count) form — the driver-safe
    serialization of a vector column and the natural input to a sparse
    matmul.

    Scale: tokenize-explode → two-key grouped count, map-side
    combinable; no vocabulary state anywhere (THE selling point at
    100 TB: nothing to broadcast, nothing to version)."""
    return hash_features(
        table(spark, sf_dir, "documents"), "doc_id", "text", HASH_DIM
    )
