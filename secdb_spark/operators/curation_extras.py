"""Round-7 additions, batch 1 — corpus-curation operators: the
document-selection and embedding-compression steps a 100 TB pretraining
pipeline runs between raw crawl and tokenizer (quality gating, chunk-level
dedup measurement, keeper election, PQ/MRL embedding compression,
corpus-composition reporting).

Reference semantics: SURVEY §2.J north-star extensions (mount empty);
algorithms follow the public Gopher/CCNet quality-rule and
product-quantization (Jégou et al., PAMI'11) / Matryoshka (Kusupati et
al., NeurIPS'22) literature.

Determinism: every op follows §4.4 — integer/rational rule math (no FP
boundaries), strict-left-fold float trees for the embedding ops (the
embed_kmeans/ann_ivf_assign playbook), round(x, {4,6}) on derived
doubles, tie-safe keeper/argmin orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import spread_scan, table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, grouped_bucketed_topk
from ._helpers import check_free, pin, r4

# ---------------------------------------------------------------------------
# doc_quality_gate — Gopher-style composite filter funnel, per source
# ---------------------------------------------------------------------------

QG_MIN_TOKS = 20
QG_MAX_TOKS = 2000
QG_WLEN_LO = 3    # mean word length lower bound (chars)
QG_WLEN_HI = 10   # mean word length upper bound
QG_TTR_NUM = 3    # TTR lower bound = QG_TTR_NUM / QG_TTR_DEN
QG_TTR_DEN = 10


@register(
    "doc_quality_gate",
    oracle=f"""
    WITH feat AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_toks,
             length(text) AS n_chars,
             len(list_distinct(string_split(lower(text), ' '))) AS n_dist
      FROM documents
    ), flags AS (
      SELECT source,
             CASE WHEN n_toks < {QG_MIN_TOKS} THEN 1 ELSE 0 END AS f_short,
             CASE WHEN n_toks > {QG_MAX_TOKS} THEN 1 ELSE 0 END AS f_long,
             CASE WHEN (n_chars - n_toks + 1) < {QG_WLEN_LO} * n_toks
                    OR (n_chars - n_toks + 1) > {QG_WLEN_HI} * n_toks
                  THEN 1 ELSE 0 END AS f_wlen,
             CASE WHEN {QG_TTR_DEN} * n_dist < {QG_TTR_NUM} * n_toks
                  THEN 1 ELSE 0 END AS f_ttr
      FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_short) AS BIGINT) AS n_fail_short,
           CAST(sum(f_long) AS BIGINT) AS n_fail_long,
           CAST(sum(f_wlen) AS BIGINT) AS n_fail_wordlen,
           CAST(sum(f_ttr) AS BIGINT) AS n_fail_ttr,
           CAST(sum(CASE WHEN f_short + f_long + f_wlen + f_ttr = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(sum(CASE WHEN f_short + f_long + f_wlen + f_ttr = 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS kept_ratio
    FROM flags GROUP BY source
    """,
)
def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL report: per source, how many documents each
    Gopher-style quality rule rejects (too short / too long / mean word
    length outside [3,10] chars / type-token ratio < 0.3) and the
    composite keep rate — the dashboard a data team reads before
    committing a crawl snapshot to the mixture.  text_quality emits the
    per-doc SIGNALS; this op emits the per-source DECISION aggregate.

    All rule math is integer cross-multiplication (mean word length
    compares (n_chars - n_toks + 1) against bound*n_toks; TTR compares
    10*distinct against 3*tokens) — no FP boundary can disagree across
    engines.  Scale: one tokenize pass, map-side-combinable aggregate,
    output = |sources| rows."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    n_chars = F.length("text")
    n_dist = F.size(F.array_distinct(F.split(F.lower(F.col("text")), " ")))
    alpha_chars = n_chars - n_toks + 1  # chars excluding the separators
    f_short = F.when(n_toks < QG_MIN_TOKS, 1).otherwise(0)
    f_long = F.when(n_toks > QG_MAX_TOKS, 1).otherwise(0)
    f_wlen = F.when(
        (alpha_chars < QG_WLEN_LO * n_toks) | (alpha_chars > QG_WLEN_HI * n_toks),
        1,
    ).otherwise(0)
    f_ttr = F.when(QG_TTR_DEN * n_dist < QG_TTR_NUM * n_toks, 1).otherwise(0)
    flags = d.select(
        "source",
        f_short.alias("f_short"),
        f_long.alias("f_long"),
        f_wlen.alias("f_wlen"),
        f_ttr.alias("f_ttr"),
    )
    kept = F.when(
        F.col("f_short") + F.col("f_long") + F.col("f_wlen") + F.col("f_ttr")
        == 0,
        1,
    ).otherwise(0)
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_short").cast("long").alias("n_fail_short"),
        F.sum("f_long").cast("long").alias("n_fail_long"),
        F.sum("f_wlen").cast("long").alias("n_fail_wordlen"),
        F.sum("f_ttr").cast("long").alias("n_fail_ttr"),
        F.sum(kept).cast("long").alias("n_kept"),
        r4(F.sum(kept).cast("double") / F.count(F.lit(1))).alias("kept_ratio"),
    )


# ---------------------------------------------------------------------------
# chunk_dedup_share — fixed-width chunk-level duplication per document
# ---------------------------------------------------------------------------

CHUNK_DEDUP_W = 32  # tokens per chunk (text_chunk's width)


@register(
    "chunk_dedup_share",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             array_to_string(
               toks[i * {CHUNK_DEDUP_W} + 1 : (i + 1) * {CHUNK_DEDUP_W}],
               ' ') AS chunk
      FROM base,
           unnest(generate_series(
             0, CAST((n + {CHUNK_DEDUP_W} - 1) // {CHUNK_DEDUP_W} AS BIGINT)
                - 1)) AS g(i)
    ), freq AS (
      SELECT chunk, count(*) AS cnt FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           round(CAST(sum(CASE WHEN f.cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_share
    FROM chunks c JOIN freq f ON c.chunk = f.chunk
    GROUP BY c.doc_id
    """,
)
def chunk_dedup_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication measurement — the RefinedWeb/CCNet
    paragraph-dedup signal adapted to fixed {CHUNK_DEDUP_W}-token chunks:
    cut every document into chunks, count corpus-wide occurrences of
    each chunk text, and report per document how many of its chunks are
    duplicated anywhere (incl. within-doc repeats).  High dup_share docs
    are boilerplate; the downstream filter drops or trims them.

    Scale: chunking is a map-only explode (corpus tokens / W rows); the
    frequency count is one combinable aggregate on the chunk text (hash
    of the chunk would shrink shuffle width at 100 TB — same plan), and
    the join back is an equi-join on that key.  No driver-side data."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    w = CHUNK_DEDUP_W
    chunks = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, int((n + {w} - 1) div {w}) - 1), "
                f"i -> array_join(slice(toks, i * {w} + 1, {w}), ' '))"
            )
        ).alias("chunk"),
    )
    freq = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.when(F.col("cnt") >= 2, 1).otherwise(0)
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup"),
            r4(F.sum(dup).cast("double") / F.count(F.lit(1))).alias(
                "dup_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup_keep_best — quality-priority keeper election over normalized dups
# ---------------------------------------------------------------------------

@register(
    "dedup_keep_best",
    oracle="""
    WITH norm AS (
      SELECT doc_id, length(text) AS n_chars,
             md5(array_to_string(
               list_sort(list_distinct(string_split(lower(text), ' '))),
               ' ')) AS k
      FROM documents
    ), sized AS (
      SELECT k, count(*) AS cluster_size FROM norm GROUP BY k
      HAVING count(*) >= 2
    ), keeper AS (
      SELECT n.k, n.doc_id AS keeper_doc_id
      FROM (SELECT k, doc_id,
                   row_number() OVER (PARTITION BY k
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM norm) n
      WHERE n.rn = 1
    )
    SELECT m.doc_id, kp.keeper_doc_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size
    FROM norm m
    JOIN sized s ON m.k = s.k
    JOIN keeper kp ON m.k = kp.k
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper ELECTION over content-equivalent documents: cluster on the
    VOCABULARY-SET key (md5 of the sorted distinct lowercase token set —
    reorderings and repetition-variants of the same material collide),
    then keep the RICHEST member (longest raw text), tie-broken by
    doc_id.  Emits the doc -> keeper mapping for every member of a
    multi-doc cluster — the rewrite table a dedup pass feeds downstream.
    dedup_exact keeps min(doc_id) over RAW-identical copies; this op
    elects by QUALITY over a content key, which is what production
    pipelines actually ship.

    Keeper choice is a min-struct over ((-n_chars), doc_id) — exactly
    ORDER BY n_chars DESC, doc_id — integer-only, tie-safe.  Scale: two
    combinable aggregates + an equi-join on the cluster key; cluster
    sizes bound the join fan-out."""
    d = table(spark, sf_dir, "documents")
    key = F.md5(
        F.array_join(
            F.sort_array(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ),
            " ",
        )
    )
    m = d.select(
        "doc_id", F.length("text").alias("n_chars"), key.alias("k")
    )
    per = m.groupBy("k").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id"))).alias(
            "kp"
        ),
    ).filter(F.col("cluster_size") >= 2)
    return m.join(per, "k").select(
        "doc_id",
        F.col("kp.doc_id").alias("keeper_doc_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# text_hapax_ratio — hapax legomenon share per source
# ---------------------------------------------------------------------------

def hapax_by_group(
    df: DataFrame,
    by: list[str],
    text_col: str,
) -> DataFrame:
    """Hapax legomenon share per group of ANY text column
    (text_hapax_ratio's algebra with columns parameterized): the
    fraction of each group's LOWERCASED vocabulary occurring exactly
    once.  High hapax means noisy / OCR-damaged / tail-heavy text; a
    collapsing ratio means templated text — both corpus-acquisition QC
    signals.  Returns (by..., n_tokens, vocab, hapax, hapax_ratio).

    Scale: two cascaded combinable aggregates; the token stream
    shuffles once on (by, term)."""
    check_free(by, "term", "cnt")
    toks = df.select(
        *by, F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term")
    )
    tc = toks.groupBy(*by, "term").agg(F.count(F.lit(1)).alias("cnt"))
    hap = F.when(F.col("cnt") == 1, 1).otherwise(0)
    return tc.groupBy(*by).agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(hap).cast("long").alias("hapax"),
        r4(F.sum(hap).cast("double") / F.count(F.lit(1))).alias("hapax_ratio"),
    )


@register(
    "text_hapax_ratio",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), tc AS (
      SELECT source, term, count(*) AS cnt FROM toks GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS hapax_ratio
    FROM tc GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomenon share per source — the fraction of each source's
    vocabulary that occurs exactly once.  A high hapax ratio means noisy
    / OCR-damaged / tail-heavy text; a collapsing one means templated
    text — both are corpus-acquisition QC signals next to vocab_growth's
    curve.  Two cascaded combinable aggregates (term counts, then
    per-source rollup); the token stream shuffles once on (source,
    term)."""
    return hapax_by_group(table(spark, sf_dir, "documents"), ["source"], "text")


# ---------------------------------------------------------------------------
# source_lang_matrix — corpus composition crosstab
# ---------------------------------------------------------------------------

@register(
    "source_lang_matrix",
    oracle="""
    WITH m AS (
      SELECT source, lang, count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(n_docs AS DOUBLE)
                 / sum(n_docs) OVER (PARTITION BY source), 4) AS doc_share
    FROM m
    """,
)
def source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition crosstab: documents and tokens per (source,
    language) with each language's share within its source — the table
    behind every mixture decision (and the denominator mix_domains
    normalizes against).  One map-side-combinable aggregate; the share
    window runs over the |sources|x|langs| aggregate (model-sized)."""
    d = table(spark, sf_dir, "documents")
    m = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy("source")
    return m.select(
        "source",
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        r4(F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "doc_share"
        ),
    )


# ---------------------------------------------------------------------------
# embed_pq_codes — product-quantization code assignment (exact)
# ---------------------------------------------------------------------------

PQ_M = 4        # subspaces
PQ_SUB_D = 16   # dims per subspace (4 x 16 = the 64-dim corpus)
PQ_K = 8        # sub-centroids per subspace
_PQ_SEED_SQL = "md5('pqseed:' || CAST(vec_id AS VARCHAR))"


def _pq_seeds(emb: DataFrame) -> list:
    """The PQ_K md5-ordered seed rows (one sort+limit job): the
    codebook embed_pq_codes encodes against and ann_pq_adc_topk's
    distance tables read, collected once per call and passed to both."""
    seed_h = F.md5(F.concat(F.lit("pqseed:"), F.col("vec_id").cast("string")))
    return emb.orderBy(seed_h, "vec_id").limit(PQ_K).select("e").collect()


def _pq_best_cte(m: int) -> str:
    lo, hi = m * PQ_SUB_D + 1, (m + 1) * PQ_SUB_D
    return f"""best{m} AS (
      SELECT vec_id, c_idx FROM (
        SELECT q.vec_id, s.c_idx,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_reduce(
                   list_transform(list_zip(q.e[{lo}:{hi}], s.c[{lo}:{hi}]),
                                  p -> (p[1] - p[2]) * (p[1] - p[2])),
                   (acc, x) -> acc + x), s.c_idx) AS rn
        FROM emb q CROSS JOIN seeds s
      ) WHERE rn = 1
    )"""


@register(
    "embed_pq_codes",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY {_PQ_SEED_SQL}, vec_id) - 1 AS c_idx,
             e AS c
      FROM emb ORDER BY {_PQ_SEED_SQL}, vec_id LIMIT {PQ_K}
    ), {", ".join(_pq_best_cte(m) for m in range(PQ_M))}
    SELECT b0.vec_id,
           CAST(b0.c_idx AS INTEGER) AS code0,
           CAST(b1.c_idx AS INTEGER) AS code1,
           CAST(b2.c_idx AS INTEGER) AS code2,
           CAST(b3.c_idx AS INTEGER) AS code3
    FROM best0 b0
    JOIN best1 b1 ON b0.vec_id = b1.vec_id
    JOIN best2 b2 ON b0.vec_id = b2.vec_id
    JOIN best3 b3 ON b0.vec_id = b3.vec_id
    """,
)
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., PAMI'11): split the
    64-dim embedding into {PQ_M} x {PQ_SUB_D}-dim subspaces, assign each
    slice to its nearest of {PQ_K} sub-centroids, emit the {PQ_M}-byte
    code — the compression step that lets a 100 TB vector corpus live in
    RAM for IVF-PQ search.  Certified EXACTLY via the ann_ivf_assign
    playbook: md5-seeded centroid rows (portable basis), per-subspace d²
    as a strict left fold over the zipped slices (bit-identical IEEE
    trees both engines), tie-safe argmin (d², c_idx).

    Scale: {PQ_K} seed rows broadcast; encoding is a map-side
    {PQ_M}x{PQ_K}-way fold inside WholeStageCodegen; the only shuffle is
    the final argmin groupBy on vec_id."""
    return _pq_codes(spark, sf_dir, _pq_seeds(_pq_embeddings(spark, sf_dir)))


def _pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


def _pq_codes(spark: SparkSession, sf_dir: str, seeds: list) -> DataFrame:
    """embed_pq_codes' body over already-collected seed rows."""
    emb = _pq_embeddings(spark, sf_dir)
    seeds_df = spark.createDataFrame(
        [(i, list(r.e)) for i, r in enumerate(seeds)],
        "c_idx int, c array<double>",
    )

    def d2_m(m: int):
        qs = F.slice(F.col("e"), m * PQ_SUB_D + 1, PQ_SUB_D)
        cs = F.slice(F.col("c"), m * PQ_SUB_D + 1, PQ_SUB_D)
        return F.aggregate(
            F.zip_with(qs, cs, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pairs = emb.crossJoin(F.broadcast(seeds_df)).select(
        "vec_id",
        "c_idx",
        *[d2_m(m).alias(f"d2_{m}") for m in range(PQ_M)],
    )
    best = pairs.groupBy("vec_id").agg(
        *[
            F.min(F.struct(F.col(f"d2_{m}").alias("d"), F.col("c_idx"))).alias(
                f"b{m}"
            )
            for m in range(PQ_M)
        ]
    )
    return best.select(
        "vec_id",
        *[F.col(f"b{m}.c_idx").alias(f"code{m}") for m in range(PQ_M)],
    )


# ---------------------------------------------------------------------------
# embed_matryoshka_truncate — MRL truncation energy report (exact)
# ---------------------------------------------------------------------------

MRL_HALF_D = 32  # truncation width (half the 64-dim corpus)


def matryoshka_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    keep_dims: int,
) -> DataFrame:
    """Matryoshka-style truncation report over ANY embedding column
    (embed_matryoshka_truncate's algebra with columns and the kept
    prefix parameterized; Kusupati et al., NeurIPS'22): how much of
    each vector's energy survives keeping only the first `keep_dims`
    dimensions — the measurement that decides whether a cheap truncated
    index can serve first-stage retrieval.  Exact via strict-left-fold
    norms in fixed IEEE trees (round 6 on derived values).  Returns
    (id, norm_full, norm_half, energy_ratio).

    Scale: map-only, fused into the scan — zero shuffles at any
    corpus size."""
    check_free([id_col], "e")
    emb = df.select(
        id_col, F.col(vec_col).cast("array<double>").alias("e")
    )

    def sq_fold(col):
        return F.aggregate(
            F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )

    full_sq = sq_fold(F.col("e"))
    half_sq = sq_fold(F.slice(F.col("e"), 1, keep_dims))
    return emb.select(
        id_col,
        F.round(F.sqrt(full_sq), 6).alias("norm_full"),
        F.round(F.sqrt(half_sq), 6).alias("norm_half"),
        F.round(half_sq / full_sq, 6).alias("energy_ratio"),
    )


@register(
    "embed_matryoshka_truncate",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), folds AS (
      SELECT vec_id,
             list_reduce(list_transform(e, x -> x * x),
                         (acc, x) -> acc + x) AS full_sq,
             list_reduce(list_transform(e[1:{MRL_HALF_D}], x -> x * x),
                         (acc, x) -> acc + x) AS half_sq
      FROM emb
    )
    SELECT vec_id,
           round(sqrt(full_sq), 6) AS norm_full,
           round(sqrt(half_sq), 6) AS norm_half,
           round(half_sq / full_sq, 6) AS energy_ratio
    FROM folds
    """,
)
def embed_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation report (Kusupati et al., NeurIPS'22):
    how much of each vector's energy survives keeping only the first
    {MRL_HALF_D} of 64 dims — the measurement that decides whether a
    cheap truncated index can serve first-stage retrieval.  Exact via
    strict-left-fold norms in fixed IEEE trees (round 6 on the derived
    values); map-only, fused into the scan — zero shuffles at any
    scale."""
    return matryoshka_report(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", MRL_HALF_D
    )


# ---------------------------------------------------------------------------
# dedup_prefix_groups — shared-prefix boilerplate detection (round-7 batch 3)
# ---------------------------------------------------------------------------

PREFIX_K = 16  # tokens of leading context that define "same opening"


@register(
    "dedup_prefix_groups",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:{PREFIX_K}], ' '))
               AS pk
      FROM documents
    )
    SELECT pk AS prefix_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(list_sort(list(doc_id)) AS VARCHAR) AS doc_ids
    FROM keyed GROUP BY pk HAVING count(*) >= 2
    """,
)
def dedup_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-opening detection: documents whose first {PREFIX_K} tokens
    are identical — the boilerplate/header signal (license blocks, site
    chrome, template intros) that chunk-level dedup only catches once
    the prefix crosses a chunk boundary.  Groups of >= 2 report their
    membership for the downstream trim-or-drop decision.

    One map-side hash of a fixed-width slice + one combinable aggregate;
    the md5 key keeps the shuffle row narrow at 100 TB (32 bytes, not
    the prefix text)."""
    d = table(spark, sf_dir, "documents")
    pk = F.md5(F.array_join(F.slice(F.split("text", " "), 1, PREFIX_K), " "))
    return (
        d.select("doc_id", pk.alias("prefix_key"))
        .groupBy("prefix_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.sort_array(F.collect_list("doc_id")).cast("string").alias(
                "doc_ids"
            ),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# embed_coreset — per-cluster nearest-to-centroid selection (round-7 batch 3)
# ---------------------------------------------------------------------------

CORESET_K = 5


@register(
    "embed_coreset",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (
               ORDER BY md5('kmseed:' || CAST(vec_id AS VARCHAR)), vec_id
             ) - 1 AS c_idx,
             e AS c
      FROM emb
      ORDER BY md5('kmseed:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 8
    ), pairs AS (
      SELECT q.vec_id, s.c_idx,
             list_reduce(
               list_transform(list_zip(q.e, s.c),
                              p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS d2
      FROM emb q CROSS JOIN seeds s
    ), best AS (
      SELECT vec_id, c_idx, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_idx) AS rn
      FROM pairs
    ), assigned AS (
      SELECT vec_id, c_idx AS cluster, d2 FROM best WHERE rn = 1
    ), ranked AS (
      SELECT cluster, vec_id, d2,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY d2, vec_id) AS rank
      FROM assigned
    )
    SELECT CAST(cluster AS INTEGER) AS cluster, vec_id,
           CAST(rank AS INTEGER) AS rank,
           round(sqrt(d2), 6) AS dist
    FROM ranked WHERE rank <= {CORESET_K}
    """,
)
def embed_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset selection: the {CORESET_K} vectors nearest each certified
    k-means seed centroid (embed_kmeans's md5 'kmseed' basis and strict-
    fold d², so the assignment is the SAME one embed_kmeans certifies) —
    the representative-subset step behind clustered data pruning /
    per-cluster exemplar picks (SemDeDup-style curation).

    Dual kernel: K=8 clusters make the per-cluster rank window a
    low-cardinality funnel at scale, so above the embeddings footer-row
    gate the top-k runs through `_global_order.grouped_bucketed_topk`
    (bucket-count prefilter — only rows in buckets whose exclusive
    prefix count < k can win; survivors ≈ k + one bucket per cluster);
    below it, the plain per-cluster window (tests/test_size_gates.py)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    seed_h = F.md5(F.concat(F.lit("kmseed:"), F.col("vec_id").cast("string")))
    seeds = (
        emb.orderBy(seed_h, "vec_id").limit(8).select("e").collect()
    )
    seeds_df = spark.createDataFrame(
        [(i, list(r.e)) for i, r in enumerate(seeds)],
        "c_idx int, c array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(F.col("e"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = emb.crossJoin(F.broadcast(seeds_df)).select(
        "vec_id", "c_idx", d2.alias("d2")
    )
    assigned = (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "c_idx")).alias("m"))
        .select(
            "vec_id",
            F.col("m.c_idx").alias("cluster"),
            F.col("m.d2").alias("d2"),
        )
    )
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "embeddings"):
        ranked = grouped_bucketed_topk(
            assigned, ["cluster"], "d2", ["vec_id"], CORESET_K, out="rank"
        )
    else:
        w = Window.partitionBy("cluster").orderBy("d2", "vec_id")
        ranked = assigned.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= CORESET_K
        )
    return ranked.select(
        F.col("cluster").cast("int").alias("cluster"),
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.sqrt("d2"), 6).alias("dist"),
    )


# ---------------------------------------------------------------------------
# mix_epoch_upsample — integer-epoch source balancing (round-7 batch 3)
# ---------------------------------------------------------------------------

MAX_EPOCHS = 4  # repetition cap (Muennighoff et al.: ~4 epochs ~ fresh data)


@register(
    "mix_epoch_upsample",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), m AS (
      SELECT max(n) AS max_n FROM counts
    ), factors AS (
      SELECT source, n,
             least(CAST(ceil(CAST(max_n AS DOUBLE) / n) AS BIGINT),
                   {MAX_EPOCHS}) AS factor
      FROM counts CROSS JOIN m
    ), upsampled AS (
      SELECT d.source
      FROM documents d
      JOIN factors f ON d.source = f.source,
           unnest(generate_series(1, f.factor)) AS g(i)
    ), eff AS (
      SELECT source, count(*) AS eff_docs FROM upsampled GROUP BY source
    )
    SELECT f.source,
           CAST(f.n AS BIGINT) AS n_docs,
           CAST(f.factor AS BIGINT) AS repeat_factor,
           CAST(e.eff_docs AS BIGINT) AS effective_docs,
           round(CAST(e.eff_docs AS DOUBLE)
                 / (SELECT sum(eff_docs) FROM eff), 4) AS effective_share
    FROM factors f JOIN eff e ON f.source = e.source
    """,
)
def mix_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-epoch upsampling: repeat each under-represented source
    ceil(max/n) times (capped at {MAX_EPOCHS} epochs — the public
    data-constrained-scaling guidance that ~4 repeats cost little) and
    report the achieved mixture.  The plan ACTUALLY BUILDS the repeated
    stream (explode over a per-row sequence(1, factor)) and certifies
    its aggregate, so the certified thing is the upsample operator, not
    arithmetic about it.  Integer factors, exact shares.

    Scale: factors are a broadcast |sources|-row table; the explode is
    map-side (output rows = Σ n_s·f_s, the training-stream size — the
    point); the closing aggregate is combinable."""
    d = table(spark, sf_dir, "documents")
    # counts/factors/eff are |sources|-row frames with two consumers
    # each: pinned, so the corpus scans run once per pass (plan-audit,
    # SCALE.md §50; un-pinned: 8 scans).
    counts = pin(d.groupBy("source").agg(F.count(F.lit(1)).alias("n")))
    m = counts.agg(F.max("n").alias("max_n"))
    factors = pin(counts.crossJoin(F.broadcast(m)).select(
        "source",
        "n",
        F.least(
            F.ceil(F.col("max_n").cast("double") / F.col("n")).cast("long"),
            F.lit(MAX_EPOCHS).cast("long"),
        ).alias("factor"),
    ))
    upsampled = (
        d.select("source")
        .join(F.broadcast(factors), "source")
        .select(
            "source", F.explode(F.sequence(F.lit(1), F.col("factor"))).alias("i")
        )
    )
    eff = pin(
        upsampled.groupBy("source").agg(F.count(F.lit(1)).alias("eff_docs"))
    )
    tot = eff.agg(F.sum("eff_docs").alias("tot"))
    return (
        factors.join(eff, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            F.col("factor").cast("long").alias("repeat_factor"),
            F.col("eff_docs").cast("long").alias("effective_docs"),
            r4(F.col("eff_docs").cast("double") / F.col("tot")).alias(
                "effective_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# token_fertility_by_lang — tokenizer cost accounting (round-7 batch 3)
# ---------------------------------------------------------------------------

@register(
    "token_fertility_by_lang",
    oracle=r"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
               AS n_bpe,
             len(string_split(text, ' ')) AS n_ws,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe), 4)
             AS chars_per_token,
           round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws), 4)
             AS fertility
    FROM t GROUP BY lang
    """,
)
def token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and chars per token — the cost-accounting table that says which
    languages are expensive to train on under a given tokenizer (high
    fertility = more tokens per word = fewer effective documents per
    budget).  Uses text_tokens_bpe's segmentation; exact integer sums,
    two shared-tree divisions.

    Scale: the regex count fuses into the scan; one combinable aggregate
    on the |langs|-value key."""
    d = table(spark, sf_dir, "documents")
    pattern = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]".replace(chr(92), chr(92) * 2)
    n_bpe = F.size(F.expr(f"regexp_extract_all(text, '{pattern}', 0)"))
    return (
        d.select(
            "lang",
            n_bpe.alias("n_bpe"),
            F.size(F.split("text", " ")).alias("n_ws"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("long").alias("bpe_tokens"),
            F.sum("n_ws").cast("long").alias("ws_tokens"),
            r4(F.sum("n_chars").cast("double") / F.sum("n_bpe")).alias(
                "chars_per_token"
            ),
            r4(F.sum("n_bpe").cast("double") / F.sum("n_ws")).alias(
                "fertility"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ann_pq_adc_topk — asymmetric-distance-computation search (round-7 batch 5)
# ---------------------------------------------------------------------------

ADC_K = 3


def _adc_oracle() -> str:
    best_ctes = ", ".join(_pq_best_cte(m) for m in range(PQ_M))
    qd_selects = " UNION ALL ".join(
        f"""SELECT q.vec_id AS query_id, {m} AS m, s.c_idx AS j,
             list_reduce(
               list_transform(
                 list_zip(q.e[{m * PQ_SUB_D + 1}:{(m + 1) * PQ_SUB_D}],
                          s.c[{m * PQ_SUB_D + 1}:{(m + 1) * PQ_SUB_D}]),
                 p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS d2
        FROM emb q CROSS JOIN seeds s"""
        for m in range(PQ_M)
    )
    code_selects = " UNION ALL ".join(
        f"SELECT vec_id AS cand_id, {m} AS m, c_idx AS j FROM best{m}"
        for m in range(PQ_M)
    )
    part_cols = " + ".join(f"p{m}" for m in range(PQ_M))
    part_aggs = ", ".join(
        f"min(CASE WHEN q.m = {m} THEN q.d2 END) AS p{m}" for m in range(PQ_M)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY {_PQ_SEED_SQL}, vec_id) - 1 AS c_idx,
             e AS c
      FROM emb ORDER BY {_PQ_SEED_SQL}, vec_id LIMIT {PQ_K}
    ), {best_ctes}, qd AS (
      {qd_selects}
    ), codes AS (
      {code_selects}
    ), partials AS (
      SELECT q.query_id, c.cand_id, {part_aggs}
      FROM qd q JOIN codes c ON q.m = c.m AND q.j = c.j
      GROUP BY q.query_id, c.cand_id
    ), adc AS (
      SELECT query_id, cand_id, {part_cols} AS d2
      FROM partials WHERE query_id <> cand_id
    ), ranked AS (
      SELECT query_id, cand_id, d2,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2, cand_id) AS rank
      FROM adc
    )
    SELECT query_id, cand_id AS neighbor_id,
           CAST(rank AS INTEGER) AS rank, round(d2, 6) AS adc_d2
    FROM ranked WHERE rank <= {ADC_K}
    """


@register("ann_pq_adc_topk", oracle=_adc_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's search arithmetic, certified EXACTLY: Asymmetric
    Distance Computation (Jégou et al.) — each query computes a
    {PQ_M}x{PQ_K} table of exact sub-distances to the codebook, every
    candidate is represented ONLY by its {PQ_M}-byte PQ code, and the
    approximate distance is the table-lookup sum Σ_m dt[m][code_m].
    Top-{ADC_K} per query under (adc_d2, cand_id).  The op certifies the
    ADC algorithm itself (codes from embed_pq_codes' certified basis,
    strict-fold sub-distances, FIXED p0+p1+p2+p3 addition order, tie-safe
    rank) — approximation error vs true NN is a property of PQ, not a
    nondeterminism.

    Scale: this is the post-pruning ADC scan — in production it runs per
    IVF bucket (ann_ivf's cogroup provides the pruning; compute/IO ~
    probe/N_CENTROIDS of all-pairs).  Each query materializes its
    {PQ_M}x{PQ_K} distance table ONCE as map-side arrays (seed slices are
    literals — the codebook never exists as a joinable frame), and every
    (query, candidate) evaluation is {PQ_M} element_at lookups + adds on
    the broadcast code join — the r13 restructure that replaced the
    (m, j)-keyed join (queries x candidates x {PQ_M} rows shuffled into a
    pair-keyed aggregate) with the textbook table-scan form; candidates
    carry {PQ_M} smallints instead of the raw vector — the 16-32x memory
    compression that lets the corpus live in RAM."""
    emb = _pq_embeddings(spark, sf_dir)
    seeds = _pq_seeds(emb)
    codes = _pq_codes(spark, sf_dir, seeds)
    # Scan-spread gate: the benched embeddings table is one parquet row
    # group, which would run the whole distance-table build AND the
    # nested-loop pair evaluation in ONE task.
    emb = spread_scan(emb, sf_dir, "embeddings", "vec_id", 1_000_000)

    # Per-subspace distance table dt{m}[j+1] = d²(e[m-slice], seed_j[m-
    # slice]): the IDENTICAL strict fold the (m, j)-join form evaluated
    # (same zip_with/aggregate tree over the same literal doubles), so
    # every table entry — and therefore every ADC sum and the certified
    # rounded output — is bit-identical to the pre-r13 form.  Authored
    # as ONE SQL text per subspace (literal seed arrays embedded): the
    # per-element F.lit DSL form costs seconds of driver time per plan
    # construction (the dedup_near literal-dictionary finding).
    def dt_m(m: int) -> str:
        lo = m * PQ_SUB_D + 1
        parts = []
        for j in range(PQ_K):
            vals = list(seeds[j].e)[m * PQ_SUB_D : (m + 1) * PQ_SUB_D]
            lits = ", ".join(f"{float(v)!r}D" for v in vals)
            parts.append(
                f"aggregate(zip_with(slice(e, {lo}, {PQ_SUB_D}), "
                f"array({lits}), (x, y) -> (x - y) * (x - y)), "
                f"0.0D, (acc, x) -> acc + x)"
            )
        return "array(" + ", ".join(parts) + ")"

    q = emb.selectExpr(
        "vec_id AS query_id",
        *[f"{dt_m(m)} AS dt{m}" for m in range(PQ_M)],
    )
    cand = codes.select(
        F.col("vec_id").alias("cand_id"),
        *[F.col(f"code{m}") for m in range(PQ_M)],
    )
    # ADC = dt0[c0] + dt1[c1] + ... in the FIXED p0+p1+p2+p3 order the
    # certified oracle uses (left-assoc Column addition).
    lookups = [
        F.element_at(F.col(f"dt{m}"), F.col(f"code{m}") + 1)
        for m in range(PQ_M)
    ]
    adc = sum(lookups[1:], lookups[0])
    pairs = (
        q.crossJoin(F.broadcast(cand))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    ranked = pairs.select(
        "query_id", "cand_id", adc.alias("d2")
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("d2", "cand_id")
        ),
    )
    return ranked.filter(F.col("rank") <= ADC_K).select(
        "query_id",
        F.col("cand_id").alias("neighbor_id"),
        F.col("rank").cast("int").alias("rank"),
        F.round("d2", 6).alias("adc_d2"),
    )
