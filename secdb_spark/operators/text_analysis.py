"""§2.J (text half) — text analysis for training-data curation:
tokenization, term stats, n-grams, language ID, quality scoring, token
counting, fingerprinting, SimHash.

All ops are per-row array/string expressions (WholeStageCodegen, zero
shuffle) or one explode+groupBy (single shuffle on token/doc key) — both
shapes scale linearly; nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._helpers import check_free, pin
from ._global_order import GLOBAL_WINDOW_GATE, bucketed_prefix_sum

STOPWORDS = ("a", "the")  # corpus vocabulary is a 31-word soup (FIXTURES.md)
SENTIMENT_LEXICON = {
    "fast": 2,
    "big": 1,
    "hot": 1,
    "merge": 1,
    "slow": -2,
    "small": -1,
    "error": -3,
}
FP_MOD = 1_000_000_007

_SQL_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)


def _toks(col: str = "text"):
    return F.split(F.lower(F.col(col)), " ")


@register(
    "text_tokenize",
    oracle=f"""
    SELECT doc_id,
           array_to_string(list_filter(string_split(lower(text), ' '),
                                       t -> t NOT IN ({_SQL_STOP})), ' ') AS tokens,
           len(list_filter(string_split(lower(text), ' '),
                           t -> t NOT IN ({_SQL_STOP}))) AS n_tokens
    FROM documents
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lowercase + split + stopword removal (order-preserving, dups kept —
    array_except would dedup, so filter() is the correct primitive)."""
    d = table(spark, sf_dir, "documents")
    kept = F.filter(_toks(), lambda t: ~t.isin(*STOPWORDS))
    return d.select(
        "doc_id",
        F.array_join(kept, " ").alias("tokens"),
        F.size(kept).alias("n_tokens"),
    )


@register(
    "text_tf",
    oracle="""
    SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents)
    GROUP BY tok
    """,
)
def text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term and document frequency (the IDF building block)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_toks()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
    )


@register(
    "text_ngram",
    oracle="""
    SELECT bigram, count(*) AS n
    FROM (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents)
    )
    GROUP BY bigram
    """,
)
def text_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts via index-sequence transform (no UDF): zip each token
    with its successor, explode, count."""
    d = table(spark, sf_dir, "documents")
    toks = _toks()
    # guard single-token docs: sequence(0, -1) infers step -1 -> [0, -1]
    # -> element_at(toks, 0) is INVALID_ARRAY_INDEX under ANSI mode.
    # A 1-token doc simply has no bigrams (empty array explodes to 0 rows,
    # matching the oracle's empty generate_series).
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_lang",
    oracle="""
    SELECT source,
           count(*) FILTER (WHERE lang = 'en') AS en,
           count(*) FILTER (WHERE lang = 'de') AS de,
           count(*) FILTER (WHERE lang = 'es') AS es,
           count(*) FILTER (WHERE lang = 'fr') AS fr,
           count(*) FILTER (WHERE lang = 'zh') AS zh
    FROM documents GROUP BY source
    """,
)
def text_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language x source matrix (metadata-declared lang, pivoted)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .pivot("lang", ["en", "de", "es", "fr", "zh"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["en", "de", "es", "fr", "zh"])
    )


_SQL_LEXICON_VALUES = ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON.items())


@register(
    "text_sentiment",
    oracle=f"""
    WITH lex(word, score) AS (VALUES {_SQL_LEXICON_VALUES}),
    toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             FROM documents)
    SELECT t.doc_id,
           CAST(sum(coalesce(lex.score, 0)) AS BIGINT) AS sentiment,
           count(lex.word) AS n_scored
    FROM toks t LEFT JOIN lex ON t.tok = lex.word
    GROUP BY t.doc_id
    """,
)
def text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-scored sentiment (EDBT'16 Spark-sentiment pattern,
    PAPERS.md): explode tokens -> BROADCAST join tiny lexicon -> sum.
    Integer scores -> exact.  Scan-spread gate (r14, guide §2.5): the
    tokenize+probe map stage is row-group-bound at benched scale
    (measured 0.67 -> 0.53 s standalone A/B)."""
    from .llm_pipeline import _spread_docs

    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    lex = spark.createDataFrame(
        list(SENTIMENT_LEXICON.items()), "word string, score long"
    )
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    return (
        toks.join(F.broadcast(lex), toks.tok == lex.word, "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce("score", F.lit(0))).alias("sentiment"),
            F.count("word").alias("n_scored"),
        )
    )


LANGID_MARKERS = {
    "en": ("the", "a", "and"),
    "de": ("der", "die", "und"),
    "es": ("el", "los", "y"),
    "fr": ("le", "les", "et"),
    "zh": (),
}


def _langid_sql_score(lang: str) -> str:
    words = LANGID_MARKERS[lang]
    if not words:
        return "0"
    in_list = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter(string_split(lower(text), ' '), t -> t IN ({in_list})))"
    )


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang AS declared_lang,
           CASE
             WHEN {_langid_sql_score('en')} >= greatest({_langid_sql_score('de')},
                  {_langid_sql_score('es')}, {_langid_sql_score('fr')}, 1) THEN 'en'
             WHEN {_langid_sql_score('de')} >= greatest({_langid_sql_score('es')},
                  {_langid_sql_score('fr')}, 1) THEN 'de'
             WHEN {_langid_sql_score('es')} >= greatest({_langid_sql_score('fr')}, 1) THEN 'es'
             WHEN {_langid_sql_score('fr')} >= 1 THEN 'fr'
             ELSE 'unknown'
           END AS predicted_lang,
           {_langid_sql_score('en')} AS en_score
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID heuristic (deterministic priority order:
    en > de > es > fr, minimum one marker hit else 'unknown'). A real
    system swaps the marker lists for char-n-gram profiles; the plan
    shape (pure column expressions) is identical."""
    d = table(spark, sf_dir, "documents")
    toks = _toks()

    def score(lang: str):
        words = LANGID_MARKERS[lang]
        if not words:
            return F.lit(0)
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    en, de, es, fr = score("en"), score("de"), score("es"), score("fr")
    pred = (
        F.when(en >= F.greatest(de, es, fr, F.lit(1)), "en")
        .when(de >= F.greatest(es, fr, F.lit(1)), "de")
        .when(es >= F.greatest(fr, F.lit(1)), "es")
        .when(fr >= 1, "fr")
        .otherwise("unknown")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        pred.alias("predicted_lang"),
        en.alias("en_score"),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                t -> t IN ({_SQL_STOP}))) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS uniq_ratio,
           (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 200 THEN 1 ELSE 0 END
            + CASE WHEN CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                        / len(string_split(text, ' ')) >= 0.3 THEN 1 ELSE 0 END
            + CASE WHEN CAST(len(list_filter(string_split(lower(text), ' '),
                                             t -> t IN ({_SQL_STOP}))) AS DOUBLE)
                        / len(string_split(text, ' ')) <= 0.5 THEN 1 ELSE 0 END
           ) AS quality_score
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (length band, lexical diversity, stopword
    ratio) + a 0-3 composite score — the C4/Gopher-style filter shape.
    All exact integer/rational arithmetic -> hash-stable."""
    d = table(spark, sf_dir, "documents")
    raw_toks = F.split(F.col("text"), " ")
    low_toks = _toks()
    n_tokens = F.size(raw_toks)
    avg_tok = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    stop_ratio = (
        F.size(F.filter(low_toks, lambda t: t.isin(*STOPWORDS))).cast("double")
        / n_tokens
    )
    uniq_ratio = F.size(F.array_distinct(low_toks)).cast("double") / n_tokens
    quality = (
        F.when(n_tokens.between(20, 200), 1).otherwise(0)
        + F.when(uniq_ratio >= 0.3, 1).otherwise(0)
        + F.when(stop_ratio <= 0.5, 1).otherwise(0)
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        quality.alias("quality_score"),
    )


BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Token cost accounting on ANY (id, text) table (text_tokens_bpe's
    algebra): BPE-ish regex segmentation (letter / digit / punctuation
    runs), whitespace split, and the chars/4 estimator — the standard
    trio for sizing a training corpus.  Map-only scan, zero shuffles,
    no UDF.  Returns (id_col, n_bpe_tokens, n_ws_tokens, n_est_tokens)."""
    return df.select(
        id_col,
        # Spark SQL string literals process backslash escapes -> double them
        F.size(
            F.expr(
                f"regexp_extract_all({text_col}, '{BPE_ISH_PATTERN.replace(chr(92), chr(92) * 2)}', 0)"
            )
        ).alias("n_bpe_tokens"),
        F.size(F.split(text_col, " ")).alias("n_ws_tokens"),
        F.ceil(F.length(text_col) / 4.0).alias("n_est_tokens"),
    )


@register(
    "text_tokens_bpe",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_est_tokens
    FROM documents
    """,
)
def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: BPE-ish regex segmentation (letters /
    digits / punctuation runs), whitespace split, and the chars/4
    estimator — the standard cost-accounting trio for training data:
    the `token_stats` kernel on the corpus."""
    return token_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(lower(text), ' '),
                              t -> CAST(length(t) * 77 + ascii(t) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % {FP_MOD}) AS fingerprint,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_sort(list_distinct(string_split(lower(text), ' '))),
                              t -> CAST(length(t) * 77 + ascii(t) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % {FP_MOD}) AS bow_fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint (order-sensitive) + bag-of-words
    fingerprint (order-insensitive, catches shuffled near-dups). Pure
    int64 modular arithmetic -> engine-exact; stays far below 2^63."""
    d = table(spark, sf_dir, "documents")

    def poly(arr):
        return F.aggregate(
            F.transform(
                arr, lambda t: (F.length(t) * 77 + F.ascii(t)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % FP_MOD,
        )

    toks = _toks()
    return d.select(
        "doc_id",
        poly(toks).alias("fingerprint"),
        poly(F.sort_array(F.array_distinct(toks))).alias("bow_fingerprint"),
    )


def _simhash_vote_sql(b: int) -> str:
    src, sh = ("lo", b) if b < 32 else ("hi", b - 32)
    return f"sum(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"


_SIMHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
             ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
      FROM toks
    ), votes AS (
      SELECT doc_id, {", ".join(_simhash_vote_sql(b) for b in range(63))}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"(CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b})"
                       f" ELSE 0 END)" for b in range(63))} AS simhash
    FROM votes
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: per-token hash, bitwise majority
    across tokens (weight = term frequency). Identical token bags ->
    identical simhash (property-tested vs bow_fingerprint); near-dups land
    at small Hamming distance. Distributed shape: explode -> 63 bit-test
    sums in ONE aggregation pass -> reassemble.

    The bit basis is md5 (two 32-bit halves parsed from the hex digest)
    rather than xxhash64: md5 is bit-identical across engines, which
    upgrades this op from rows-only to exact-oracle — the minhash_sig
    playbook.  Cost parity: one md5 per token instead of one xxhash64;
    both are embarrassingly parallel map-side work, and the aggregation
    shape (63 sums per doc_id in one pass) is unchanged.  Bit 63 (the
    int64 sign bit) stays 0 so the reassembled hash is non-negative in
    both engines."""
    from .llm_pipeline import _spread_docs

    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(_toks()).alias("tok"))
    md5 = F.md5("tok")
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("lo"),
    )

    # r14 (guide §1.2 per-task work): the vote used to be
    # sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) per bit — 63 CASE
    # branches evaluated per token row.  vote_b > 0 <=> 2*ones_b > n
    # with ones_b = sum(bit_b) and n the token count, so the aggregate
    # is now 63 bare sums of an AND-shift (no CASE) plus one count —
    # identical majority outcome (equality 2*ones = n was vote = 0,
    # excluded both ways), a ~third smaller codegen'd aggregate.
    def ones(b: int):
        src, sh = ("lo", b) if b < 32 else ("hi", b - 32)
        return F.sum(
            F.shiftright(F.col(src), sh).bitwiseAND(F.lit(1))
        ).alias(f"b{b}")

    bit_sums = hashed.groupBy("doc_id").agg(
        *[ones(b) for b in range(63)],
        F.count(F.lit(1)).alias("_n"),
    )
    sim = F.lit(0).cast("long")
    for b in range(63):  # bit 63 (sign bit) left 0 to stay in int64 range
        sim = sim + F.when(
            F.col(f"b{b}") * 2 > F.col("_n"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("doc_id", sim.alias("simhash"))


SEQ_LEN = 128


@register(
    "seq_pack",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n_toks
      FROM documents
    ), offsets AS (
      SELECT doc_id, n_toks,
             sum(n_toks) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS doc_offset
      FROM counts
    ), toks AS (
      SELECT d.doc_id,
             coalesce(o.doc_offset, 0) + t.pos - 1 AS global_idx,
             toks_arr[t.pos] AS tok
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks_arr
            FROM documents) d
      JOIN offsets o ON d.doc_id = o.doc_id,
           unnest(generate_series(1, len(toks_arr))) AS t(pos)
    )
    SELECT CAST(global_idx // {SEQ_LEN} AS BIGINT) AS seq_id,
           count(*) AS n_tokens,
           count(DISTINCT doc_id) AS n_docs,
           min(tok) AS first_tok_alpha
    FROM toks
    GROUP BY 1
    """,
)
def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the pretraining batch-prep op: concatenate the
    token stream across documents (stable doc_id order) and cut fixed
    SEQ_LEN training sequences; report per-sequence fill and the doc
    boundaries crossed.

    SCALABLE FORMULATION: the global token index is NOT a global sort of
    tokens — it's per-doc offsets from ONE window over the (small) doc
    list (cumsum of token counts), then offset + in-doc position per row.
    The only shuffle touching token-level data is the final seq_id
    aggregation. A zipWithIndex/global row_number over tokens would
    serialize 10^12 rows through one ordering at 100 TB.

    The doc-offset cumsum itself is doc-count-sized — data-sized for a
    10^9-doc corpus — so it dual-kernels on the documents footer row
    count: below the gate, one ordered window over the doc list; above
    it, `_global_order.bucketed_prefix_sum` (inclusive, minus the row's
    own count for the exclusive offset; integer token counts in decimal
    addends, so accumulation order is bit-irrelevant)."""
    d = table(spark, sf_dir, "documents")
    toks_arr = _toks()
    counts = d.select("doc_id", F.size(toks_arr).alias("n_toks"))
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "documents"):
        offsets = bucketed_prefix_sum(
            counts, "doc_id", [], "n_toks", out="_incl"
        ).withColumn(
            "doc_offset",
            (F.col("_incl").cast("long") - F.col("n_toks")).cast("long"),
        ).drop("_incl")
    else:
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.withColumn(
            "doc_offset", F.coalesce(F.sum("n_toks").over(w), F.lit(0))
        )
    toks = (
        d.select("doc_id", F.posexplode(toks_arr).alias("pos", "tok"))
        # EXPLICIT broadcast: the scale contract (no token-level shuffle
        # before the final agg) must not depend on Catalyst's size estimate
        # of a subtree that includes the text column. Limit: the doc-offset
        # list must fit a broadcast (~10^8 docs at 16B/row); beyond that,
        # pre-partition both sides by doc_id instead.
        .join(F.broadcast(offsets.select("doc_id", "doc_offset")), "doc_id")
        .select(
            "doc_id",
            (F.col("doc_offset") + F.col("pos")).alias("global_idx"),
            "tok",
        )
    )
    return (
        toks.groupBy((F.col("global_idx") / SEQ_LEN).cast("long").alias("seq_id"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("tok").alias("first_tok_alpha"),
        )
    )


@register(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                '\s+', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Text normalization — the first stage of every curation pipeline:
    lowercase, strip non-alphanumerics to spaces, collapse whitespace,
    trim.  Pure JVM-side regexp_replace chain (whole-stage codegen, no
    Python in the path); at 100 TB this is a map-only stage fused into
    the scan — zero shuffles, and the regex class `[^a-z0-9\s]` is
    identical under Java regex and DuckDB's RE2."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
    )


CHUNK_W = 32  # chunk width (tokens)
CHUNK_S = 24  # stride (tokens) -> 8-token overlap between chunks


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window token chunking on ANY (id, text) table
    (text_chunk's algebra with width/stride parameterized) — the step
    between a raw corpus and an embedding index in a RAG pipeline.
    Returns (id_col, chunk_id, chunk, n_toks); windows overlap by
    width - stride tokens so no boundary context is lost.

    Scale shape: chunk starts come from sequence + slice + posexplode
    entirely inside codegen — a map-only stage, ZERO shuffles, fused
    into the scan; slice() shares the one token array instead of
    re-materializing the document per window."""
    if width < 1 or stride < 1:
        raise ValueError("width and stride must be >= 1")
    check_free([id_col], "chunk_id", "z")
    toks = F.split(text_col, " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(
        starts, lambda i: F.array_join(F.slice(toks, i, width), " ")
    )
    lens = F.transform(
        starts,
        lambda i: F.least(F.lit(width), F.size(toks) - i + 1).cast("bigint"),
    )
    return df.select(
        id_col,
        F.posexplode(F.arrays_zip(chunks.alias("c"), lens.alias("n"))).alias(
            "chunk_id", "z"
        ),
    ).select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("z.c").alias("chunk"),
        F.col("z.n").alias("n_toks"),
    )


@register(
    "text_chunk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1), {CHUNK_S})) AS i
      FROM toks
    )
    SELECT doc_id,
           CAST((i - 1) / {CHUNK_S} AS BIGINT) AS chunk_id,
           array_to_string(t[i:i+{CHUNK_W - 1}], ' ') AS chunk,
           CAST(least({CHUNK_W}, len(t) - i + 1) AS BIGINT) AS n_toks
    FROM starts
    """,
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the step between a raw corpus
    and an embedding index in every RAG pipeline: the `chunk_text`
    kernel at width CHUNK_W, stride CHUNK_S.  Output ids are
    deterministic (chunk_id is the window ordinal).  At 100 TB chunking
    is embarrassingly parallel and the only design decision that matters
    is emitting chunks without re-materializing the document per window
    — slice() shares the one token array."""
    return chunk_text(
        table(spark, sf_dir, "documents"), "doc_id", "text", CHUNK_W, CHUNK_S
    )


# ---------------------------------------------------------------------------
# simhash_pairs — pigeonhole-blocked Hamming-distance candidate pairs
# ---------------------------------------------------------------------------

SIMHASH_HAM_MAX = 3
_SIMHASH_BLOCKS = ((0, 16), (16, 16), (32, 16), (48, 15))  # bit 63 unused


@register(
    "simhash_pairs",
    oracle=f"""
    WITH sims AS ({_SIMHASH_ORACLE}),
    blocks AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, simhash, {i} AS blk, "
          f"(simhash >> {off}) & {(1 << width) - 1} AS bval FROM sims"
          for i, (off, width) in enumerate(_SIMHASH_BLOCKS))}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_HAM_MAX}
    """,
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming distance ≤
    {SIMHASH_HAM_MAX} via the PIGEONHOLE blocking of the WebCrawl
    simhash paper: split the 63-bit signature into 4 blocks — any pair
    within distance 3 must agree EXACTLY on at least one block (3
    differing bits cannot touch all 4 blocks), so candidates form
    through 4 block-value equi-joins, never an all-pairs Hamming scan;
    the exact popcount(xor) verify then keeps true neighbors.  Rides
    the certified md5-basis `dedup_simhash` signatures, so the whole
    pipeline (tokenize → bit votes → blocking → verify) is
    exact-oracle end to end — the simhash counterpart of
    `lsh_candidates` + `lsh_eval`'s minhash story.

    Scale: signature table is one row per doc; each block join is an
    equi-join whose bucket sizes follow block-value collision density
    (64k values per block — templated corpora concentrate, which is
    measurable via `data_skew_report` on the block key before running);
    the verify is map-side bit arithmetic.  Distance budgets > 3 use
    more/wider blocks — the same pigeonhole algebra."""
    # pinned: each of the 4 block branches re-ran the full signature
    # build (tokenize + bit votes) un-pinned — 8 executed scans
    # (plan-audit, SCALE.md §50); the signature table is one row/doc.
    sims = pin(dedup_simhash(spark, sf_dir))
    blocks = None
    for i, (off, width) in enumerate(_SIMHASH_BLOCKS):
        b = sims.select(
            "doc_id",
            "simhash",
            F.lit(i).alias("blk"),
            F.shiftright(F.col("simhash"), off)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bval"),
        )
        blocks = b if blocks is None else blocks.unionByName(b)
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
        "blk",
        "bval",
    )
    b2 = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        "blk",
        "bval",
    )
    # VERIFY-FIRST (r13, the _jaccard_pairs lesson): popcount(xor) per
    # candidate is a couple of instructions, so deduplicating the raw
    # block-collision stream BEFORE the verify was the wrong order — the
    # Hamming filter now runs on the raw stream (pigeonhole multiplicity
    # <= 4, identical rows) and the distinct shuffles only surviving
    # near-pairs.
    cand = (
        a.join(b2, ["blk", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.filter(ham <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .distinct()
    )
