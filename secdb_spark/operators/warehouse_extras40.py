"""Round-12 additions, batch 2 — SURVEY §2.BC (curation quartet): char-
class script mix per source, KL-divergence mixture reweighting, cross-
document duplicate n-gram share, and sliding-window chunking for RAG-
style retrieval corpora.

House conventions: token/char masses as exact integer sums, shares and
weights he4 on one shared IEEE closing tree, ln terms micro-nat
quantized with the identical float inputs both engines, tie-safe
orderings, and a scale note per op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import check_free, he4, pin, sql_he4

#: sliding-window chunking geometry (text_chunk_sliding): window chars /
#: stride chars — 50-char overlap so retrieval never loses a boundary
#: sentence, the standard RAG chunking shape.
CHUNK_W = 200
CHUNK_S = 150

#: duplicate n-gram order (corpus_dup_ngram_share): 5-grams are the
#: standard memorization/repetition audit unit (RefinedWeb/Gopher rules
#: use 5-10).
DUP_NGRAM_N = 5


# ---------------------------------------------------------------------------
# doc_script_mix — character-class composition per source
# ---------------------------------------------------------------------------

def script_mix(df: DataFrame, group_cols: list[str], text_col: str) -> DataFrame:
    """Character-class composition per group over ANY text column
    (doc_script_mix's algebra with the grouping parameterized): letter /
    digit / space / other shares of total characters via the
    strip-and-diff regex idiom.  Returns (group_cols..., n_docs,
    n_chars, letter_share, digit_share, space_share, other_share),
    shares he4.

    Scale: map-side regexps reduce each row to four ints at the scan;
    ONE combinable aggregate keyed by the group."""
    check_free(group_cols, "n", "n_letter", "n_digit", "n_space")

    def stripped(pat: str):
        return F.length(text_col) - F.length(
            F.regexp_replace(F.col(text_col), pat, "")
        )

    c = df.select(
        *group_cols,
        F.length(text_col).alias("n"),
        stripped("[A-Za-z]").alias("n_letter"),
        stripped("[0-9]").alias("n_digit"),
        stripped("[ ]").alias("n_space"),
    )
    tot = F.sum("n")
    return c.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        tot.cast("long").alias("n_chars"),
        he4(F.sum("n_letter").cast("double") / tot.cast("double")).alias(
            "letter_share"
        ),
        he4(F.sum("n_digit").cast("double") / tot.cast("double")).alias(
            "digit_share"
        ),
        he4(F.sum("n_space").cast("double") / tot.cast("double")).alias(
            "space_share"
        ),
        he4(
            (tot - F.sum("n_letter") - F.sum("n_digit") - F.sum("n_space"))
            .cast("double")
            / tot.cast("double")
        ).alias("other_share"),
    )


@register(
    "doc_script_mix",
    oracle=f"""
    WITH c AS (
      SELECT source, text,
             length(text) AS n,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
               AS n_letter,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS n_digit,
             length(text) - length(regexp_replace(text, '[ ]', '', 'g'))
               AS n_space
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_chars,
           {sql_he4("CAST(sum(n_letter) AS DOUBLE) / CAST(sum(n) AS DOUBLE)")}
             AS letter_share,
           {sql_he4("CAST(sum(n_digit) AS DOUBLE) / CAST(sum(n) AS DOUBLE)")}
             AS digit_share,
           {sql_he4("CAST(sum(n_space) AS DOUBLE) / CAST(sum(n) AS DOUBLE)")}
             AS space_share,
           {sql_he4("CAST(sum(n) - sum(n_letter) - sum(n_digit) - sum(n_space) AS DOUBLE) / CAST(sum(n) AS DOUBLE)")}
             AS other_share
    FROM c GROUP BY source
    """,
)
def doc_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source — letters, digits, spaces,
    and everything else as shares of total characters: the script/noise
    profile a curation pipeline gates on (a source whose other_share
    spikes is markup, mojibake, or a language the tokenizer wasn't built
    for).  Counts via the strip-and-diff idiom (length minus length
    after class removal) so both engines run the identical regex.
    Returns (source, n_docs, n_chars, letter_share, digit_share,
    space_share, other_share), shares he4.

    Scale: pure map-side regexp expressions fused into the scan, then
    ONE combinable aggregate keyed by source — no UDF, no shuffle of
    text (the regexps reduce each doc to four ints at the scan)."""
    return script_mix(table(spark, sf_dir, "documents"), ["source"], "text")


# ---------------------------------------------------------------------------
# mix_kl_reweight — importance weights toward a uniform target mixture
# ---------------------------------------------------------------------------

@register(
    "mix_kl_reweight",
    oracle="""
    WITH ts AS (
      SELECT source,
             CAST(sum(length(list_filter(string_split(lower(text), ' '),
                                         x -> x <> ''))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS kk
      FROM ts WHERE n_tokens > 0
    )
    SELECT source, n_tokens,
           (CAST(floor((CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))
                       * 10000 + 0.5) AS BIGINT) / 10000.0) AS actual_share,
           (CAST(floor(((1.0 / CAST(kk AS DOUBLE))
                        / (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)))
                       * 10000 + 0.5) AS BIGINT) / 10000.0) AS weight,
           CAST(floor((1.0 / CAST(kk AS DOUBLE))
                      * (ln(1.0 / CAST(kk AS DOUBLE))
                         - ln(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) AS kl_term_unats
    FROM ts, tot
    WHERE n_tokens > 0
    """,
)
def mix_kl_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance reweighting of the corpus mixture toward a UNIFORM
    target over sources: per source the actual token share p_a, the
    importance weight w = p_t/p_a a sampler multiplies in to hit the
    target, and the source's signed contribution p_t·ln(p_t/p_a) to
    KL(target‖actual) in micro-nats — the quantitative form of "how far
    is my corpus from the mixture I want, and what do I upsample".
    Returns (source, n_tokens, actual_share, weight, kl_term_unats);
    the kl terms sum to the (non-negative) total divergence.

    Scale: one tokenize scan into a |sources|-row aggregate; the 1-row
    totals frame broadcasts, and every derived double (shares, weight,
    both ln terms) evaluates the identical IEEE tree in both engines
    before its he4/micro-nat quantization."""
    docs = table(spark, sf_dir, "documents")
    ts = (
        docs.select(
            "source",
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda x: x != F.lit(""),
                )
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    ts = pin(ts)
    tot = ts.agg(
        F.sum("n_tokens").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("kk"),
    )
    j = ts.crossJoin(F.broadcast(tot))
    pa = F.col("n_tokens").cast("double") / F.col("tot").cast("double")
    pt = F.lit(1.0) / F.col("kk").cast("double")
    return j.select(
        "source",
        "n_tokens",
        he4(pa).alias("actual_share"),
        he4(pt / pa).alias("weight"),
        F.floor(pt * (F.log(pt) - F.log(pa)) * 1000000 + 0.5)
        .cast("long")
        .alias("kl_term_unats"),
    )


# ---------------------------------------------------------------------------
# corpus_dup_ngram_share — cross-document duplicate n-gram occupancy
# ---------------------------------------------------------------------------

def _gram_sql() -> str:
    parts = " || ' ' || ".join(
        f"w[i + {k}]" if k else "w[i]" for k in range(DUP_NGRAM_N)
    )
    return f"""ws AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id, source, {parts} AS gram
      FROM ws, LATERAL (
        SELECT unnest(generate_series(1, len(w) - {DUP_NGRAM_N - 1})) AS i) t
      WHERE len(w) >= {DUP_NGRAM_N}
    )"""


def dup_ngram_share(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Cross-document duplicate n-gram OCCUPANCY per group over ANY
    corpus (corpus_dup_ngram_share's algebra with n parameterized): the
    share of word-n-gram occurrences in the group whose gram appears in
    >= 2 distinct documents corpus-wide.  Returns (group_col, n_grams,
    n_dup_grams, dup_share he4).

    Requires each id to belong to exactly ONE group (true for any
    provenance column): per-gram doc frequency is then the sum of
    per-group distinct counts, so the explode is consumed by a single
    map-side-combinable (gram, group) aggregate and the rollup +
    classify step run over the much smaller aggregated frame.

    Scale: gram-keyed equi-shuffles only, never all-pairs."""
    check_free([id_col, group_col], "gram", "n_occ", "n_docs", "nd")
    w = F.split(text_col, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + k) for k in range(n)]
        ),
    )
    g = df.filter(F.size(w) >= n).select(
        id_col, group_col, F.explode(grams).alias("gram")
    )
    a1 = g.groupBy("gram", group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.count_distinct(id_col).cast("long").alias("n_docs"),
    )
    # r13 single-lineage rollup (guide §2.4): a1 had TWO consumers (the
    # per-gram doc-frequency rollup and the classify join), and with no
    # common-subexpression reuse Catalyst executed the explode+aggregate
    # twice and shuffled the join.  One per-gram aggregate now carries
    # the doc-frequency AND the per-group occurrence structs (bounded
    # by the group count) together; the classify step is a map-side
    # explode of that frame — one gram pass, no join.
    per_gram = a1.groupBy("gram").agg(
        F.sum("n_docs").cast("long").alias("nd"),
        F.collect_list(F.struct(group_col, "n_occ")).alias("per_src"),
    )
    j = per_gram.select("nd", F.explode("per_src").alias("s")).select(
        F.col(f"s.{group_col}").alias(group_col),
        F.col("s.n_occ").alias("n_occ"),
        "nd",
    )
    dup = F.sum(F.when(F.col("nd") >= 2, F.col("n_occ")).otherwise(0))
    tot = F.sum("n_occ")
    return j.groupBy(group_col).agg(
        tot.cast("long").alias("n_grams"),
        dup.cast("long").alias("n_dup_grams"),
        he4(dup.cast("double") / tot.cast("double")).alias("dup_share"),
    )


@register(
    "corpus_dup_ngram_share",
    oracle=f"""
    WITH {_gram_sql()}, a1 AS (
      SELECT gram, source,
             CAST(count(*) AS BIGINT) AS n_occ,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY 1, 2
    ), d AS (
      SELECT gram, CAST(sum(n_docs) AS BIGINT) AS nd FROM a1 GROUP BY 1
    )
    SELECT a1.source,
           CAST(sum(n_occ) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN d.nd >= 2 THEN n_occ ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           {sql_he4("CAST(sum(CASE WHEN d.nd >= 2 THEN n_occ ELSE 0 END) AS DOUBLE) / CAST(sum(n_occ) AS DOUBLE)")}
             AS dup_share
    FROM a1 JOIN d ON a1.gram = d.gram
    GROUP BY 1
    """,
)
def corpus_dup_ngram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate {DUP_NGRAM_N}-gram occupancy per source:
    of every word-{DUP_NGRAM_N}-gram OCCURRENCE in the source's docs,
    the share whose gram text appears in >= 2 distinct documents
    corpus-wide — the RefinedWeb/Gopher-style repetition-and-
    memorization-risk audit at occurrence granularity (doc-level dedup
    can pass while half a source's gram mass is boilerplate).  Returns
    (source, n_grams, n_dup_grams, dup_share he4).

    Scale: grams explode ONCE into a map-side-combinable (gram, source)
    aggregate carrying occurrence and distinct-doc counts (a doc
    belongs to exactly one source, so per-gram doc frequency is the SUM
    of the per-source distinct counts — no second pass over raw
    occurrences); the gram-keyed rollup and classify join then run over
    the aggregated frame, typically orders of magnitude smaller than
    the occurrence stream.  Everything is keyed ON THE GRAM — never
    all-pairs; at 100 TB the gram string shuffles as a 64-bit hash
    (collision-audited) and hot boilerplate grams want salting before
    the distinct count."""
    from .llm_pipeline import _spread_docs

    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    return dup_ngram_share(d, "doc_id", "source", "text", DUP_NGRAM_N)


# ---------------------------------------------------------------------------
# text_chunk_sliding — overlapping fixed-window chunking (RAG shape)
# ---------------------------------------------------------------------------

def chunk_sliding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Sliding-window chunking of ANY text column (text_chunk_sliding's
    algebra with the geometry parameterized) — window-char chunks every
    stride chars, each with index, offset, actual length, and md5.
    chunk_text gives the disjoint-block variant; overlap preserves
    boundary context for retrieval.  Returns (id_col, chunk_idx,
    start_pos, chunk_len, chunk_md5).

    Empty (or NULL) texts yield no chunks — the filter below is load-
    bearing: an unguarded sequence(1, 0) raises at runtime in Spark
    while SQL generate_series(1, 0) returns no rows (r12 ADVICE).

    Scale: map-only sequence+explode fused into the scan; no shuffle."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    check_free([id_col, text_col], "i")
    starts = F.sequence(F.lit(1), F.length(text_col), F.lit(stride))
    ex = df.filter(F.length(text_col) >= 1).select(
        id_col, text_col, F.explode(starts).alias("i")
    )
    chunk = F.col(text_col).substr(F.col("i"), F.lit(window))
    return ex.select(
        id_col,
        F.expr(f"CAST((i - 1) div {stride} + 1 AS INT)").alias("chunk_idx"),
        F.col("i").cast("long").alias("start_pos"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


@register(
    "text_chunk_sliding",
    oracle=f"""
    SELECT doc_id,
           CAST((i - 1) // {CHUNK_S} + 1 AS INT) AS chunk_idx,
           CAST(i AS BIGINT) AS start_pos,
           CAST(length(substr(text, CAST(i AS INT), {CHUNK_W})) AS BIGINT)
             AS chunk_len,
           md5(substr(text, CAST(i AS INT), {CHUNK_W})) AS chunk_md5
    FROM documents, LATERAL (
      SELECT unnest(generate_series(1, length(text), {CHUNK_S})) AS i) t
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of every document — {CHUNK_W}-char
    windows at {CHUNK_S}-char stride ({CHUNK_W - CHUNK_S}-char overlap),
    the standard RAG/embedding-index preprocessing shape (text_chunk's
    fixed disjoint blocks cannot preserve boundary context; overlap
    can).  Every chunk carries its 1-based index, start offset, actual
    length (the tail chunk is shorter), and md5 — the chunk identity a
    downstream embedding/dedup stage keys on.  Returns (doc_id,
    chunk_idx, start_pos, chunk_len, chunk_md5).

    Scale: pure map-side sequence+explode fused into the scan — output
    rows ~ n_chars/{CHUNK_S} per doc, no shuffle at all (chunking is
    embarrassingly parallel); the md5 is a JVM builtin, no UDF.

    The length >= 1 filter is load-bearing, not an optimization: an
    empty text makes Spark's sequence(1, 0, stride) THROW while the
    oracle's generate_series(1, 0, stride) yields no rows (r12 ADVICE) —
    filtering first gives both engines the same no-chunks answer."""
    return chunk_sliding(
        table(spark, sf_dir, "documents"), "doc_id", "text", CHUNK_W, CHUNK_S
    )


# ---------------------------------------------------------------------------
# scd2_apply_changes — SCD2 batch merge (close + open versions)
# ---------------------------------------------------------------------------

SCD2_EPOCH = "1995-01-01"
SCD2_NEW_SEGMENT = "WINBACK"


@register(
    "scd2_apply_changes",
    oracle=f"""
    WITH chg AS (
      SELECT c_custkey, c_mktsegment,
             CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS change_date
      FROM customer JOIN orders ON o_custkey = c_custkey
      WHERE c_acctbal < 0
      GROUP BY 1, 2
    )
    SELECT c_custkey AS custkey, c_mktsegment AS mktsegment,
           '{SCD2_EPOCH}' AS valid_from,
           CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
    FROM customer
    WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
    UNION ALL
    SELECT c_custkey, c_mktsegment, '{SCD2_EPOCH}', change_date, false
    FROM chg
    UNION ALL
    SELECT c_custkey, '{SCD2_NEW_SEGMENT}', change_date,
           CAST(NULL AS VARCHAR), true
    FROM chg
    """,
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change batch to a type-2 slowly-changing dimension — the
    MERGE-shaped warehouse staple scd2_history (build from events) and
    scd2_asof_lookup (query) both assume someone runs: for every
    changed key, CLOSE the current version at the change date and OPEN
    a new current version; untouched keys pass through.  Change batch
    here: customers in arrears (acctbal < 0) move to the
    {SCD2_NEW_SEGMENT} segment effective their latest order date.
    Returns the full post-merge dimension (custkey, mktsegment,
    valid_from, valid_to, is_current) — changed keys carry exactly two
    versions, a closed one and an open one.

    Scale: the change set aggregates orders ONCE keyed by custkey and
    joins the dimension on its key; pass-through rows come from an
    anti-join on the same key — three shuffle-free-after-one-exchange
    branches unioned, the exact shape of a Delta/Iceberg MERGE's
    matched/not-matched outputs.  Dates surface as ISO strings (the
    driver canonicalizer convention: DuckDB DATEs round-trip through
    pandas as midnight timestamps, Spark DATEs as date objects)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    last_order = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(F.col("o_orderdate").cast("date"))
        .cast("string")
        .alias("change_date")
    )
    chg = pin(
        c.filter(F.col("c_acctbal") < 0)
        .join(last_order, "c_custkey")
        .select("c_custkey", "c_mktsegment", "change_date")
    )
    epoch = F.lit(SCD2_EPOCH)
    null_date = F.lit(None).cast("string")
    unchanged = c.join(chg.select("c_custkey"), "c_custkey", "anti").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        epoch.alias("valid_from"),
        null_date.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed = chg.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        epoch.alias("valid_from"),
        F.col("change_date").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = chg.select(
        F.col("c_custkey").alias("custkey"),
        F.lit(SCD2_NEW_SEGMENT).alias("mktsegment"),
        F.col("change_date").alias("valid_from"),
        null_date.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(closed).unionByName(opened)


# ---------------------------------------------------------------------------
# dedup_url_canonical — URL canonicalization + canonical-key dedup report
# ---------------------------------------------------------------------------

#: canonicalization steps, applied in order — (pattern, replacement).
#: Every pattern matches at most the intended spans in both engines
#: (Java regex and RE2 agree on these constructs); Spark's
#: regexp_replace is always global, the oracle passes 'g' explicitly.
URL_CANON_STEPS: tuple[tuple[str, str], ...] = (
    (r"#.*$", ""),                      # drop fragment
    (r"[?&]utm_[a-z]+=[^&#]*", ""),     # drop tracking params
    # utm-FIRST repair: stripping '?utm_a=1' from 'x?utm_a=1&id=2'
    # leaves the malformed 'x&id=2' — restore the first separator to
    # '?' so 'x?utm_a=1&id=2' and 'x?id=2' share one canonical key
    # (r12 ADVICE).  The ^ anchor fires at most once even under the
    # oracle's 'g' flag; replacement backref is $1 here, \1 in RE2
    # (_url_canon_sql translates).
    (r"^([^?]*)&", "$1?"),
    (r":443/", "/"),                    # default https port (mid-URL)
    (r":443$", ""),                     # default https port (tail)
    (r"^https://www\.", "https://"),    # canonical host: no www
    (r"/$", ""),                        # trailing slash
)


def _url_canon_sql(expr: str) -> str:
    # DuckDB '...' literals keep backslashes verbatim (no E'' escaping),
    # so the regex text embeds as-is; only quotes need doubling.  Group
    # backreferences differ by engine: Java replacement says $1, RE2
    # says \1 — steps are authored in Java form and translated here.
    out = f"lower({expr})"
    for pat, repl in URL_CANON_STEPS:
        p = pat.replace("'", "''")
        r = repl.replace("$1", r"\1")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


def _url_canon_col(col):
    out = F.lower(col)
    for pat, repl in URL_CANON_STEPS:
        out = F.regexp_replace(out, pat, repl)
    return out


def _raw_url_col(key: str = "c_custkey"):
    """The four deterministic dirty-URL variants over a customer key —
    shared by the op and the API twin test so both sides exercise the
    identical raw strings."""
    item = (F.col(key) % 50).cast("string")
    variant = F.col(key) % 4
    return (
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://Example.COM:443/item/"), item,
                F.lit("?utm_source=x#frag"),
            ),
        )
        .when(
            variant == 1,
            F.concat(F.lit("https://example.com/item/"), item, F.lit("/")),
        )
        .when(
            variant == 2,
            F.concat(F.lit("https://www.example.com/item/"), item),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/item/"), item,
                F.lit("?id=1&utm_campaign=z"),
            )
        )
    )


_RAW_URL_SQL = f"""
      CASE c_custkey % 4
        WHEN 0 THEN 'https://Example.COM:443/item/' || (c_custkey % 50)
                    || '?utm_source=x#frag'
        WHEN 1 THEN 'https://example.com/item/' || (c_custkey % 50) || '/'
        WHEN 2 THEN 'https://www.example.com/item/' || (c_custkey % 50)
        ELSE 'https://example.com/item/' || (c_custkey % 50)
             || '?id=1&utm_campaign=z'
      END
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT c_custkey, {_RAW_URL_SQL} AS url FROM customer
    ), canon AS (
      SELECT c_custkey, url, {_url_canon_sql("url")} AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
           CAST(min(c_custkey) AS BIGINT) AS keep_custkey
    FROM canon GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-key dedup — the CommonCrawl-
    style provenance dedup a web corpus runs BEFORE content dedup:
    scheme-case, default :443 port, www prefix, utm_* tracking params,
    fragments, and trailing slashes all collapse to one canonical URL
    (URL_CANON_STEPS, the identical regex chain both engines), then
    records group on the canonical key with the smallest id kept.  URLs
    are assembled deterministically from customer attributes in four
    dirty variants so several raws provably collapse.  Returns
    (canonical_url, n_urls, n_distinct_raw, keep_custkey).

    Scale: the canonical form is a map-side regexp chain fused into the
    scan (no UDF); the dedup is ONE hash aggregate keyed by canonical
    URL — the same economics as dedup_exact's sha-groupBy.  Note the
    fixture's paths are case-free so lower() stands in for host-only
    lowercasing; a production chain lowercases scheme+authority only."""
    c = table(spark, sf_dir, "customer")
    url = _raw_url_col()
    canon = c.select(
        "c_custkey",
        url.alias("url"),
        _url_canon_col(url).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.count_distinct("url").cast("long").alias("n_distinct_raw"),
        F.min("c_custkey").cast("long").alias("keep_custkey"),
    )
