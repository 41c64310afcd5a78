"""Round-8 additions, batch 1 — corpus duplication curves, temporal
novelty, quality-rule ablation, annealed mixing, Heaps-law fits,
vocabulary coverage/inequality, embedding label separation.

Reference semantics: SURVEY §2 extension policy (mount empty).  These
are the corpus-design diagnostics a training-data team runs between
"the crawl landed" and "the mixture is frozen": how much duplicate
mass each n-gram order sees (corpus_dedup_curve), whether late
documents still contribute new language (text_prefix_novelty /
heaps_law_fit), which quality rule actually earns its kills
(quality_rule_ablation), what a two-phase quality-annealed schedule
does to source shares (mix_anneal_schedule), how top-heavy the
vocabulary is (vocab_topk_coverage / vocab_gini), and whether labels
separate in embedding space (embed_label_separation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._helpers import pin, DEC, he4, r4, sql_he4
from .curation_extras import (
    QG_MAX_TOKS,
    QG_MIN_TOKS,
    QG_TTR_DEN,
    QG_TTR_NUM,
    QG_WLEN_HI,
    QG_WLEN_LO,
)

#: n-gram orders measured by the duplication curve.
DEDUP_CURVE_ORDERS = (1, 2, 3)

#: top-k cut points for vocabulary coverage.
VOCAB_TOPK = (10, 100, 1000)

#: 1e6 fixed-point scale for ln() quantization (events_entropy idiom).
LN_SCALE = 1_000_000

D0 = "decimal(38,0)"


def _he6(col):
    """1e6 half-up quantization presented as double — same IEEE tree in
    both engines (the he4 discipline at 6 dp, for small magnitudes)."""
    return F.floor(col * 1_000_000 + F.lit(0.5)).cast("long") / 1_000_000.0


def _sql_he6(expr: str) -> str:
    return f"(CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT) / 1000000.0)"


# ---------------------------------------------------------------------------
# corpus_dedup_curve — duplicate mass vs n-gram order, per source
# ---------------------------------------------------------------------------

def _ngram_sql(n: int) -> str:
    # series bound 128 mirrors text_novelty's oracle: documents cap at
    # ~100 whitespace tokens in every driver SF.
    join = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
      SELECT source, {n} AS n, {join} AS g
      FROM t, (SELECT unnest(generate_series(1, 128)) AS i) s
      WHERE i + {n - 1} <= len(toks)
    """


@register(
    "corpus_dedup_curve",
    oracle=f"""
    WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    grams AS ({" UNION ALL ".join(_ngram_sql(n) for n in DEDUP_CURVE_ORDERS)})
    SELECT source, CAST(n AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS total_ngrams,
           CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
           {sql_he4("1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*)")}
             AS dup_rate
    FROM grams GROUP BY 1, 2
    """,
)
def corpus_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-mass curve: for each source and n-gram order n∈{1,2,3},
    the share of n-gram OCCURRENCES that are repeats of an already-seen
    n-gram (1 − distinct/total).  The curve's decay rate is the
    standard first look at how templated a source is — natural text
    de-duplicates fast with n; boilerplate stays flat — and it prices
    what an n-gram-level dedup pass would remove before anyone runs
    one.  One tokenize scan builds all three orders as array slices
    fused in the same projection (no per-order re-scan); the only
    shuffle is the (source, n, gram) distinct, postings-sized and
    map-side combinable.  dup_rate is a ratio of exact integers closed
    with the shared floor(x·1e4+0.5) tree."""
    d = table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("toks")
    )
    grams = [
        F.expr(
            f"transform(sequence(1, greatest(size(toks) - {n - 1}, 0)), "
            f"i -> concat_ws(' ', slice(toks, i, {n})))"
        ).alias(f"g{n}")
        for n in DEDUP_CURVE_ORDERS
    ]
    base = d.select("source", *grams)
    stacked = base.select(
        "source",
        F.expr(
            "stack({}, {}) AS (n, gs)".format(
                len(DEDUP_CURVE_ORDERS),
                ", ".join(f"{n}, g{n}" for n in DEDUP_CURVE_ORDERS),
            )
        ),
    ).select("source", F.col("n").cast("long").alias("n"), F.explode("gs").alias("g"))
    return stacked.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("total_ngrams"),
        F.count_distinct("g").cast("long").alias("distinct_ngrams"),
    ).select(
        "source",
        "n",
        "total_ngrams",
        "distinct_ngrams",
        he4(
            F.lit(1.0)
            - F.col("distinct_ngrams").cast("double") / F.col("total_ngrams")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# text_prefix_novelty — per-doc share of trigrams first seen HERE
# ---------------------------------------------------------------------------

@register(
    "text_prefix_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tri AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
      FROM t, (SELECT unnest(generate_series(1, 128)) AS i) s
      WHERE i + 2 <= len(toks)
    ), first_seen AS (
      SELECT g, min(doc_id) AS fd FROM tri GROUP BY g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count_if(fd = doc_id) AS BIGINT) AS n_first_here,
           {sql_he4("CAST(count_if(fd = doc_id) AS DOUBLE) / count(*)")}
             AS prefix_novelty
    FROM tri JOIN first_seen USING (g)
    GROUP BY doc_id
    """,
)
def text_prefix_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal novelty per document: the share of its distinct word
    trigrams whose FIRST corpus occurrence (min doc_id) is this very
    document — the in-order "is the stream still saying new things"
    signal (text_novelty measures corpus-uniqueness; this measures
    arrival order, the quantity that decides when to stop acquiring a
    source).  The first-occurrence trick keeps it one combinable
    min-per-trigram aggregate (vocab_growth's kernel) plus a postings
    equi-join back — no window, no per-prefix rescan, no quadratic
    anything; at 100 TB the trigram postings shuffle dominates and
    scales with token count."""
    d = table(spark, sf_dir, "documents")
    tri = d.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(toks) - 2, 0)), "
                    "i -> concat_ws(' ', slice(toks, i, 3)))"
                )
            )
        ).alias("g"),
    )
    first = tri.groupBy("g").agg(F.min("doc_id").alias("fd"))
    return tri.join(first, "g").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
        .cast("long")
        .alias("n_first_here"),
    ).select(
        "doc_id",
        "n_trigrams",
        "n_first_here",
        he4(
            F.col("n_first_here").cast("double") / F.col("n_trigrams")
        ).alias("prefix_novelty"),
    )


# ---------------------------------------------------------------------------
# quality_rule_ablation — which Gopher rule earns its kills
# ---------------------------------------------------------------------------

_QG_FLAGS_SQL = f"""
      SELECT CASE WHEN n_toks < {QG_MIN_TOKS} THEN 1 ELSE 0 END AS f_short,
             CASE WHEN n_toks > {QG_MAX_TOKS} THEN 1 ELSE 0 END AS f_long,
             CASE WHEN (n_chars - n_toks + 1) < {QG_WLEN_LO} * n_toks
                    OR (n_chars - n_toks + 1) > {QG_WLEN_HI} * n_toks
                  THEN 1 ELSE 0 END AS f_wlen,
             CASE WHEN {QG_TTR_DEN} * n_dist < {QG_TTR_NUM} * n_toks
                  THEN 1 ELSE 0 END AS f_ttr
      FROM (SELECT len(string_split(text, ' ')) AS n_toks,
                   length(text) AS n_chars,
                   len(list_distinct(string_split(lower(text), ' '))) AS n_dist
            FROM documents)
"""


@register(
    "quality_rule_ablation",
    oracle=f"""
    WITH flags AS ({_QG_FLAGS_SQL}),
    m AS (
      SELECT count(*) AS n_docs,
             sum(f_short) AS k_short, sum(f_long) AS k_long,
             sum(f_wlen) AS k_wlen, sum(f_ttr) AS k_ttr,
             sum(CASE WHEN f_short = 1 AND f_long + f_wlen + f_ttr = 0
                      THEN 1 ELSE 0 END) AS u_short,
             sum(CASE WHEN f_long = 1 AND f_short + f_wlen + f_ttr = 0
                      THEN 1 ELSE 0 END) AS u_long,
             sum(CASE WHEN f_wlen = 1 AND f_short + f_long + f_ttr = 0
                      THEN 1 ELSE 0 END) AS u_wlen,
             sum(CASE WHEN f_ttr = 1 AND f_short + f_long + f_wlen = 0
                      THEN 1 ELSE 0 END) AS u_ttr,
             sum(CASE WHEN f_short + f_long + f_wlen + f_ttr > 0
                      THEN 1 ELSE 0 END) AS any_fail
      FROM flags
    )
    SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
           CAST(n_unique_kill AS BIGINT) AS n_unique_kill,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_any_fail AS BIGINT) AS n_any_fail,
           CASE WHEN n_fail > 0
                THEN {_sql_he6("CAST(n_unique_kill AS DOUBLE) / n_fail")}
           END AS unique_share
    FROM (
      SELECT 'short' AS rule, k_short AS n_fail, u_short AS n_unique_kill,
             n_docs, any_fail AS n_any_fail FROM m
      UNION ALL
      SELECT 'long', k_long, u_long, n_docs, any_fail FROM m
      UNION ALL
      SELECT 'wordlen', k_wlen, u_wlen, n_docs, any_fail FROM m
      UNION ALL
      SELECT 'ttr', k_ttr, u_ttr, n_docs, any_fail FROM m
    )
    """,
)
def quality_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ablation of the doc_quality_gate funnel: for each of the
    four Gopher-style rules, how many documents it rejects (n_fail) and
    how many it UNIQUELY rejects (n_unique_kill — docs no other rule
    would have caught).  A rule with kills but no unique kills is
    redundant and can be dropped without changing the kept set — the
    question doc_quality_gate's sequential funnel cannot answer.  Same
    integer cross-multiplication rule math as the certified gate (no FP
    boundary can disagree); one scan, one 1-row aggregate, stacked to 4
    rule rows at the end — output is constant-sized at any corpus
    scale."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    n_chars = F.length("text")
    n_dist = F.size(F.array_distinct(F.split(F.lower(F.col("text")), " ")))
    alpha = n_chars - n_toks + 1
    f_short = F.when(n_toks < QG_MIN_TOKS, 1).otherwise(0)
    f_long = F.when(n_toks > QG_MAX_TOKS, 1).otherwise(0)
    f_wlen = F.when(
        (alpha < QG_WLEN_LO * n_toks) | (alpha > QG_WLEN_HI * n_toks), 1
    ).otherwise(0)
    f_ttr = F.when(QG_TTR_DEN * n_dist < QG_TTR_NUM * n_toks, 1).otherwise(0)
    flags = d.select(
        f_short.alias("f_short"),
        f_long.alias("f_long"),
        f_wlen.alias("f_wlen"),
        f_ttr.alias("f_ttr"),
    )
    names = ["short", "long", "wlen", "ttr"]

    def uniq(i: int):
        others = sum(
            F.col(f"f_{names[j]}") for j in range(len(names)) if j != i
        )
        return F.sum(
            F.when((F.col(f"f_{names[i]}") == 1) & (others == 0), 1).otherwise(0)
        )

    m = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(f"f_{n}").alias(f"k_{n}") for n in names],
        *[uniq(i).alias(f"u_{n}") for i, n in enumerate(names)],
        F.sum(
            F.when(
                F.col("f_short") + F.col("f_long") + F.col("f_wlen")
                + F.col("f_ttr")
                > 0,
                1,
            ).otherwise(0)
        ).alias("any_fail"),
    )
    out_names = {"short": "short", "long": "long", "wlen": "wordlen", "ttr": "ttr"}
    stacked = m.select(
        F.expr(
            "stack(4, {}) AS (rule, n_fail, n_unique_kill)".format(
                ", ".join(
                    f"'{out_names[n]}', k_{n}, u_{n}" for n in names
                )
            )
        ),
        F.col("n_docs"),
        F.col("any_fail").alias("n_any_fail"),
    )
    return stacked.select(
        "rule",
        F.col("n_fail").cast("long").alias("n_fail"),
        F.col("n_unique_kill").cast("long").alias("n_unique_kill"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_any_fail").cast("long").alias("n_any_fail"),
        F.when(
            F.col("n_fail") > 0,
            _he6(F.col("n_unique_kill").cast("double") / F.col("n_fail")),
        ).alias("unique_share"),
    )


# ---------------------------------------------------------------------------
# mix_anneal_schedule — two-phase quality-annealed source shares
# ---------------------------------------------------------------------------

#: blend weight of the quality-gated phase in the final schedule (per
#: mille, integer so the blend closes in one exact rational).
ANNEAL_P2_PERMILLE = 700


@register(
    "mix_anneal_schedule",
    oracle=f"""
    WITH feat AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_toks,
             length(text) AS n_chars,
             len(list_distinct(string_split(lower(text), ' '))) AS n_dist
      FROM documents
    ), flags AS (
      SELECT source, n_toks,
             CASE WHEN n_toks >= {QG_MIN_TOKS} AND n_toks <= {QG_MAX_TOKS}
                   AND (n_chars - n_toks + 1) >= {QG_WLEN_LO} * n_toks
                   AND (n_chars - n_toks + 1) <= {QG_WLEN_HI} * n_toks
                   AND {QG_TTR_DEN} * n_dist >= {QG_TTR_NUM} * n_toks
                  THEN 1 ELSE 0 END AS pass
      FROM feat
    ), per_src AS (
      SELECT source,
             CAST(sum(n_toks) AS BIGINT) AS tok_all,
             CAST(sum(CASE WHEN pass = 1 THEN n_toks ELSE 0 END) AS BIGINT)
               AS tok_pass
      FROM flags GROUP BY source
    ), tot AS (
      SELECT sum(tok_all) AS t_all, sum(tok_pass) AS t_pass FROM per_src
    )
    SELECT source, tok_all, tok_pass,
           {_sql_he6("CAST(tok_all AS DOUBLE) / t_all")} AS share_phase1,
           {_sql_he6("CAST(tok_pass AS DOUBLE) / t_pass")} AS share_phase2,
           {_sql_he6(
               f"({1000 - ANNEAL_P2_PERMILLE} * (CAST(tok_all AS DOUBLE) / t_all)"
               f" + {ANNEAL_P2_PERMILLE} * (CAST(tok_pass AS DOUBLE) / t_pass))"
               " / 1000"
           )} AS share_blended
    FROM per_src, tot
    """,
)
def mix_anneal_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase annealed mixing schedule: phase 1 trains on every
    source's full token mass; phase 2 restricts to documents passing
    all four doc_quality_gate rules (the end-of-training anneal onto
    high-quality data).  Per source this reports both phase shares and
    the {ANNEAL_P2_PERMILLE}/1000-blended effective share — the number
    a capacity plan actually consumes.  Token counts are exact
    integers; shares are single-division rationals closed with the
    shared 1e6 fixed-point tree; the totals row is a broadcast
    crossJoin of one aggregate row, so the whole op is one tokenize
    scan + a |sources|-row join at any corpus size."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    n_chars = F.length("text")
    n_dist = F.size(F.array_distinct(F.split(F.lower(F.col("text")), " ")))
    alpha = n_chars - n_toks + 1
    ok = (
        (n_toks >= QG_MIN_TOKS)
        & (n_toks <= QG_MAX_TOKS)
        & (alpha >= QG_WLEN_LO * n_toks)
        & (alpha <= QG_WLEN_HI * n_toks)
        & (QG_TTR_DEN * n_dist >= QG_TTR_NUM * n_toks)
    )
    per_src = d.select(
        "source",
        n_toks.alias("nt"),
        F.when(ok, n_toks).otherwise(0).alias("npass"),
    ).groupBy("source").agg(
        F.sum("nt").cast("long").alias("tok_all"),
        F.sum("npass").cast("long").alias("tok_pass"),
    )
    tot = per_src.agg(
        F.sum("tok_all").alias("t_all"), F.sum("tok_pass").alias("t_pass")
    )
    s1 = F.col("tok_all").cast("double") / F.col("t_all")
    s2 = F.col("tok_pass").cast("double") / F.col("t_pass")
    blend = (
        (1000 - ANNEAL_P2_PERMILLE) * s1 + ANNEAL_P2_PERMILLE * s2
    ) / 1000
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok_all",
        "tok_pass",
        _he6(s1).alias("share_phase1"),
        _he6(s2).alias("share_phase2"),
        _he6(blend).alias("share_blended"),
    )


# ---------------------------------------------------------------------------
# heaps_law_fit — per-source Heaps exponent from the growth curve
# ---------------------------------------------------------------------------

@register(
    "heaps_law_fit",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), per_doc AS (
      SELECT source, doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1, 2
    ), first_doc AS (
      SELECT source, term, min(doc_id) AS fd FROM toks GROUP BY 1, 2
    ), new_terms AS (
      SELECT source, fd AS doc_id, CAST(count(*) AS BIGINT) AS new_terms
      FROM first_doc GROUP BY 1, 2
    ), j AS (
      SELECT p.source, p.doc_id, p.n_tokens,
             coalesce(n.new_terms, 0) AS new_terms
      FROM per_doc p LEFT JOIN new_terms n
        ON p.source = n.source AND p.doc_id = n.doc_id
    ), curve AS (
      SELECT source,
             sum(n_tokens) OVER w AS cum_tokens,
             sum(new_terms) OVER w AS cum_vocab
      FROM j
      WINDOW w AS (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING)
    ), q AS (
      SELECT source,
             CAST(floor(ln(CAST(cum_tokens AS DOUBLE)) * {LN_SCALE} + 0.5)
                  AS BIGINT) AS x,
             CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * {LN_SCALE} + 0.5)
                  AS BIGINT) AS y
      FROM curve
    ), m AS (
      SELECT source, count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM q GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_points,
           {sql_he4('''CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)''')}
             AS heaps_beta
    FROM m
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law exponent per source: the OLS slope of ln(cum vocab) on
    ln(cum tokens) along the source's own growth curve (vocab_growth's
    first-occurrence kernel, per source).  V = K·Nᵝ with β ≈ 0.4-0.6
    for natural language; a source whose β has collapsed toward 0 is
    recycling its vocabulary — the quantitative "this crawl is
    exhausted" number that the raw curve only shows by eye.

    Scale: first-occurrence is one combinable min per (source, term);
    the per-source running sums ride grouped_range_prefix_sum's
    bucketed kernel (doc_id is unique within a source, so ROWS == RANGE
    and integer addends make accumulation order irrelevant); ln values
    quantize to 1e6 fixed-point so the closing regression moments are
    exact decimal integers (corpus_zipf_slope's discipline)."""
    from ._global_order import GLOBAL_WINDOW_GATE, grouped_range_prefix_sum

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    per_doc = toks.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    new_terms = (
        toks.groupBy("source", "term")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy("source", F.col("fd").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    # pinned: the per-doc curve feeds BOTH prefix-sum kernel calls —
    # un-pinned each re-tokenized the corpus (plan-audit, SCALE.md §50).
    j = pin(per_doc.join(new_terms, ["source", "doc_id"], "left").select(
        "source",
        "doc_id",
        "n_tokens",
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
    ))
    # r14 small-path opt-in (guide §1.2): j is one row per (source,
    # doc) <= the documents footer row count; below the gate each call
    # drops its quantile action + two pins (this op pays the kernel
    # TWICE, so the saving doubles).
    small = catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "documents")
    ct = grouped_range_prefix_sum(
        j, ["source"], "doc_id", "n_tokens", out="cum_tokens", small=small
    ).select("source", "doc_id", "cum_tokens")
    cv = grouped_range_prefix_sum(
        j, ["source"], "doc_id", "new_terms", out="cum_vocab", small=small
    ).select("source", "doc_id", "cum_vocab")
    curve = ct.join(cv, ["source", "doc_id"])
    x = F.floor(
        F.log(F.col("cum_tokens").cast("double")) * LN_SCALE + 0.5
    ).cast("long")
    y = F.floor(
        F.log(F.col("cum_vocab").cast("double")) * LN_SCALE + 0.5
    ).cast("long")
    q = curve.select("source", x.alias("x"), y.alias("y"))
    m = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(D0)).alias("sx"),
        F.sum(F.col("y").cast(D0)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(D0)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(D0)).alias("sxy"),
    )
    nd = F.col("n").cast(D0)
    num = nd * F.col("sxy") - F.col("sx").cast(D0) * F.col("sy")
    den = nd * F.col("sxx") - F.col("sx").cast(D0) * F.col("sx")
    return m.select(
        "source",
        F.col("n").cast("long").alias("n_points"),
        # he4, not r4: raw ratio can tie at 4 dp (changepoint_binary class)
        he4(num.cast("double") / den.cast("double")).alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# vocab_topk_coverage — token mass covered by the top-k vocabulary
# ---------------------------------------------------------------------------

@register(
    "vocab_topk_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    ), ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rnk,
             sum(freq) OVER () AS total
      FROM tf
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n_terms_used,
           CAST(max(total) AS BIGINT) AS total_tokens,
           {sql_he4("CAST(sum(freq) AS DOUBLE) / max(total)")} AS coverage
    FROM ranked, (VALUES {", ".join(f"({k})" for k in VOCAB_TOPK)}) AS ks(k)
    WHERE rnk <= k
    GROUP BY k
    """,
)
def vocab_topk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary truncation design table: for k∈{VOCAB_TOPK}, the share
    of total token mass the top-k most frequent terms cover — the
    tokenizer-budget curve (how much of the stream a k-entry vocab
    explains before falling back to bytes).  Rank ties break on term so
    the cut is deterministic.  One tokenize scan reduces to the
    |vocab|-row frequency aggregate; the rank window and the per-k
    conditional sums ride that model-sized spine (§9 class — vocabulary,
    not corpus, sizes the window input), so corpus growth only deepens
    the first combinable aggregate."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ranked = tf.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "term"))
        .alias("rnk"),
    )
    total = tf.agg(F.sum("freq").alias("total"))
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in VOCAB_TOPK])).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .where(F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_used"),
            F.sum("freq").alias("covered"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("k").cast("int").alias("k"),
            "n_terms_used",
            F.col("total").cast("long").alias("total_tokens"),
            he4(F.col("covered").cast("double") / F.col("total")).alias(
                "coverage"
            ),
        )
    )


# ---------------------------------------------------------------------------
# vocab_gini — inequality of the term-frequency distribution, per source
# ---------------------------------------------------------------------------

@register(
    "vocab_gini",
    oracle="""
    WITH tf AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT source, freq,
             row_number() OVER (PARTITION BY source
                                ORDER BY freq, term) AS i
      FROM tf
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(floor(((2.0 * sum(i * freq)) / (count(*) * sum(freq))
                       - (count(*) + 1.0) / count(*)) * 1e6 + 0.5)
                AS BIGINT) AS gini6
    FROM ranked GROUP BY source
    """,
)
def vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of each source's term-frequency distribution —
    lexical inequality as a single number (0 = perfectly even use of
    the vocabulary, →1 = a few terms dominate).  Complements
    corpus_zipf_slope: the slope fits the whole rank curve, the Gini
    weighs its mass, and templated sources stand out on either.  Exact
    rank formula over integer frequencies (agg_gini's kernel on the
    vocab aggregate): tie-safe (freq, term) ranks, int64 sums,
    1e6-quantized close.  The rank window is per-source over the
    vocab-sized aggregate — model-sized spine, never corpus-sized."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ranked = tf.select(
        "source",
        "freq",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("freq", "term"))
        .alias("i"),
    )
    n = F.count(F.lit(1))
    return ranked.groupBy("source").agg(
        n.cast("long").alias("n_terms"),
        F.floor(
            (
                (2.0 * F.sum(F.col("i") * F.col("freq")))
                / (n * F.sum("freq"))
                - (n + F.lit(1.0)) / n
            )
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("gini6"),
    )


# ---------------------------------------------------------------------------
# embed_label_separation — intra/inter centroid separation per label
# ---------------------------------------------------------------------------

_E_SQL = """
      SELECT vec_id, label,
             CAST(unnest(embedding) AS DOUBLE) AS x,
             unnest(range(0, len(embedding))) AS pos
      FROM embeddings
"""


@register(
    "embed_label_separation",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    cent AS (
      SELECT label, pos,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS c
      FROM e GROUP BY 1, 2
    ), sq AS (
      SELECT label,
             CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS ssq,
             count(DISTINCT vec_id) AS n_vecs
      FROM e GROUP BY label
    ), cnorm AS (
      SELECT label,
             CAST(sum(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS c2
      FROM cent GROUP BY label
    ), pair AS (
      SELECT a.label AS la, b.label AS lb,
             CAST(sum(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(38,12)))
                  AS DOUBLE) AS d2
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      GROUP BY 1, 2
    ), best AS (
      SELECT la, min(d2) AS inter_d2 FROM pair GROUP BY la
    ), nearest AS (
      SELECT p.la, min(p.lb) AS nearest_label, min(b.inter_d2) AS inter_d2
      FROM pair p JOIN best b ON p.la = b.la AND p.d2 = b.inter_d2
      GROUP BY p.la
    )
    SELECT s.label, CAST(s.n_vecs AS BIGINT) AS n_vecs,
           {_sql_he6("s.ssq / s.n_vecs - cn.c2")} AS intra_var,
           i.nearest_label,
           {_sql_he6("i.inter_d2")} AS inter_d2,
           {_sql_he6("i.inter_d2 / (s.ssq / s.n_vecs - cn.c2)")}
             AS separation
    FROM sq s JOIN cnorm cn ON s.label = cn.label
    JOIN nearest i ON s.label = i.la
    """,
)
def embed_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label separation audit of the embedding space: mean squared
    distance of a label's vectors to their own centroid (intra_var,
    via the identity E‖x−c‖² = E‖x‖² − ‖c‖² — no vector-to-centroid
    join needed), squared distance from the centroid to its NEAREST
    other centroid (inter_d2, with the tie-safe min_by argmin), and
    their ratio — the Fisher-style "are these labels actually separable"
    score read before trusting any label-conditioned sampling or
    kNN-label evaluation.  One posexplode scan feeds both the centroid
    and the sum-of-squares aggregates (decimal-quantized, combinable);
    the centroid pair table is |labels|²×dims — model-sized at any
    corpus scale."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "vec_id", "label", "pos", F.col("xf").cast("double").alias("x")
    )
    # pinned: the |labels| x dims centroid frame feeds cnorm + both pair
    # sides — un-pinned each re-ran the posexplode aggregate
    # (plan-audit, SCALE.md §50).
    cent = pin(e.groupBy("label", "pos").agg(
        (F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)))
        .alias("c")
    ))
    sq = e.groupBy("label").agg(
        F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double").alias("ssq"),
        F.count_distinct("vec_id").cast("long").alias("n_vecs"),
    )
    cnorm = cent.groupBy("label").agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,12)"))
        .cast("double")
        .alias("c2")
    )
    a = cent.select(
        F.col("label").alias("la"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("lb"), "pos", F.col("c").alias("cb")
    )
    pair = (
        a.join(b, "pos")
        .where(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(
                (
                    (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("d2")
        )
    )
    best = pair.groupBy("la").agg(F.min("d2").alias("inter_d2"))
    inter = (
        pair.join(best, "la")
        .where(F.col("d2") == F.col("inter_d2"))
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.min("lb").alias("nearest_label"),
            F.min("inter_d2").alias("inter_d2"),
        )
    )
    intra = F.col("ssq") / F.col("n_vecs") - F.col("c2")
    return (
        sq.join(cnorm, "label")
        .join(inter, "label")
        .select(
            "label",
            "n_vecs",
            _he6(intra).alias("intra_var"),
            "nearest_label",
            _he6(F.col("inter_d2")).alias("inter_d2"),
            _he6(F.col("inter_d2") / intra).alias("separation"),
        )
    )
