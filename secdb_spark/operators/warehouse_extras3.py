"""Round-6 additions — SURVEY §2.P: LSH candidate generation certified
exactly, collocation mining, higher-moment statistics, Pareto frontier,
interval islands, IQR anomaly gates, calendar-spine audits, grouping-id
surface, error-tolerant casts, and seasonality heatmaps.

Design rules as everywhere in this package: one declarative DataFrame
plan per op (Catalyst owns the physical strategy), broadcast what is
model-sized, shuffle only on the op's natural key, every float that
reaches the driver either integer-quantized or produced by an identical
single-IEEE-op expression tree in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, bucketed_prefix_min
from ._helpers import pin, dsum, r4, sql_dsum
from .warehouse_extras2 import MINHASH_SEEDS

LSH_ROWS_PER_BAND = 2  # 4 md5-min sigs -> 2 bands of 2 rows each
LSH_BANDS = len(MINHASH_SEEDS) // LSH_ROWS_PER_BAND


def _sig_sql(i: int, s: str) -> str:
    return f"min(md5('{s}' || term)) AS sig{i}"




def _lsh_group_sigs(spark: SparkSession, sf_dir: str):
    """Group contraction + per-group banded signature keys (r13 group
    collapse, r14 single-pin sigs; guide §2.3 "aggregate before you
    shuffle"): minhash signatures are functions of the distinct TERM
    SET, so docs sharing a set are interchangeable in every band —
    collapse each set to one group node (the sf0.1 corpus: 5000 docs ->
    ~3935 groups).  Signatures build MAP-SIDE per group (array_min over
    an md5 transform — no explode, no per-doc aggregate) and the 2 band
    keys pin ONCE (gid, bk0, bk1, m, nt — one row per group), so the
    md5 transforms run one time for EVERY consumer (band stack, banded
    join sides, all-pairs sides, eval weights) instead of once per
    consumer.  Returns (groups = one row per set with its sorted member
    ids + terms, gk = the pinned key frame)."""
    from .llm_pipeline import _spread_docs

    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    sets_per_doc = d.select(
        "doc_id",
        F.sort_array(F.array_distinct(F.split("text", " "))).alias("terms"),
    )
    groups = pin(
        sets_per_doc.groupBy("terms").agg(
            F.sort_array(F.collect_list("doc_id")).alias("members"),
            F.min("doc_id").alias("gid"),
        )
    )
    sigs = [
        F.array_min(
            F.transform("terms", lambda t: F.md5(F.concat(F.lit(s), t)))
        ).alias(f"sig{i}")
        for i, s in enumerate(MINHASH_SEEDS)
    ]
    gsigs = groups.select(
        "gid",
        F.size("members").cast("long").alias("m"),
        F.size("terms").cast("long").alias("nt"),
        *sigs,
    )
    gk = pin(
        gsigs.select(
            "gid",
            "m",
            "nt",
            *[
                F.concat(
                    *[
                        F.col(f"sig{b * LSH_ROWS_PER_BAND + r}")
                        for r in range(LSH_ROWS_PER_BAND)
                    ]
                ).alias(f"bk{b}")
                for b in range(LSH_BANDS)
            ],
        )
    )
    return groups, gk


def _lsh_group_bands(spark: SparkSession, sf_dir: str):
    """(gid, band, sig) stack over the pinned band keys — the banded
    bucket view dedup_clusters_exact's star edges consume."""
    groups, gk = _lsh_group_sigs(spark, sf_dir)
    stack_args = ", ".join(f"{b}, bk{b}" for b in range(LSH_BANDS))
    bands = gk.select(
        "gid", F.expr(f"stack({LSH_BANDS}, {stack_args}) AS (band, sig)")
    )
    return groups, bands


#: all-pairs gate for the banded GROUP join (r14, the sim_containment /
#: _jaccard_pairs precedent): on the templated corpus the band-bucket
#: self-join emits 5.0M colliding group pairs (65% of ALL group pairs)
#: through a pair-keyed groupBy — more rows than the N^2/2 all-pairs
#: evaluation it was meant to avoid.  Below this doc count the band
#: count comes from one broadcast nested-loop pass (n_bands = sum of
#: band-key equalities, join condition "at least one band equal" — no
#: 5M-row shuffle, no pair-keyed aggregate).  Above it the bucket join
#: is unchanged (the sparse-collision open-web shape).
LSH_ALLPAIRS_DOCS = 20_000


def _lsh_group_pairs(spark: SparkSession, sf_dir: str):
    """Banded group candidate pairs: (groups, gp = (ga, gb, n_bands)).
    Dispatches between the bucket self-join and the gated all-pairs
    band-compare pass (LSH_ALLPAIRS_DOCS above) — identical output:
    a pair appears iff some band key matches, n_bands is the number of
    matching bands either way."""
    groups, gk = _lsh_group_sigs(spark, sf_dir)
    if catalog.fits(sf_dir, LSH_ALLPAIRS_DOCS, "documents"):
        a = gk.select(
            F.col("gid").alias("ga"),
            *[F.col(f"bk{b}").alias(f"abk{b}") for b in range(LSH_BANDS)],
        )
        b = gk.select(
            F.col("gid").alias("gb"),
            *[F.col(f"bk{b}").alias(f"bbk{b}") for b in range(LSH_BANDS)],
        )
        n_bands = sum(
            [
                (F.col(f"abk{i}") == F.col(f"bbk{i}")).cast("long")
                for i in range(LSH_BANDS)
            ],
            F.lit(0).cast("long"),
        )
        any_band = None
        for i in range(LSH_BANDS):
            eq = F.col(f"abk{i}") == F.col(f"bbk{i}")
            any_band = eq if any_band is None else (any_band | eq)
        gp = (
            a.join(F.broadcast(b), (F.col("ga") < F.col("gb")) & any_band)
            .select("ga", "gb", n_bands.alias("n_bands"))
        )
        return groups, gp
    stack_args = ", ".join(f"{b}, bk{b}" for b in range(LSH_BANDS))
    bands = gk.select(
        "gid", F.expr(f"stack({LSH_BANDS}, {stack_args}) AS (band, sig)")
    )
    a, b = bands.alias("a"), bands.alias("b")
    gp = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .groupBy(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return groups, gp


@register(
    "lsh_candidates",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    ), sigs AS (
      SELECT doc_id,
             {", ".join(_sig_sql(i, s) for i, s in enumerate(MINHASH_SEEDS))}
      FROM toks GROUP BY doc_id
    ), bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, "
          f"{' || '.join(f'sig{b * LSH_ROWS_PER_BAND + r}' for r in range(LSH_ROWS_PER_BAND))}"
          f" AS sig FROM sigs"
          for b in range(LSH_BANDS))}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate-pair generation, certified EXACTLY — the
    step dedup_near performs with seeded xxhash (R class) re-expressed on
    the engine-portable md5-min basis (minhash_sig's signatures).  The 4
    signatures band as {LSH_BANDS} bands × {LSH_ROWS_PER_BAND} rows
    (band key = concatenated sigs): a pair becomes a candidate iff ALL
    rows of some band agree — the r-row AND within a band sharpens the
    S-curve so near-identical documents collide while merely
    vocabulary-overlapping ones don't; the band-collision count is
    carried for downstream thresholding.

    Scale shape: ONE tokenize pass -> one doc_id aggregate (all sigs in
    the same pass) -> self-equi-join on (band, sig).  Candidates form
    only inside hash buckets, so the pair stream scales with duplicate
    density, never n² — the same economics pinned for dedup_near
    (tests/test_plans.py), now with a DuckDB-checkable output."""
    groups, gp = _lsh_group_pairs(spark, sf_dir)
    # expansion back to doc pairs: every cross-group doc pair inherits
    # its group pair's band count; identical-set docs collide in ALL
    # bands (equal sets -> equal signatures)
    ga = groups.select(F.col("gid").alias("ga"), F.col("members").alias("mem_a"))
    gb = groups.select(F.col("gid").alias("gb"), F.col("members").alias("mem_b"))
    cross = (
        gp.join(F.broadcast(ga), "ga")
        .join(F.broadcast(gb), "gb")
        .select("n_bands", F.explode("mem_a").alias("da"), "mem_b")
        .select("n_bands", "da", F.explode("mem_b").alias("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "n_bands",
        )
    )
    within = (
        groups.filter(F.size("members") >= 2)
        .select(F.posexplode("members").alias("i", "doc_a"), "members")
        .select(
            "doc_a",
            F.explode(
                F.slice("members", F.col("i") + 2, F.size("members"))
            ).alias("doc_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.lit(LSH_BANDS).cast("long").alias("n_bands"),
        )
    )
    return cross.unionByName(within)


PMI_MIN_COUNT = 5  # collocation support floor
PMI_TOPK = 50
PMI_ORACLE_MAX_TOKS = 512  # static unnest bound, asserted on the Spark side


@register(
    "text_pmi_bigrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM t
    ), uc AS (
      SELECT w, count(*) AS c FROM uni GROUP BY w
    ), n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
    bi AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, (SELECT unnest(generate_series(1, {PMI_ORACLE_MAX_TOKS})) AS i) s
      WHERE i + 1 <= len(toks)
    ), bc AS (
      SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2
    ), n2 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bc)
    SELECT bc.w1, bc.w2, CAST(bc.c AS BIGINT) AS n_pair,
           CAST(floor(ln((CAST(bc.c AS DOUBLE) / n2.n)
                         / ((CAST(a.c AS DOUBLE) / n1.n)
                            * (CAST(b.c AS DOUBLE) / n1.n))) * 1e6 + 0.5)
                AS BIGINT) AS pmi6
    FROM bc
    JOIN uc a ON bc.w1 = a.w
    JOIN uc b ON bc.w2 = b.w
    CROSS JOIN n1 CROSS JOIN n2
    WHERE bc.c >= {PMI_MIN_COUNT}
    ORDER BY pmi6 DESC, w1, w2
    LIMIT {PMI_TOPK}
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent token
    pairs — the classic phrase detector ("new york") run before n-gram
    vocabulary construction in a training-data pipeline.

    PMI quantizes to an integer (floor(ln(...)·1e6 + 0.5)) so ranking is
    bigint-exact — the tfidf_topk convention: both engines' ln() agree
    through the first ~15 significant digits, and the 1e-6 quantum is far
    coarser than that.  Support floor {PMI_MIN_COUNT} first, ORDER-BY-
    complete top-{PMI_TOPK} with (w1, w2) tie keys.

    Scale: bigram counts shuffle on (w1, w2); the unigram side is
    vocabulary-bounded so it BROADCASTS onto the bigram stream (hash-
    joining it would re-shuffle on the Zipf-hot first token); the two
    scalar totals ride a 1-row crossJoin.  One tokenize scan feeds both
    unigram and bigram counts."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    checked = F.when(
        F.size(toks) <= PMI_ORACLE_MAX_TOKS, toks
    ).otherwise(
        F.raise_error(
            F.lit(f"text_pmi_bigrams: oracle unnest bound {PMI_ORACLE_MAX_TOKS} exceeded")
        )
    )
    t = d.select("doc_id", checked.alias("toks"))
    uni = t.select(F.explode("toks").alias("w"))
    # uc feeds the total + both marginal sides, bc the total + ranking:
    # pinned (plan-audit, SCALE.md §50).
    uc = pin(uni.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    n1 = uc.agg(F.sum("c").cast("long").alias("n"))
    pairs = t.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    bc = pin(pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    n2 = bc.agg(F.sum("c").cast("long").alias("n"))
    a = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    b = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c").cast("double") / F.col("n2"))
        / (
            (F.col("ca").cast("double") / F.col("n1"))
            * (F.col("cb").cast("double") / F.col("n1"))
        )
    )
    return (
        bc.filter(F.col("c") >= PMI_MIN_COUNT)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(n1.select(F.col("n").alias("n1"))))
        .crossJoin(F.broadcast(n2.select(F.col("n").alias("n2"))))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("n_pair"),
            F.floor(pmi * 1e6 + 0.5).cast("long").alias("pmi6"),
        )
        .orderBy(F.col("pmi6").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


def skew_kurt(
    df: DataFrame,
    val_col: str,
    by: list[str] | None = None,
    scale: int = 2,
) -> DataFrame:
    """Grouped skewness and excess kurtosis of ANY value column from the
    four raw power sums (agg_skew_kurt's algebra with columns and the
    fixed-point scale parameterized) — the one-pass map-side-combinable
    formulation.  Inputs quantize to exact fixed-point bigints at
    `scale` digits (the quantization factor cancels in both statistics);
    power sums accumulate in DECIMAL(38,0) (x^4 overflows an int64 sum
    well below large row counts); the closing arithmetic is one double
    expression tree, so the result is identical at any partition count —
    unlike float-accumulated skewness()/kurtosis() built-ins.  Returns
    (by..., n, skewness, kurtosis), round 4."""
    by = by or []
    d0 = "decimal(38,0)"
    x = F.floor(F.col(val_col) * (10**scale) + 0.5).cast("long").cast(d0)
    # operands widen to DECIMAL BEFORE the powers: a LONG x^4 wraps
    # silently above |quantized| ~55e3 — raw |v| ~551 at scale=2 (r10
    # judge); decimal powers stay exact to |quantized| ~3.1e9
    s = df.groupBy(*by).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).cast("double").alias("_s1"),
        F.sum(x * x).cast("double").alias("_s2"),
        F.sum(x * x * x).cast("double").alias("_s3"),
        F.sum(x * x * x * x).cast("double").alias("_s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("_n", "_s1", "_s2", "_s3", "_s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - F.lit(3) * mu * (s2 / n) + F.lit(2) * mu * mu * mu
    m4 = (
        s4 / n
        - F.lit(4) * mu * (s3 / n)
        + F.lit(6) * mu * mu * (s2 / n)
        - F.lit(3) * mu * mu * mu * mu
    )
    # + 0.0: round() may yield -0.0 in one engine only
    return s.select(
        *by,
        n.cast("long").alias("n"),
        (r4(m3 / (m2 * F.sqrt(m2))) + 0.0).alias("skewness"),
        (r4(m4 / (m2 * m2) - 3) + 0.0).alias("kurtosis"),
    )


@register(
    "agg_skew_kurt",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s2,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s3,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)
                      * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    ), m AS (
      SELECT l_returnflag, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM s
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(m3 / (m2 * sqrt(m2)), 4) + 0.0 AS skewness,
           round(m4 / (m2 * m2) - 3, 4) + 0.0 AS kurtosis
    FROM m
    """,
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped skewness and excess kurtosis of l_quantity per return
    flag — the `skew_kurt` kernel at cents scale."""
    return skew_kurt(
        table(spark, sf_dir, "lineitem"), "l_quantity",
        by=["l_returnflag"], scale=2,
    )


@register(
    "skyline_2d",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT p_retailprice AS price, p_size AS psize FROM part
    ), flagged AS (
      SELECT price, psize,
             min(psize) OVER (ORDER BY price, psize
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_min
      FROM pts
    ), sky AS (
      SELECT price, psize FROM flagged
      WHERE prev_min IS NULL OR psize < prev_min
    )
    SELECT s.price, s.psize, CAST(count(*) AS BIGINT) AS n_parts
    FROM sky s JOIN part p
      ON p.p_retailprice = s.price AND p.p_size = s.psize
    GROUP BY s.price, s.psize
    """,
)
def skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): parts not dominated on (lower
    retail price, smaller size) — the multi-criteria shortlist query.
    The naive formulation is a quadratic NOT EXISTS self-theta-join;
    the 2-D skyline collapses to ONE sorted pass: lex-sort the DISTINCT
    (price, size) points, keep a point iff its size beats the running
    minimum of every lex-earlier point (lex-earlier + size ≤ current ⇒
    dominance with strictness in at least one coordinate).  Frontier
    points then count their parts via an equi-join on the (tiny)
    frontier.

    The sort runs over DISTINCT price/size pairs — usually bounded by
    the catalog's price grid, but p_retailprice is a double, so in
    adversarial data distinct pairs ≈ |part|.  Dual kernel on the part
    footer row count: below the gate, the single ordered window; above
    it, `_global_order.bucketed_prefix_min` (exclusive running min with
    no single-partition Exchange — min is idempotent, so bucket splits
    can't change it).  Raw parquet doubles compare bit-identically in
    both engines; nothing here derives new floats."""
    p = table(spark, sf_dir, "part")
    pts = p.select(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("psize")
    ).distinct()
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "part"):
        flagged = bucketed_prefix_min(
            pts, "price", ["psize"], "psize", out="prev_min"
        )
    else:
        w = (
            Window.orderBy("price", "psize")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        flagged = pts.withColumn("prev_min", F.min("psize").over(w))
    sky = (
        flagged
        .filter(F.col("prev_min").isNull() | (F.col("psize") < F.col("prev_min")))
        .select("price", "psize")
    )
    return (
        p.join(
            F.broadcast(sky),
            (p.p_retailprice == sky.price) & (p.p_size == sky.psize),
        )
        .groupBy("price", "psize")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "interval_islands",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value) AS BIGINT) * 1000000 AS e
      FROM events
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id
                                    ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) IS NULL
                    OR s > max(e) OVER (PARTITION BY user_id
                                        ORDER BY s, e, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS ni
      FROM iv
    ), numbered AS (
      SELECT user_id, s, e,
             sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS island
      FROM flagged
    ), islands AS (
      SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
      FROM numbered GROUP BY user_id, island
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_e - i_s) AS BIGINT) AS covered_us,
           CAST(max(i_e - i_s) AS BIGINT) AS longest_us
    FROM islands GROUP BY user_id
    """,
)
def interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: merge each user's overlapping activity intervals
    (event start, start + value seconds) into maximal islands; report
    island count, covered time, longest island.  The sibling of
    interval_coverage (which measures total coverage) and
    concurrent_intervals (max overlap) — this one materializes the
    island STRUCTURE, the primitive behind downtime reports and
    contiguous-session accounting.

    One user_id shuffle carries everything: running max(e) over the
    sorted intervals flags island starts, a running sum numbers the
    islands, two grouped aggregations finish.  All arithmetic is integer
    microseconds (floor(value) seconds), so cross-engine exact; ordering
    is (s, e, event_id) tie-safe.  At 100 TB islands per user are
    bounded by that user's activity — no global sort anywhere."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor("value").cast("long") * F.lit(1_000_000)
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "ni",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    run = Window.partitionBy("user_id").orderBy("s", "e").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = flagged.withColumn("island", F.sum("ni").over(run))
    islands = numbered.groupBy("user_id", "island").agg(
        F.min("s").alias("i_s"), F.max("e").alias("i_e")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("i_e") - F.col("i_s")).cast("long").alias("covered_us"),
        F.max(F.col("i_e") - F.col("i_s")).cast("long").alias("longest_us"),
    )


@register(
    "anomaly_iqr",
    oracle="""
    WITH c AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ), q AS (
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
                      THEN cents END) AS q1,
             max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
                      THEN cents END) AS q3,
             max(n) AS n
      FROM ranked GROUP BY event_type
    )
    SELECT c.event_type, CAST(max(q.n) AS BIGINT) AS n,
           CAST(max(q.q1) AS BIGINT) AS q1_cents,
           CAST(max(q.q3) AS BIGINT) AS q3_cents,
           CAST(sum(CASE WHEN 2 * c.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi,
           CAST(sum(CASE WHEN 2 * c.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo
    FROM c JOIN q ON c.event_type = q.event_type
    GROUP BY c.event_type
    """,
)
def anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts per event type on EXACT discrete
    quartiles — the robust complement of anomaly_zscore (mean/stddev
    fences move with the outliers they hunt; quartile fences don't).
    Values quantize to integer cents; q1/q3 are the rank-⌈n/4⌉ and
    ⌈3n/4⌉ order statistics; the 1.5·IQR fences evaluate as the
    integer inequality 2·x > 2·q3 + 3·(q3−q1), so no float is derived
    anywhere — bit-exact both engines.

    Shape: one event_type shuffle for the rank window, a model-sized
    quartile table (|event types| rows) broadcast back onto the stream,
    one grouped count.  The rank window is per-group, not global; at
    100 TB the documented swap is approx_percentile per group (or the
    mergeable KLL sketch, agg_percentile_approx) with identical fence
    algebra."""
    ev = table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = c.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    q = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.25).cast("long"),
                F.col("cents"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.75).cast("long"),
                F.col("cents"),
            )
        ).alias("q3"),
        F.max("n").alias("n"),
    )
    return (
        c.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("q1").cast("long").alias("q1_cents"),
            F.max("q3").cast("long").alias("q3_cents"),
            F.sum(
                F.when(
                    2 * F.col("cents") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_out_hi"),
            F.sum(
                F.when(
                    2 * F.col("cents") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_out_lo"),
        )
    )


@register(
    "date_spine",
    oracle="""
    WITH bounds AS (
      SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders
    ), spine AS (
      SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                         CAST(mx AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), per_day AS (
      SELECT o_orderdate AS day, count(*) AS n FROM orders GROUP BY 1
    )
    SELECT CAST(date_trunc('month', s.day) AS TIMESTAMP) AS month,
           CAST(count(*) AS BIGINT) AS days_total,
           CAST(sum(CASE WHEN p.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS days_missing,
           CAST(coalesce(sum(p.n), 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN per_day p ON s.day = p.day
    GROUP BY 1
    """,
)
def date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine completeness audit: generate every day between the
    first and last order date, left-join the per-day order counts, and
    report per month how many days exist, how many have NO orders, and
    the month's order total — the data-freshness / ingestion-gap check
    every warehouse runs (and the date-dimension primitive behind it).

    The spine derives from a 1-row min/max aggregate crossJoined back
    and exploded — day count is bounded by the calendar (~decades =
    ~10⁴ rows), so it broadcasts; the per-day aggregate is one date
    shuffle of the fact table.  rollup_gapfill interpolates VALUES into
    known gaps; this op finds the gaps."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    per_day = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(per_day, "day", "left")
        .groupBy(F.date_trunc("month", "day").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("days_total"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("days_missing"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orders"),
        )
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           CAST(grouping_id(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING / GROUPING_ID surface parity: rollup levels tagged with
    the grouping-id bitmask so consumers can separate detail rows from
    subtotal rows without NULL ambiguity (the reason the functions exist
    — a NULL group key is indistinguishable from a rollup NULL without
    them).  Verified cross-engine: Spark's grouping_id() and DuckDB's
    grouping_id(a, b) emit the same bit order (leftmost column = MSB).
    Same single-Expand plan as agg_rollup."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("int").alias("gid"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
            "gid",
            "n",
        )
    )


@register(
    "fn_try_cast",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(try_cast(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(sum(CASE WHEN try_cast(json_extract_string(props, '$.k')
                                       AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS k_unparsed,
           CAST(sum(CASE WHEN try_cast(event_type AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS type_unparsed
    FROM events GROUP BY event_type
    """,
)
def fn_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant cast surface (try_cast): parse the numeric field
    out of the JSON props column, counting rows that fail to parse
    instead of failing the query — the ingestion-hardening idiom that
    matters under Spark 4's ANSI-by-default mode, where a plain CAST of
    dirty data throws mid-job at 100 TB.  try_cast keeps the whole
    expression inside codegen (no UDF, no exception control flow);
    malformed rows surface as counted NULLs."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("k_sum"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).cast("long").alias("k_unparsed"),
        F.sum(
            F.when(F.col("event_type").try_cast("bigint").isNull(), 1).otherwise(0)
        ).cast("long").alias("type_unparsed"),
    )


def dow_hour_heatmap(
    df: DataFrame,
    ts_col: str,
    val_col: str | None = None,
) -> DataFrame:
    """Seasonality heatmap of ANY timestamp column (events_dow_hour's
    algebra with columns parameterized): row count (and optionally
    summed value) by (ISO weekday, hour-of-day) — the load-profile
    matrix behind capacity planning and anomaly baselines.  Weekday is
    weekday()+1 (Monday=1, the ISO convention — dayofweek() is NOT
    portable across engines).  Returns (dow, hr, n[, total_value]).

    Scale: map-side extraction, one 168-key aggregate — the cheapest
    shuffle there is."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if val_col is not None:
        aggs.append(r4(dsum(F.col(val_col))).alias("total_value"))
    return df.groupBy(
        (F.weekday(ts_col) + 1).cast("int").alias("dow"),
        F.hour(ts_col).cast("int").alias("hr"),
    ).agg(*aggs)


@register(
    "events_dow_hour",
    oracle=f"""
    SELECT CAST(isodow(ts) AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           round({sql_dsum('value')}, 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality heatmap: event count and value by (ISO weekday,
    hour-of-day) — the load-profile matrix behind capacity planning and
    anomaly baselines (seasonal_decompose_ma's categorical cousin).
    Spark's weekday() (Monday=0) + 1 aligns with DuckDB's isodow
    (Monday=1) — pinned here because dayofweek() does NOT (Sunday=1
    there, Sunday=0 in DuckDB's dayofweek).  Map-side extraction, one
    168-key aggregate: the cheapest shuffle there is."""
    return dow_hour_heatmap(table(spark, sf_dir, "events"), "ts", "value")
