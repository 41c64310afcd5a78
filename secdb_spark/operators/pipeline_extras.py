"""Training-data-pipeline staples beyond SURVEY §2: sampling, TF-IDF,
NA handling, table profiling, upsert-latest refresh, generator source.

Each op is the Spark-idiomatic form of an operation a 100 TB curation
pipeline runs daily; every deterministic op carries an exact oracle —
including the samplers, which use content-hash thresholding (md5-bucket
of the row key) instead of engine RNG, so the very same rows are chosen
by Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import check_free, pin

# The embeddings corpus dimension, pinned by embed_centroid's DuckDB oracle
# (generate_series(1, EMBED_DIM)); the Spark side raises on any other dim.
EMBED_DIM = 64


def _hash_bucket(key: Column, buckets: int) -> Column:
    """Deterministic uniform bucket in [0, buckets): first 32 bits of
    md5(key) — the engine-portable basis (minhash_sig playbook); xxhash64
    would be Spark-only.  Map-side expression, no shuffle, no state."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % buckets


def _sql_hash_bucket(key_sql: str, buckets: int) -> str:
    return f"(('0x' || substr(md5({key_sql}), 1, 8))::BIGINT % {buckets})"


SAMPLE_PCT = 10  # sample_fraction keeps bucket < 10 of 100


@register(
    "sample_fraction",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE {_sql_hash_bucket(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)",
        100)} < {SAMPLE_PCT}
    """,
)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% sample by content-hash threshold: keep the row iff
    md5-bucket(primary key) falls under the cut.  Deterministic across
    runs, partitionings, AND engines — which upgrades sampling from
    R-class (engine RNG) to exact-oracle, and is how a production corpus
    pipeline samples anyway (resumable, stable under retries; Bernoulli
    .sample() changes membership whenever partitioning shifts).  The
    100 TB workhorse for corpus downsampling: the predicate is map-side
    expression work inside the scan pipeline, no shuffle, no state."""
    li = table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    return li.filter(_hash_bucket(key, 100) < SAMPLE_PCT).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# per-language keep-rates in basis points of 10_000 — the rebalancing step
# of multilingual curation (downsample dominant strata, keep the rest)
STRATA_BP = {"en": 5_000, "de": 10_000, "es": 10_000, "fr": 10_000, "zh": 2_500}


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_sql_hash_bucket("'strat:' || CAST(doc_id AS VARCHAR)", 10_000)}
          < CASE lang {" ".join(f"WHEN '{k}' THEN {v}"
                                for k, v in STRATA_BP.items())} ELSE 0 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum hash thresholds: row kept iff
    md5-bucket(doc_id) < rate(lang).  Same determinism upgrade as
    sample_fraction (exact-oracle instead of seeded sampleBy); per-stratum
    rates are still property-tested.  One map-side predicate — the
    stratum's threshold is a CASE lookup, so no join, no shuffle, and the
    same document set survives no matter how the corpus is partitioned."""
    d = table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")), 10_000)
    thresh = F.lit(0)
    for k, v in STRATA_BP.items():
        thresh = F.when(F.col("lang") == k, v).otherwise(thresh)
    return d.filter(bucket < thresh).select("doc_id", "lang", "source")


NGRAM_N = 4  # decontamination n-gram width (word-level)
# static unnest bound for the DuckDB oracle (docs are <= 99 tokens at every
# SF; the Spark side uses the true length, and the bound is asserted below
# so a longer corpus fails loudly instead of silently truncating the oracle)
NGRAM_ORACLE_MAX_TOKS = 512


@register(
    "decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, array_to_string(t[i:i+{NGRAM_N - 1}], ' ') AS g
      FROM toks, (SELECT unnest(generate_series(1, {NGRAM_ORACLE_MAX_TOKS})) AS i) s
      WHERE i + {NGRAM_N - 1} <= len(t)
    ), eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    )
    SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_shared_grams
    FROM grams g JOIN eval_grams e ON g.g = e.g
    WHERE g.doc_id % 97 <> 0
    GROUP BY g.doc_id
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing any word-level
    4-gram with the held-out eval split (here: doc_id % 97 == 0, ~1%).
    The pretraining-hygiene step every serious corpus runs (the GPT-3
    paper's 13-gram overlap filter; width scaled to this corpus's
    10-99-token synthetic docs so overlap is non-empty yet selective).

    Scale shape: eval n-grams are DISTINCT'd then hash-joined against the
    train n-gram stream — eval benchmarks are tiny (thousands of docs)
    versus a 100 TB train side, so Spark/AQE broadcasts the eval side and
    the train stream never shuffles; contaminated-doc aggregation shuffles
    only matched grams (a vanishing fraction).  Positional n-grams come
    from sequence+slice inside codegen — no UDF."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (NGRAM_N - 1), F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i, NGRAM_N), " "),
    )
    g = d.select(
        "doc_id",
        F.assert_true(
            F.size(toks) <= NGRAM_ORACLE_MAX_TOKS,
            f"decontaminate oracle bound: doc longer than {NGRAM_ORACLE_MAX_TOKS} tokens",
        ).alias("_bound_ok"),
        F.explode(grams).alias("g"),
    ).drop("_bound_ok")
    eval_grams = g.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    return (
        g.filter(F.col("doc_id") % 97 != 0)
        .join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").cast("bigint").alias("n_shared_grams"))
    )


# Knuth multiplicative hash constants for cross-engine deterministic
# sampling (plain BIGINT arithmetic, expressible identically in any SQL
# dialect — unlike xxhash64/rand which differ per engine).
MIX_HASH_MULT = 2654435761
MIX_HASH_MOD = 2147483648  # 2^31


@register(
    "mix_domains",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_total FROM documents GROUP BY source
    ), m AS (
      SELECT min(n_total) AS min_total FROM counts
    ), kept AS (
      SELECT d.source
      FROM documents d JOIN counts c ON d.source = c.source CROSS JOIN m
      WHERE ((d.doc_id * {MIX_HASH_MULT}) % {MIX_HASH_MOD}) * c.n_total
            < m.min_total * {MIX_HASH_MOD}
    )
    SELECT c.source,
           CAST(c.n_total AS BIGINT) AS n_total,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM counts c
    LEFT JOIN (SELECT source, count(*) AS n_kept FROM kept GROUP BY source) k
      ON c.source = k.source
    """,
)
def mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing / quota sampling: downsample every source to the
    smallest source's size with a DETERMINISTIC portable hash — the
    "data mixture" step of pretraining corpus assembly, reproducible
    bit-for-bit across engines and re-runs (unlike rand()-based sampling).

    Keep rule (pure integer math, no FP boundary):
        hash(doc_id) * n_total_source < min_total * 2^31
    where hash is the Knuth multiplicative hash mod 2^31.

    Scale shape: per-source counts are a tiny aggregate (one row per
    domain) broadcast onto the corpus scan; the keep-filter runs inside
    the scan stage — zero shuffles beyond the count aggregation, so the
    100 TB corpus is sampled in one pass."""
    d = table(spark, sf_dir, "documents")
    # pinned: counts feeds the min, the rate broadcast, and the final
    # report join (plan-audit, SCALE.md §50).
    counts = pin(
        d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    )
    mn = counts.agg(F.min("n_total").alias("min_total"))
    rates = counts.crossJoin(F.broadcast(mn))
    h = (F.col("doc_id") * F.lit(MIX_HASH_MULT)) % F.lit(MIX_HASH_MOD)
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(h * F.col("n_total") < F.col("min_total") * F.lit(MIX_HASH_MOD))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        counts.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_total").cast("bigint").alias("n_total"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


@register(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN df USING (tok) CROSS JOIN n
    WHERE tf * ln(CAST(n_docs AS DOUBLE) / df) > 0
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): tf x ln(N/df). DF side is tiny (vocab) ->
    broadcast; round6 because ln is libm-dependent. At corpus scale both
    tf and df are single explode+groupBy passes (df re-aggregates the tf
    result — no second scan of the raw text)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # scalar; the plan constant-folds it
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        tf.join(F.broadcast(df), "tok")
        .select("doc_id", "tok", F.round(tfidf, 6).alias("tfidf"))
        .filter(tfidf > 0)
    )


@register(
    "fn_na_ops",
    oracle="""
    WITH masked AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
             CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT c_custkey,
           coalesce(bal, 0.0) AS bal_filled,
           coalesce(seg, 'UNKNOWN') AS seg_filled,
           (bal IS NOT NULL AND seg IS NOT NULL) AS is_complete
    FROM masked
    """,
)
def fn_na_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrameNaFunctions surface: na.fill with per-column defaults +
    completeness flag (na.drop shown by the flag rather than row removal
    so the oracle sees every row)."""
    c = table(spark, sf_dir, "customer")
    masked = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
        F.when(F.col("c_mktsegment") == "BUILDING", None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    filled = masked.na.fill({"bal": 0.0, "seg": "UNKNOWN"})
    return (
        masked.select(
            "c_custkey",
            (F.col("bal").isNotNull() & F.col("seg").isNotNull()).alias("is_complete"),
        )
        .join(
            filled.select(
                "c_custkey",
                F.col("bal").alias("bal_filled"),
                F.col("seg").alias("seg_filled"),
            ),
            "c_custkey",
        )
        .select("c_custkey", "bal_filled", "seg_filled", "is_complete")
    )


@register(
    "profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n, count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (null/distinct/min/max per column) — the data-
    quality pass every ingest runs. ONE scan computes every column's
    profile (single wide aggregate, then unpivoted), not one scan per
    column — the difference between 1x and Nx input reads at 100 TB."""
    o = table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg
            for col in ["o_orderkey", "o_orderstatus", "o_totalprice"]
            for agg in (
                F.count(col).alias(f"{col}__nonnull"),
                F.countDistinct(col).alias(f"{col}__distinct"),
                F.min(col).cast("string").alias(f"{col}__min"),
                F.max(col).cast("string").alias(f"{col}__max"),
            )
        ],
    )
    rows = []
    for col in ["o_orderkey", "o_orderstatus", "o_totalprice"]:
        rows.append(
            f"SELECT '{col}' AS col, n, `{col}__nonnull` AS n_nonnull, "
            f"`{col}__distinct` AS n_distinct, `{col}__min` AS min_val, "
            f"`{col}__max` AS max_val FROM __profile_wide"
        )
    # pinned: each unpivoted SELECT below re-ran the wide aggregate
    # through the temp view (plan-audit, SCALE.md §50; one row).
    pin(wide).createOrReplaceTempView("__profile_wide")
    return spark.sql(" UNION ALL ".join(rows))


@register(
    "upsert_latest",
    oracle="""
    WITH unioned AS (
      SELECT event_id, user_id, value, ts, 0 AS generation FROM events
      UNION ALL
      SELECT event_id, user_id, value * 2 AS value,
             ts + INTERVAL 1 HOUR AS ts, 1 AS generation
      FROM events WHERE event_id % 10 = 0
    )
    SELECT event_id, user_id, value, generation FROM (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY generation DESC, ts DESC) AS rn
      FROM unioned
    ) t WHERE rn = 1
    """,
)
def upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/refresh semantics — the reference's monthly EDGAR update
    where AMENDED filings supersede originals (SURVEY §3.1): union the
    incoming batch (here: a synthetic amendment of every 10th event) with
    the existing table, keep the latest generation per key via one window.
    At scale this is the merge pattern for any append-only lake without
    ACID tables; one shuffle on the key."""
    ev = table(spark, sf_dir, "events")
    base = ev.select("event_id", "user_id", "value", "ts", F.lit(0).alias("generation"))
    amended = (
        ev.filter(F.col("event_id") % 10 == 0)
        .select(
            "event_id",
            "user_id",
            (F.col("value") * 2).alias("value"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
            F.lit(1).alias("generation"),
        )
    )
    unioned = base.unionByName(amended)
    w = Window.partitionBy("event_id").orderBy(
        F.col("generation").desc(), F.col("ts").desc()
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "value", "generation")
    )


@register(
    "src_range",
    oracle="""
    SELECT i AS n, i * i AS n_sq
    FROM range(0, 1000) t(i)
    WHERE i % 7 = 0
    """,
)
def src_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator source (spark.range): parallel numeric range with no
    input files — the synthetic-data / backfill-driver primitive."""
    return (
        spark.range(0, 1000)
        .filter(F.col("id") % 7 == 0)
        .select(F.col("id").alias("n"), (F.col("id") * F.col("id")).alias("n_sq"))
    )


@register("agg_freq_items", oracle=None)  # R class: approximate heavy hitters
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent items (df.stat.freqItems, misra-gries style):
    single-pass bounded-memory heavy hitters over order priority and part
    brand via lineitem⋈part — THE 100 TB 'what dominates this column'
    primitive (exact groupBy+sort costs a full shuffle; this is one scan
    with O(1/support) state). Guarantee: every item with frequency >
    support appears (may include false positives) — property-tested
    against exact counts."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                     li.l_partkey == p.p_partkey)
    freq = joined.stat.freqItems(["p_brand", "l_returnflag"], support=0.1)
    # r13 (guide §5 — no collect in the query path): the single sketch
    # row explodes IN-PLAN (sorted per column, columns concatenated in
    # the same order the old driver-side list comprehension produced),
    # so the op is fully lazy and the sink job runs the one-pass sketch.
    item = lambda c: lambda x: F.struct(  # noqa: E731
        F.lit(c).alias("column"), x.alias("frequent_item")
    )
    return freq.select(
        F.explode(
            F.concat(
                F.transform(
                    F.sort_array("p_brand_freqItems"), item("p_brand")
                ),
                F.transform(
                    F.sort_array("l_returnflag_freqItems"),
                    item("l_returnflag"),
                ),
            )
        ).alias("_s")
    ).select("_s.column", "_s.frequent_item")


@register(
    "quality_rules",
    oracle="""
    SELECT 'lineitem_discount_range' AS rule,
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT) AS n_violations,
           CAST(count(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_null_orderkey',
           CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_quantity_range',
           CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    ORDER BY rule
    """,
)
def quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule engine — the pre-training gate every
    100 TB curation pipeline runs before a corpus ships: range rules,
    null rules and referential integrity, evaluated in ONE conditional-agg
    pass per table (violations are F.sum(when(...)) side by side, so a
    table is scanned once no matter how many rules it carries) plus one
    broadcast anti-join per foreign key. Output: (rule, n_violations,
    n_checked) — a dashboard-ready contract table."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    n = F.count(F.lit(1)).cast("bigint")
    li_rules = li.agg(
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias("discount"),
        viol(F.col("l_orderkey").isNull()).alias("nullkey"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("quantity"),
        n.alias("n_checked"),
    )
    li_long = li_rules.selectExpr(
        "stack(3, 'lineitem_discount_range', discount, "
        "'lineitem_null_orderkey', nullkey, "
        "'lineitem_quantity_range', quantity) AS (rule, n_violations)",
        "n_checked",
    )
    # ONE scan of orders for all its rules: the referential check is a
    # left broadcast join whose null-match flag feeds the same conditional
    # aggregation as the range rule
    o_flagged = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("_ck"))),
        orders.o_custkey == F.col("_ck"),
        "left",
    )
    o_rules = o_flagged.agg(
        viol(F.col("_ck").isNull()).alias("orphan"),
        viol(F.col("o_totalprice") <= 0).alias("price"),
        n.alias("n_checked"),
    )
    o_long = o_rules.selectExpr(
        "stack(2, 'orders_orphan_custkey', orphan, "
        "'orders_totalprice_positive', price) AS (rule, n_violations)",
        "n_checked",
    )
    return (
        li_long.select("rule", "n_violations", "n_checked")
        .unionByName(o_long.select("rule", "n_violations", "n_checked"))
        .orderBy("rule")
    )


@register(
    "embed_centroid",
    oracle="""
    WITH u AS (
      -- DuckDB 1.0 has no WITH ORDINALITY and generate_series cannot
      -- lateral-join a column arg; the corpus dim is fixed at 64, and
      -- list indexing is 1-based (Spark posexplode is 0-based)
      SELECT label, i - 1 AS pos, CAST(embedding AS DOUBLE[])[i] AS v
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ), m AS (
      SELECT label, pos,
             CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS c
      FROM u GROUP BY label, pos
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_dims,
           round(sqrt(CAST(sum(CAST(c * c AS DECIMAL(38,6))) AS DOUBLE)), 6)
             AS centroid_norm
    FROM m GROUP BY label ORDER BY label
    """,
)
def embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid — the building block for centroid
    classifiers, diversity sampling and k-means init over a 100 TB
    embedding corpus. posexplode -> per-(label, dim) decimal-exact mean ->
    per-label norm: two map-side-combinable shuffles keyed by
    (label, dim) then label; no vector ever reaches the driver. The
    elementwise means and the norm use the DECIMAL(38,6) deterministic-sum
    convention so the result is bit-identical cross-engine.

    The DuckDB oracle pins the corpus dim via generate_series(1, 64)
    (DuckDB 1.0 can't lateral-join a column arg), so the Spark side
    ASSERTS dim == EMBED_DIM per row — a dimension change surfaces as a
    loud error here, never as a silent out-of-bounds NULL read in the
    oracle."""
    checked = F.when(
        F.size("embedding") == EMBED_DIM, F.col("embedding")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embed_centroid: oracle pins dim={EMBED_DIM}, got dim="),
                F.size("embedding").cast("string"),
            )
        )
    )
    emb = table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(checked.cast("array<double>")).alias("pos", "v")
    )
    means = emb.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias("c")
    )
    return (
        means.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dims"),
            F.round(
                F.sqrt(F.sum((F.col("c") * F.col("c")).cast("decimal(38,6)")).cast("double")),
                6,
            ).alias("centroid_norm"),
        )
        .orderBy("label")
    )


PCA_K = 8  # principal components kept (of EMBED_DIM)


@register("embed_pca", oracle=None)  # R class: eigendecomposition, no SQL oracle
def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus — the dimensionality-
    reduction step before clustering / coreset selection in a training-data
    pipeline.  Two phases, mirroring ann_ivf's build/probe split:

    build (one distributed pass): per-partition Arrow batches accumulate
    the raw moments (n, sum x, sum x xᵀ) — each partition emits ONE row of
    1 + d + d² partial sums; partials posexplode to (idx, value) and a
    groupBy(idx) sum reduces them.  Only O(d²) = 4 161 values ever reach
    the driver (like _centroids' 16 rows — bounded by the MODEL size, not
    the data).  The driver finishes with a d×d eigendecomposition (numpy
    eigh, microseconds at d=64) and sign-fixes each component
    (largest-|loading| coordinate positive) so the output is deterministic.

    project (map-only): components ship to executors inside the Arrow UDF
    closure (d×k doubles); projection is a matmul per batch, fused into
    the scan — no shuffle.

    The projection ships as a JSON string column (`pc_json`) rather than
    array<double>: the driver's row canonicalizer hashes cell values and
    cannot hash numpy arrays — the same serialization contract
    invert_index adopted.  Consumers needing the vector parse the JSON
    (one line of numpy); tests do exactly that.

    Properties pinned in tests/test_properties.py: components orthonormal,
    explained variance non-increasing, projection bit-equal to local numpy
    PCA on the same corpus."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    emb = table(spark, sf_dir, "embeddings")
    d = EMBED_DIM

    def moments(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        S = np.zeros(d)
        C = np.zeros((d, d))
        n = 0
        for b in batches:
            if b.empty:
                continue
            X = np.stack(b["embedding"].to_numpy()).astype("float64")
            if X.shape[1] != d:
                raise ValueError(f"embedding dim {X.shape[1]} != pinned {d}")
            S += X.sum(axis=0)
            C += X.T @ X
            n += len(X)
        if n:
            flat = np.concatenate(([float(n)], S, C.reshape(-1)))
            yield pd.DataFrame({"idx": np.arange(flat.size), "v": flat})

    mom = (
        emb.select("embedding")
        .mapInPandas(moments, "idx long, v double")
        .groupBy("idx")
        .agg(F.sum("v").alias("v"))
    )
    rows = mom.collect()  # 1 + d + d^2 rows — model-sized, data-independent
    flat = np.zeros(1 + d + d * d)
    for r in rows:
        flat[r["idx"]] = r["v"]
    n = flat[0]
    mean = flat[1 : 1 + d] / n
    cov = flat[1 + d :].reshape(d, d) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:PCA_K]
    W = evecs[:, order]
    signs = np.sign(W[np.abs(W).argmax(axis=0), np.arange(PCA_K)])
    signs[signs == 0] = 1.0
    W = W * signs  # deterministic orientation

    def project(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import json

        for b in batches:
            if b.empty:
                continue
            X = np.stack(b["embedding"].to_numpy()).astype("float64")
            P = np.round((X - mean) @ W, 6)
            # +0.0 normalizes -0.0 so the JSON text is orientation-stable
            yield pd.DataFrame(
                {
                    "vec_id": b["vec_id"],
                    "pc_json": [json.dumps([float(v) + 0.0 for v in row]) for row in P],
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        project, "vec_id long, pc_json string"
    )


KMEANS_K = 8
KMEANS_ITERS = 5


def _kmeans_seed_expr(vec_id_col):
    """Portable seed ordering key: md5 of a tagged vec_id string — both
    engines produce the same hex, so both select the same K seed rows."""
    return F.md5(F.concat(F.lit("kmseed:"), vec_id_col.cast("string")))


_KMEANS_SEED_SQL = "md5('kmseed:' || CAST(vec_id AS VARCHAR))"


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    seed_salt: str = "kmseed:",
) -> DataFrame:
    """One seeded Lloyd iteration on ANY (id, vector) table
    (embed_kmeans' algebra with k parameterized): deterministic
    md5-ordered seed centroids, nearest-centroid assignment.  Returns
    (id_col, cluster, dist).  The full iterative fit drifts across
    engines by nature — this is the exactly-certifiable kernel; loop it
    yourself if you want Lloyd convergence.

    Scale shape: k seed rows collect to the driver (model-sized) and
    re-enter as a broadcast; assignment is a map-side k-way fold per
    vector — no shuffle except the final min-by-struct groupBy."""
    if k < 1:
        raise ValueError("k must be >= 1")
    check_free([id_col, vec_col], "c_idx", "c", "d2", "m")
    seed_key = F.md5(
        F.concat(F.lit(seed_salt), F.col(id_col).cast("string"))
    )
    seeds = (
        df.orderBy(seed_key, id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("c"))
        .collect()
    )
    seeds_df = df.sparkSession.createDataFrame(
        [(i, list(r.c)) for i, r in enumerate(seeds)],
        "c_idx int, c array<double>",
    )
    e_d = F.col(vec_col).cast("array<double>")
    d2 = F.aggregate(
        F.zip_with(e_d, F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = df.select(id_col, vec_col).crossJoin(
        F.broadcast(seeds_df)
    ).select(id_col, "c_idx", d2.alias("d2"))
    best = pairs.groupBy(id_col).agg(
        F.min(F.struct("d2", "c_idx")).alias("m")
    )
    return best.select(
        id_col,
        F.col("m.c_idx").alias("cluster"),
        F.round(F.sqrt(F.col("m.d2")), 6).alias("dist"),
    )


@register(
    "embed_kmeans",
    oracle=f"""
    WITH seeds AS (
      SELECT row_number() OVER (ORDER BY {_KMEANS_SEED_SQL}, vec_id) - 1
               AS c_idx,
             embedding::DOUBLE[] AS c
      FROM embeddings
      ORDER BY {_KMEANS_SEED_SQL}, vec_id
      LIMIT {KMEANS_K}
    ), pairs AS (
      SELECT e.vec_id, s.c_idx,
             list_reduce(
               list_transform(list_zip(e.embedding::DOUBLE[], s.c),
                              p -> (p[1] - p[2]) * (p[1] - p[2])),
               (acc, x) -> acc + x) AS d2
      FROM embeddings e CROSS JOIN seeds s
    ), best AS (
      SELECT vec_id, c_idx, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_idx) AS rn
      FROM pairs
    )
    SELECT vec_id, CAST(c_idx AS INTEGER) AS cluster,
           round(sqrt(d2), 6) AS dist
    FROM best WHERE rn = 1
    """,
)
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One seeded Lloyd iteration, certified exactly: deterministic
    md5-ordered seed centroids, nearest-centroid assignment per vector.
    This is the oracle-checkable kernel of k-means — the full iterative
    fit is `embed_kmeans_lloyd` (R class by nature: float means drift
    across engines after the first update).

    Cross-engine exactness rests on making every float op a SINGLE
    deterministic IEEE operation in a FIXED order: the squared distance
    is a strict left fold over dimensions — Spark `aggregate(zip_with(
    e, c, (x,y) -> (x-y)*(x-y)), 0.0, +)` vs DuckDB `list_reduce(
    list_transform(list_zip(...)))` — so both engines compute
    bit-identical d2, hence identical argmin labels and identical
    round(sqrt(d2), 6).  Seeds select by md5(tagged vec_id), portable
    like minhash_sig's basis.

    Scale shape: K seed rows collect to the driver (model-sized) and
    re-enter as a broadcast; assignment is a map-side K-way fold per
    vector inside WholeStageCodegen — no shuffle except the final
    min-by-struct groupBy on vec_id, which the K-row crossJoin keeps at
    K× map width (K=8)."""
    return kmeans_assign(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", KMEANS_K
    )


@register("embed_kmeans_lloyd", oracle=None)  # R class: iterative, no SQL oracle
def embed_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus — the
    clustering step behind corpus bucketing / coreset selection (and the
    trained counterpart of ann_ivf's one-shot seeded centroids).

    Iteration anatomy (the part that must survive 100 TB):
    - centroids live DRIVER-side as a k×d numpy matrix (model-sized) and
      ship to executors inside the Arrow UDF closure — nothing wide is
      broadcast, no Spark lineage grows across iterations (each assignment
      plan re-derives from the base scan + the current closure; no
      iterative localCheckpoint chain needed).
    - assignment is a map-only Arrow matmul (argmin over k distances).
    - the update reduces per-partition partial sums: each partition emits
      ≤ k rows of (cluster, count, Σx) — k·d values — and a groupBy(cluster)
      sum + a k-row collect closes the loop.  Per-iteration driver traffic
      is O(k·d·partitions -> k·d), independent of corpus size.
    - init is deterministic (smallest xxhash64(vec_id) seeds, the
      _centroids convention), so the whole fit is reproducible.

    Properties pinned in tests: inertia non-increasing over iterations,
    every vector assigned to its true nearest centroid, bit-stable across
    re-runs."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    emb = table(spark, sf_dir, "embeddings")
    d = EMBED_DIM

    seeds = (
        emb.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h", "vec_id")
        .limit(KMEANS_K)
        .select("embedding")
        .collect()
    )
    C = np.stack([np.asarray(r.embedding, dtype="float64") for r in seeds])

    def update_partials(C_cur: "np.ndarray"):
        def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            cnt = np.zeros(KMEANS_K)
            acc = np.zeros((KMEANS_K, d))
            for b in batches:
                if b.empty:
                    continue
                X = np.stack(b["embedding"].to_numpy()).astype("float64")
                d2 = ((X[:, None, :] - C_cur[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                for k in range(KMEANS_K):
                    m = a == k
                    if m.any():
                        cnt[k] += m.sum()
                        acc[k] += X[m].sum(axis=0)
            live = np.nonzero(cnt)[0]
            if live.size:
                yield pd.DataFrame(
                    {
                        "cluster": live,
                        "n": cnt[live],
                        "s": [acc[k].tolist() for k in live],
                    }
                )

        return fn

    for _ in range(KMEANS_ITERS):
        parts = emb.select("embedding").mapInPandas(
            update_partials(C), "cluster int, n double, s array<double>"
        )
        agg = (
            parts.select("cluster", "n", F.posexplode("s").alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(F.sum("v").alias("v"), F.sum("n").alias("n"))
        )
        rows = agg.collect()  # ≤ k·d rows — model-sized
        cnt = np.zeros(KMEANS_K)
        acc = np.zeros((KMEANS_K, d))
        for r in rows:
            acc[r["cluster"], r["i"]] = r["v"]
            # grouping by i separates the explode replicas, so each
            # (cluster, i) row's summed n IS the total cluster count
            cnt[r["cluster"]] = r["n"]
        live = cnt > 0
        C = np.where(live[:, None], acc / np.maximum(cnt, 1)[:, None], C)

    C_final = C

    def assign(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for b in batches:
            if b.empty:
                continue
            X = np.stack(b["embedding"].to_numpy()).astype("float64")
            d2 = ((X[:, None, :] - C_final[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": b["vec_id"],
                    "cluster": a.astype("int32"),
                    "dist": np.round(np.sqrt(d2[np.arange(len(a)), a]), 6),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, cluster int, dist double"
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("join", "merge", "vector")  # fixed retrieval query terms


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 score of every document against `query_terms` on ANY
    (id, text) table — text_bm25's certified algebra: one tokenize pass
    feeds per-doc lengths (pinned: corpus stats + the score join read
    it) and the query-filtered tf (pinned: df + the score join); idf
    and corpus stats broadcast.  Returns (id_col, bm25) for documents
    matching >= 1 query term."""
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    check_free([id_col], "tok", "dl", "tf", "df", "n_docs", "avgdl")
    toks = df.select(
        id_col, F.explode(F.split(F.lower(text_col), " ")).alias("tok")
    )
    # dl and tf each feed two consumers: pinned so tokenize runs once
    # per side (plan-audit, SCALE.md §50).
    dl = pin(toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl")))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = pin(
        toks.filter(F.col("tok").isin(*query_terms))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = (
        idf
        * F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1
            * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(score), 4).alias("bm25"))
    )


@register(
    "text_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN {BM25_QUERY!r}
      GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           round(sum(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * ({BM25_K1!r} + 1.0)
             / (tf + {BM25_K1!r}
                * (1.0 - {BM25_B!r} + {BM25_B!r} * dl / avgdl))
           ), 4) AS bm25
    FROM tf
    JOIN df USING (tok)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring of every document against a fixed query —
    the ranking half of a RAG / retrieval pipeline (tf-idf with tf
    saturation k1 and length normalization b).  ONE tokenize pass feeds
    everything: per-doc lengths re-aggregate to the corpus stats (a
    1-row broadcast), the query-term filter cuts the token stream to
    |query| terms BEFORE the tf groupBy, df re-aggregates tf (docs
    containing each term — no second scan), and the score assembles via
    two broadcast joins.  At 100 TB the heavy side (tf per doc) shuffles
    once on doc_id; df and stats are model-sized."""
    return bm25_scores(
        table(spark, sf_dir, "documents"), "doc_id", "text", BM25_QUERY,
        BM25_K1, BM25_B,
    )
