"""Round-4 additions — warehouse / curation operators (SURVEY §2.N).

Reference semantics: the reference's SQLite store is rebuilt monthly from
feeds (SURVEY §3.1 — mount empty); a warehouse replacement also needs the
surrounding lifecycle ops: CDC log application (upsert_latest generalized
to ordered change streams), table profiling, retrieval indexing, and the
event-analytics shapes (attribution, conversion windows, YoY growth) that
the reference's cross-company metric queries imply.  dedup_shingle extends
the LLM-pipeline dedup family with the word-n-gram Jaccard variant.

Scale notes (100 TB):
- `cdc_upsert` is the MERGE kernel: one shuffle on the business key, state
  per key is one row (latest version), never the version history.
- `text_unigram_logprob` tokenizes ONCE; corpus stats re-aggregate the
  tf table (exchange reuse), never the raw text.
- `invert_index` shuffles once on term; posting lists are per-term (skewed
  hot terms are bounded by df, and a production variant would shard
  postings by doc-range — noted in the docstring).
- `attribution_last_touch` / `conversion_window` / `yoy_growth` each cost
  exactly one shuffle (user_id / user_id / nation-year), with the window
  and the aggregation sharing that partitioning.
- `dedup_shingle` reuses the prefix-filtered AllPairs pipeline — candidate
  generation is bucketed by (rare) shingle, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import (
    GLOBAL_WINDOW_GATE,
    bucketed_global_rank,
    bucketed_prefix_sum,
    ntile_from_rank,
)
from ._helpers import pin, DEC, dsum, r4, sql_dsum


@register(
    "cdc_upsert",
    oracle="""
    WITH log AS (
      SELECT o_orderkey,
             unnest(generate_series(0, CAST(o_orderkey % 3 AS BIGINT))) AS seq,
             o_totalprice
      FROM orders
    ), typed AS (
      SELECT o_orderkey, seq,
             CASE WHEN o_orderkey % 10 = 0 AND seq = o_orderkey % 3
                  THEN 'D' ELSE 'U' END AS op,
             round(o_totalprice + seq, 4) AS val
      FROM log
    ), latest AS (
      SELECT o_orderkey, seq, op, val,
             row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn,
             count(*) OVER (PARTITION BY o_orderkey) AS n_versions
      FROM typed
    )
    SELECT o_orderkey, val AS latest_value,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered CDC change log to produce the current snapshot:
    per key the highest-sequence change wins; a terminal delete removes
    the key.  The log is derived deterministically from orders (each key
    carries 1-3 versions; every 10th key's last change is a delete) so the
    oracle can rebuild the identical stream.

    Spark-first shape: explode(sequence) generates versions pipelined with
    the scan (no join), then ONE shuffle on the key feeds both the
    row_number window and the per-key version count.  At 100 TB this is
    the standard lakehouse MERGE reduction: state per key is a single
    surviving row, and the shuffle carries the log, not the snapshot."""
    o = table(spark, sf_dir, "orders")
    log = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("o_orderkey") % 3)
        ).alias("seq"),
    ).select(
        "o_orderkey",
        "seq",
        F.when(
            (F.col("o_orderkey") % 10 == 0)
            & (F.col("seq") == F.col("o_orderkey") % 3),
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
        F.round(F.col("o_totalprice") + F.col("seq"), 4).alias("val"),
    )
    w = Window.partitionBy("o_orderkey")
    latest = log.withColumn(
        "rn", F.row_number().over(w.orderBy(F.col("seq").desc()))
    ).withColumn("n_versions", F.count(F.lit(1)).over(w))
    return latest.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "o_orderkey",
        F.col("val").alias("latest_value"),
        F.col("n_versions").cast("long").alias("n_versions"),
    )


LOGPROB_KEEP_THRESHOLD = -3.402  # splits near the corpus median avg ln p


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
    ), freq AS (
      SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM freq
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(
                   tf * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 AS DECIMAL(38,6))) AS DOUBLE) / sum(tf), 4) AS avg_logp,
           (CAST(sum(CAST(
                   tf * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 AS DECIMAL(38,6))) AS DOUBLE) / sum(tf))
             >= {LOGPROB_KEEP_THRESHOLD} AS keep
    FROM tf JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-probability quality score — the statistical-LM
    filtering step (CCNet / Wenzek et al. 2020 use a Kneser-Ney LM; the
    unigram form is its first-order term): a document whose tokens are
    corpus-improbable scores low and is dropped from the training mix.
    Complements text_quality's surface heuristics with a corpus-level
    statistic.

    Shape: ONE tokenize pass builds tf(doc, tok); the corpus frequency
    table and the grand total both RE-AGGREGATE tf (tf and freq are
    PINNED — Catalyst does NOT reuse the exchange across consumers,
    plan-audit SCALE.md §50), then tf joins freq on tok and
    re-groups by doc.  At 100 TB the freq table is vocabulary-sized
    (Zipf: ~10^7 rows), broadcastable after a df floor; the tf stream
    shuffles twice (tok, then doc) — both unavoidable for exact corpus
    statistics, both map-side combinable.  The freq side joins tf as an
    EXPLICIT broadcast: a hash join on tok would shuffle the tf stream by
    token and melt on Zipf-hot tokens ('the' alone is ~5% of English
    running text — one reducer), while the broadcast keeps tf in place.
    Determinism: each addend is quantized to DECIMAL(38,6) before
    summation (ln may differ in the last ulp across engines; the
    quantized sum is exact both sides)."""
    d = table(spark, sf_dir, "documents")
    tf = pin(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    freq = pin(tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("c")))
    tot = freq.agg(F.sum("c").cast("long").alias("n"))
    addend = (
        F.col("tf")
        * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
    ).cast(DEC)
    avg_logp = F.sum(addend).cast("double") / F.sum("tf")
    return (
        tf.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.round(avg_logp, 4).alias("avg_logp"),
            (avg_logp >= LOGPROB_KEEP_THRESHOLD).alias("keep"),
        )
    )


@register(
    "invert_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    )
    SELECT term, count(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM toks
    GROUP BY term
    """,
)
def invert_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (retrieval-engine core): distinct terms per
    document exploded, then ONE shuffle on term producing df + the sorted
    posting list.  Postings are sorted numerically (sort_array on the
    bigint list, §4.4.5) and surfaced as a joined STRING per the repo's
    list-canonicalization rule (cf. agg_collect): the driver's pandas
    canonicalizer cannot hash array cells (the r4 red row).

    Scale: postings are per-term rows, so the shuffle is bounded by the
    postings volume, not by pairs.  A hot term's list is bounded by its
    df; `invert_index_sharded` below is the production variant that caps
    single-row size with (term, shard) keys — same plan shape."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


INDEX_SHARDS = 4  # doc-id-hash shard count for the sharded index


@register(
    "invert_index_sharded",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {INDEX_SHARDS} AS shard,
             unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    )
    SELECT term, shard, count(*) AS df_shard,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM toks
    GROUP BY term, shard
    """,
)
def invert_index_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded inverted index — the 100-TB production form of
    `invert_index`: postings for one term are split across
    (term, doc_id % INDEX_SHARDS) keys, so a Zipf-hot stopword's posting
    list ("the" appearing in every document) is bounded by df/shards per
    row instead of df.  The shuffle key gains entropy exactly where the
    skew is; readers re-merge a term's shards (concatenation of sorted
    runs — tests/test_warehouse_extras.py proves shard re-merge equals
    the unsharded index).  Same single-Exchange plan shape."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % INDEX_SHARDS).alias("shard"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    return toks.groupBy("term", "shard").agg(
        F.count(F.lit(1)).alias("df_shard"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


def last_touch(
    df: DataFrame,
    id_col: str,
    event_col: str,
    val_col: str,
    order_cols: list[str],
    conversion: str,
    default: str = "direct",
) -> DataFrame:
    """Last-touch attribution over ANY event stream
    (attribution_last_touch's algebra with columns and the conversion
    event parameterized): each conversion's value is credited to the
    entity's most recent preceding non-conversion event type (`default`
    when the conversion is the entity's first event).
    last(ignorenulls) over a [unbounded, -1] row frame finds the touch
    without a self-join.  Pass tie-breaking order_cols.  Returns
    (channel, n_conversions, attributed_value).

    Scale: the window and nothing else shuffles the stream (one
    Exchange on the id), then the tiny channel aggregate map-side
    combines."""
    w = (
        Window.partitionBy(id_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col(event_col) != conversion, F.col(event_col)),
        ignorenulls=True,
    ).over(w)
    attributed = df.withColumn("channel", F.coalesce(touch, F.lit(default)))
    return (
        attributed.filter(F.col(event_col) == conversion)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            r4(dsum(F.col(val_col))).alias("attributed_value"),
        )
    )


@register(
    "attribution_last_touch",
    oracle=f"""
    WITH attributed AS (
      SELECT event_type, value,
             coalesce(
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               'direct') AS channel
      FROM events
    )
    SELECT channel, count(*) AS n_purchases,
           round({sql_dsum('value')}, 4) AS attributed_value
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY channel
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase's value is credited to the
    user's most recent preceding non-purchase event type ('direct' when
    the purchase is the user's first event) — the `last_touch` kernel on
    the events table.  Tie-safe ordering: (ts, event_id) per §4.4.3."""
    return last_touch(
        table(spark, sf_dir, "events"), "user_id", "event_type", "value",
        ["ts", "event_id"], conversion="purchase", default="direct",
    ).withColumnRenamed("n_conversions", "n_purchases")


def window_conversion(
    df: DataFrame,
    id_col: str,
    event_col: str,
    time_col: str,
    trigger: str,
    conversion: str,
    window: int = 3_600_000_000,
) -> DataFrame:
    """Time-window conversion over ANY event stream with a NUMERIC time
    column (conversion_window's algebra with columns, events and window
    parameterized): a conversion 'converts' when the same entity fired
    the trigger event within the preceding `window` of the time axis.
    A RANGE frame counts in-window triggers per row — no per-stage
    self-join, and a range frame needs no tie-breaker (peers are
    handled by value).  Returns (id, n_conversions, n_converted,
    conv_rate).

    Scale: one shuffle on the id shared by the window and the final
    per-entity aggregate."""
    w = (
        Window.partitionBy(id_col)
        .orderBy(time_col)
        .rangeBetween(-window, -1)
    )
    flagged = df.withColumn(
        "_trig",
        F.sum(F.when(F.col(event_col) == trigger, 1).otherwise(0)).over(w),
    )
    conv = F.sum(F.when(F.col("_trig") >= 1, 1).otherwise(0))
    return (
        flagged.filter(F.col(event_col) == conversion)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            conv.cast("long").alias("n_converted"),
            F.round(conv.cast("double") / F.count(F.lit(1)), 4).alias(
                "conv_rate"
            ),
        )
    )


@register(
    "conversion_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
               AS views_1h
      FROM events
    )
    SELECT user_id,
           count(*) AS n_purchases,
           CAST(sum(CASE WHEN views_1h >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           round(CAST(sum(CASE WHEN views_1h >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS conv_rate
    FROM flagged
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window conversion: a purchase 'converts' when the same user
    viewed within the preceding hour — the `window_conversion` kernel
    over epoch-µs."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return window_conversion(
        ev, "user_id", "event_type", "us",
        trigger="view", conversion="purchase", window=3_600_000_000,
    ).withColumnRenamed("n_conversions", "n_purchases")


@register(
    "yoy_growth",
    oracle=f"""
    WITH yearly AS (
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
             {sql_dsum('o_totalprice')} AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, yr, round(rev, 4) AS revenue,
           round((rev / lag(rev) OVER (PARTITION BY n_name ORDER BY yr) - 1)
                 * 100, 4) AS yoy_pct
    FROM yearly
    """,
)
def yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the cross-company
    metric-trend query shape the reference's SECDB serves (SURVEY §1.1
    layer 2).  Dims broadcast onto the orders scan, ONE shuffle to the
    (nation, year) aggregate, then the lag window runs on the tiny
    aggregate (|nations| x |years| rows).  Growth derives from the
    UNROUNDED deterministic sums so both engines divide identical
    doubles; rounding happens only at presentation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    yearly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    return yearly.select(
        "n_name",
        "yr",
        r4(F.col("rev")).alias("revenue"),
        r4((F.col("rev") / F.lag("rev").over(w) - 1) * 100).alias("yoy_pct"),
    )


@register(
    "winsorize_group",
    oracle="""
    WITH bounds AS (
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
             round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, b.lo, b.hi,
           CAST(sum(CASE WHEN l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(CAST(sum(CAST(
             CASE WHEN l_extendedprice < b.lo THEN b.lo
                  WHEN l_extendedprice > b.hi THEN b.hi
                  ELSE l_extendedprice END AS DECIMAL(38,6))) AS DOUBLE), 4)
             AS winsorized_sum
    FROM lineitem l JOIN bounds b USING (l_returnflag)
    GROUP BY 1, 2, 3
    """,
)
def winsorize_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (outlier clipping at the exact p05/p95):
    group quantiles computed in one aggregation, broadcast back onto the
    fact scan, values clipped to the [lo, hi] band, then summed with the
    deterministic decimal convention.

    Cross-engine determinism: Spark's percentile() and DuckDB's
    quantile_cont() both linearly interpolate but may differ in the last
    ulp, so the bounds are round(·, 4)-canonicalized BEFORE clipping —
    every downstream comparison and clipped value is then bit-identical.
    Scale: two passes over the fact (quantile build + clip); a 100 TB
    variant replaces pass one with a mergeable t-digest/KLL sketch —
    same broadcast-back shape, bounded error."""
    li = table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.05)"), 4).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("hi"),
    )
    x = F.col("l_extendedprice")
    clipped = F.when(x < F.col("lo"), F.col("lo")).when(
        x > F.col("hi"), F.col("hi")
    ).otherwise(x)
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "lo", "hi")
        .agg(
            F.sum(F.when(x < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_low"),
            F.sum(F.when(x > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_high"),
            r4(dsum(clipped)).alias("winsorized_sum"),
        )
    )


SHINGLE_THRESHOLD = 0.8


@register(
    "dedup_shingle",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1]))) AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE len(w) >= 2
    ), card AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
    FROM inter
    JOIN card ca ON doc_a = ca.doc_id
    JOIN card cb ON doc_b = cb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common)
          >= {SHINGLE_THRESHOLD}
    """,
)
def dedup_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram-shingle Jaccard near-dup pairs (threshold 0.8) — the
    n-gram variant of sim_jaccard: shingles preserve local word ORDER, so
    re-ordered documents that share a vocabulary stop matching (token-set
    Jaccard can't tell them apart).  Reuses the prefix-filtered AllPairs
    pipeline (lossless candidate generation bucketed by rare shingle —
    never all-pairs), with 1-indexed element_at so the shingle strings
    are byte-identical to the oracle's.

    The empty-shingle guard (docs under 2 words) must filter the DOC, not
    produce an empty set: Jaccard with an empty set is 0/0."""
    from .llm_pipeline import JACCARD_ALLPAIRS_DOCS, _jaccard_pairs, _spread_docs

    d = _spread_docs(spark, sf_dir, table(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        )
    )
    docs = d.filter(F.size(w) >= 2)
    return _jaccard_pairs(
        docs,
        tokens=F.sort_array(shingles),
        threshold=SHINGLE_THRESHOLD,
        # the documents footer bounds the corpus (the >=2-words filter
        # only shrinks it) for the all-pairs dispatch
        allpairs=catalog.fits(sf_dir, JACCARD_ALLPAIRS_DOCS, "documents"),
    )


def running_distinct(
    df: DataFrame,
    dist_col: str,
    order_cols: list[str],
    by: list[str],
) -> DataFrame:
    """Running COUNT(DISTINCT dist_col) per group under the given order
    (win_running_distinct's algebra with columns parameterized) — not
    directly expressible in any engine (distinct aggregates are barred
    from window frames), so it compiles to the first-occurrence trick:
    flag each (by, value)'s first row, then running-sum the flags.
    Both windows partition by `by` ALONE — a (by, value) window would
    pay a second Exchange (hashpartitioning(by, value) does NOT satisfy
    hashpartitioning(by)); this plans ONE Exchange + two Sorts.  State
    per frame is one counter, never a distinct-set.  Returns the input
    rows + `n_distinct`."""
    w_first = Window.partitionBy(*by).orderBy(dist_col, *order_cols)
    w_run = (
        Window.partitionBy(*by)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag(dist_col).over(w_first)
    flagged = df.withColumn(
        "_is_first",
        F.when(prev.isNull() | (prev != F.col(dist_col)), 1).otherwise(0),
    )
    return flagged.withColumn(
        "n_distinct", F.sum("_is_first").over(w_run).cast("long")
    ).drop("_is_first")


@register(
    "win_running_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_distinct_types
    FROM firsts
    """,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT event_type) per user: the
    `running_distinct` kernel in (ts, event_id) order.  One Exchange +
    two Sorts, plan-pinned."""
    ev = table(spark, sf_dir, "events")
    return running_distinct(
        ev, "event_type", ["ts", "event_id"], by=["user_id"]
    ).select(
        "user_id", "event_id", F.col("n_distinct").alias("n_distinct_types")
    )


ROLLING_DAYS = 7


def rolling_active(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    days: int = 7,
) -> DataFrame:
    """Rolling `days`-day active entities of ANY activity stream
    (rolling_active_users' algebra with columns and window
    parameterized) — the WAU curve: an entity active on day d is active
    for windows ending d .. d+days-1.  Rolling DISTINCT cannot run in a
    window frame, so the scalable compilation is contribution
    expansion: distinct (id, day) pairs explode to their window days,
    dedup, and count per window day (restricted to days the data
    actually covers).  The day key crosses as 'yyyy-MM-dd' strings
    (DATE dtype portability).  Returns (window_day, active).

    Scale: raw events reduce to (id, day) FIRST (one combinable
    shuffle); the expansion carries days x the aggregate — a vanishing
    fraction of the stream; the day-domain join broadcasts."""
    day = F.to_date(ts_col)
    user_days = df.select(F.col(id_col).alias("_id"), day.alias("_d")).distinct()
    contrib = (
        user_days.select(
            "_id",
            F.explode(F.sequence(F.lit(0), F.lit(days - 1))).alias("_k"),
            "_d",
        )
        .select(
            "_id",
            F.date_format(F.date_add(F.col("_d"), F.col("_k")), "yyyy-MM-dd")
            .alias("window_day"),
        )
        .distinct()
    )
    domain = df.select(
        F.date_format(day, "yyyy-MM-dd").alias("window_day")
    ).distinct()
    return (
        contrib.join(F.broadcast(domain), "window_day")
        .groupBy("window_day")
        .agg(F.count(F.lit(1)).alias("active"))
    )


@register(
    "rolling_active_users",
    oracle=f"""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), contrib AS (
      SELECT DISTINCT user_id,
             strftime(d + to_days(CAST(k AS INT)), '%Y-%m-%d') AS window_day
      FROM user_days,
           (SELECT unnest(generate_series(0, {ROLLING_DAYS - 1})) AS k) s
    ), days AS (
      SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS window_day
      FROM events
    )
    SELECT c.window_day, count(*) AS active_users_7d
    FROM contrib c JOIN days USING (window_day)
    GROUP BY c.window_day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (the WAU curve): the `rolling_active`
    kernel on the events table — a user active on day d is active for
    windows ending d .. d+6."""
    return rolling_active(
        table(spark, sf_dir, "events"), "user_id", "ts", days=ROLLING_DAYS
    ).withColumnRenamed("active", "active_users_7d")


PATH_TOPK = 10


def path_topk(
    df: DataFrame,
    entity_col: str,
    step_col: str,
    order_cols: list[str],
    k: int = 10,
    steps: int = 3,
) -> DataFrame:
    """Top-k most frequent `steps`-step event paths of ANY
    (entity, step, order) stream (event_path_topk's algebra with
    columns, k and path length parameterized) — the clickstream
    path-mining query: steps-1 lead() windows on ONE entity shuffle
    build the path string in place (no self-joins), paths aggregate
    map-side (the |step values|^steps domain collapses early), and the
    top-k is ORDER-BY-complete with (n DESC, path) tie keys — never a
    bare LIMIT.  Pass tie-breaking order_cols.  Returns (path, n).

    Scale: the only full-stream cost is the entity window; the counted
    table is bounded by the path domain."""
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    path = F.concat_ws(
        ">",
        F.col(step_col),
        *[F.lead(step_col, i).over(w) for i in range(1, steps)],
    )
    # concat_ws silently drops nulls: a short path means a lead ran off
    # the partition end — keep only complete paths
    paths = df.select(path.alias("path")).filter(
        F.size(F.split("path", ">")) == steps
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(k)
    )


@register(
    "event_path_topk",
    oracle=f"""
    WITH paths AS (
      SELECT event_type || '>' || lead(event_type, 1) OVER w
                        || '>' || lead(event_type, 2) OVER w AS path
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), counted AS (
      SELECT path, count(*) AS n FROM paths WHERE path IS NOT NULL GROUP BY path
    )
    SELECT path, n FROM counted
    ORDER BY n DESC, path
    LIMIT {PATH_TOPK}
    """,
)
def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most frequent 3-step event paths (the clickstream path-mining
    query): two lead() windows on ONE user_id shuffle build the path
    string in place (no self-joins), paths aggregate map-side (the
    |types|^3 <= 125 domain collapses early), and the top-k is
    ORDER-BY-complete with (n DESC, path) — never a bare LIMIT
    (§4.4.4).  Scale: the only full-stream cost is the user_id window;
    the counted table is bounded by the path domain."""
    return path_topk(
        table(spark, sf_dir, "events"), "user_id", "event_type",
        ["ts", "event_id"], PATH_TOPK,
    )


@register(
    "customer_rfm",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS monetary
      FROM orders
      GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey, frequency, round(monetary, 4) AS monetary,
             ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
             ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(4) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM base
    )
    SELECT o_custkey, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) — the
    classic warehouse customer-scoring query.  One shuffle to the
    per-customer aggregate; quartiles under (metric, custkey) tie-safe
    total orders (ntile is deterministic only under a total order,
    §4.4.3).

    Dual kernel (both exact, dispatch on the orders parquet-footer row
    count — no Spark job): below the gate, three ntile windows over the
    model-sized aggregate; above it, `_rfm_scaled` — bucketed global
    ranks (approx-quantile splits broadcast back, no single-partition
    Exchange; _global_order.py) + ntile_from_rank."""
    o = table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum(F.col("o_totalprice")).alias("monetary"),
    )
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "orders"):
        return _rfm_scaled(base)
    r = F.ntile(4).over(Window.orderBy("last_order", "o_custkey"))
    f_ = F.ntile(4).over(Window.orderBy("frequency", "o_custkey"))
    m = F.ntile(4).over(Window.orderBy("monetary", "o_custkey"))
    return _rfm_present(
        base.select(
            "o_custkey",
            "frequency",
            F.col("monetary"),
            r.alias("r_score"),
            f_.alias("f_score"),
            m.alias("m_score"),
        )
    )


def _rfm_present(scored: DataFrame) -> DataFrame:
    return scored.select(
        "o_custkey",
        "frequency",
        r4(F.col("monetary")).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
    ).withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def _rfm_scaled(base: DataFrame) -> DataFrame:
    """Scale kernel: exact quartiles with no single-partition window.
    Each metric gets a bucketed global rank over a slim (custkey, metric)
    projection; ntile is recovered arithmetically from (rank, n); scores
    join back on custkey (three hash shuffles of the customer AGGREGATE —
    the price of removing the one-task bottleneck).

    `base` is localCheckpoint'ed first: the three score computations each
    run an eager approxQuantile action plus a ranking pass, and the final
    three-way join adds another — without materialization that's five-plus
    recomputations of the orders aggregate.  The checkpoint costs one
    materialization of the model-sized aggregate and truncates lineage so
    every downstream action reads the cached partitions.  The row count
    collects once and inlines as a literal (it was a broadcast crossJoin
    of a 1-row aggregate — a whole extra job per score)."""
    base = base.localCheckpoint(eager=True)
    n_rows = base.count()  # served from the checkpoint just materialized

    def score(df: DataFrame, key: str, out: str) -> DataFrame:
        ranked = bucketed_global_rank(df, key, ["o_custkey"], out="_r")
        return ranked.select(
            "o_custkey",
            ntile_from_rank(F.col("_r"), F.lit(n_rows).cast("long"), 4).alias(out),
        )

    days = base.select(
        "o_custkey",
        F.datediff(F.col("last_order"), F.to_date(F.lit("1970-01-01")))
        .cast("double")
        .alias("_days"),
    )
    r = score(days, "_days", "r_score")
    f_ = score(base.select("o_custkey", "frequency"), "frequency", "f_score")
    m = score(base.select("o_custkey", "monetary"), "monetary", "m_score")
    return _rfm_present(
        base.join(r, "o_custkey").join(f_, "o_custkey").join(m, "o_custkey")
    )


@register(
    "part_abc_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,6))) AS DOUBLE) AS revenue
      FROM lineitem
      GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(sum(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM rev
    ), ranked AS (
      SELECT l_partkey, revenue,
             CAST(sum(CAST(revenue AS DECIMAL(38,6)))
                    OVER (ORDER BY revenue DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total
               AS cum_share
      FROM rev CROSS JOIN tot
    )
    SELECT l_partkey, round(revenue, 4) AS revenue,
           round(cum_share, 4) AS cum_share,
           CASE WHEN cum_share <= 0.80 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def part_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue share: aggregate
    revenue per part, rank by the (revenue DESC, partkey) total order,
    cumulative share against the grand total, class breaks at 80/95%.

    Determinism: every sum (per-part, grand total, running) accumulates
    in DECIMAL(38,6), so cum_share is an exact-over-exact division —
    identical doubles both engines — and the class thresholds compare
    identically.  Dual kernel (dispatch on the lineitem footer row
    count): below the gate, a global-ordered window over the per-part
    AGGREGATE; above it, the bucketed two-pass prefix sum
    (_global_order.py — no single-partition Exchange; decimal addends
    make the two accumulation orders bit-identical, equality pinned in
    tests/test_warehouse_extras.py).  The grand total broadcasts back
    as one row either way."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )
    tot = rev.agg(dsum(F.col("revenue")).alias("total"))
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "lineitem"):
        cum = bucketed_prefix_sum(
            rev, "revenue", ["l_partkey"], "revenue", desc=True, out="_cum"
        )
    else:
        w = (
            Window.orderBy(F.col("revenue").desc(), "l_partkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = rev.withColumn("_cum", F.sum(F.col("revenue").cast(DEC)).over(w))
    ranked = cum.crossJoin(F.broadcast(tot)).withColumn(
        "cum_share", F.col("_cum").cast("double") / F.col("total")
    )
    return ranked.select(
        "l_partkey",
        r4(F.col("revenue")).alias("revenue"),
        r4(F.col("cum_share")).alias("cum_share"),
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value) AS BIGINT) * 1000000 AS e
      FROM events
    ), sweep AS (
      SELECT user_id, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS d FROM iv
    ), run AS (
      SELECT user_id, t, d,
             sum(d) OVER (PARTITION BY user_id ORDER BY t, d
                          ROWS UNBOUNDED PRECEDING) AS c,
             lead(t) OVER (PARTITION BY user_id ORDER BY t, d) AS nxt
      FROM sweep
    )
    SELECT user_id,
           CAST(sum(CASE WHEN c > 0 THEN nxt - t ELSE 0 END) AS BIGINT)
             AS covered_us
    FROM run
    WHERE nxt IS NOT NULL
    GROUP BY user_id
    """,
)
def interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per user — union length of [ts, ts+value s)
    intervals via the +1/-1 sweep line: between consecutive sweep points
    the active count is constant, so coverage is the sum of segment
    lengths where count > 0.  The complement of concurrent_intervals
    (which takes the max of the same running count); one user_id shuffle
    shared by the running sum, the lead, and the aggregate.  All-integer
    (µs) arithmetic — no float drift possible.  Tie order (t, d) is
    total for coverage: equal-t segments have zero length."""
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor("value").cast("bigint") * F.lit(1_000_000)
        ).alias("e"),
    )
    return coverage_sweep(iv)


def coverage_sweep(iv: DataFrame) -> DataFrame:
    """Union-length sweep over any (user_id, s, e) interval DataFrame —
    property-tested against a brute-force union in tests/test_properties."""
    sweep = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d")))
    w = Window.partitionBy("user_id").orderBy("t", "d")
    run = sweep.select(
        "user_id",
        "t",
        F.sum("d")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("c"),
        F.lead("t").over(w).alias("nxt"),
    )
    return (
        run.filter(F.col("nxt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("c") > 0, F.col("nxt") - F.col("t")).otherwise(0)
            )
            .cast("long")
            .alias("covered_us")
        )
    )


@register(
    "join_bucketed",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB fact-fact join answer as a certified op: both sides are
    written BUCKETED by the join key (write-time co-location), then the
    join reads the bucketed tables with a merge hint — the plan carries
    NO join-side Exchange (pinned in tests/test_plans.py); the only
    shuffle is the tiny post-join aggregate.  The hint (not a conf
    mutation) forces the sort-merge path so the returned LAZY plan keeps
    the property when the caller executes it later.

    At warehouse scale the bucketed write happens ONCE at ingest and
    every subsequent orderkey join is shuffle-free; here the op pays the
    write each invocation so the driver certifies the whole path
    (write -> bucketed read -> co-located join) end to end."""
    import hashlib

    from ..layout import write_bucketed

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    ot, lt = f"secdb_ob_{tag}", f"secdb_lb_{tag}"
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, ot, "o_orderkey", 8, "o_orderkey")
    write_bucketed(li, lt, "l_orderkey", 8, "l_orderkey")
    ob, lb = spark.table(ot), spark.table(lt)
    j = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("long").alias("sum_qty"),
    )
