"""Round-6 additions, batch 19 — SURVEY §2.AE: variance decomposition
(day-of-week effect size), Heaps-law vocabulary growth, and the user
activity-lifetime distribution — round-8-queued extensions.

Determinism: all three are exact integer counting plus the repo's
standard decimal moment closes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._global_order import GLOBAL_WINDOW_GATE, bucketed_prefix_sum
from ._helpers import r4

D0 = "decimal(38,0)"


# ---------------------------------------------------------------------------
# anova_dow — day-of-week effect size on daily event volume
# ---------------------------------------------------------------------------

@register(
    "anova_dow",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ), g AS (
      SELECT isodow(day) AS dow, count(*) AS n,
             sum(CAST(c AS DECIMAL(38,0))) AS s,
             sum(CAST(c * c AS DECIMAL(38,0))) AS sq
      FROM daily GROUP BY 1
    ), q AS (
      SELECT n, s, sq,
             CAST(floor(CAST(s AS DOUBLE) * s / n * 1000000 + 0.5) AS BIGINT)
               AS term_q
      FROM g
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_days,
           round(
             (CAST(sum(term_q) AS DOUBLE) / 1000000
              - CAST(CAST(sum(s) AS DECIMAL(38,0)) AS DOUBLE)
                * CAST(CAST(sum(s) AS DECIMAL(38,0)) AS DOUBLE) / sum(n))
             / (CAST(CAST(sum(sq) AS DECIMAL(38,0)) AS DOUBLE)
                - CAST(CAST(sum(s) AS DECIMAL(38,0)) AS DOUBLE)
                  * CAST(CAST(sum(s) AS DECIMAL(38,0)) AS DOUBLE) / sum(n)),
             4) AS eta_squared
    FROM q
    """,
)
def anova_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size (η²) of day-of-week on daily event
    volume: the share of daily-count variance explained by which
    weekday it is — the quantified version of the events_dow_hour
    heatmap (η² near 0 says the visual pattern is noise).  η² =
    SS_between/SS_total with both sums of squares computed from exact
    decimal moments per weekday group; each group's s²/n term quantizes
    to 1e6 fixed-point BEFORE the ≤7-term between-group sum (a float
    sum would depend on the engines' group order), and the final ratio
    closes with the shared IEEE tree.

    Scale: daily pre-aggregation collapses the stream; everything after
    is a ≤7-row moment table."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # weekday labels differ (dayofweek vs isodow) but the PARTITION of
    # days into 7 groups is identical, and labels never reach the output
    g = daily.groupBy(F.dayofweek("day").alias("dow")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast(D0)).alias("s"),
        F.sum((F.col("c") * F.col("c")).cast(D0)).alias("sq"),
    )
    # quantize each group's s^2/n term so the <=7-term sum is exact
    # bigint (a float sum would depend on the engines' group order)
    term_q = F.floor(
        F.col("s").cast("double") * F.col("s") / F.col("n") * 1_000_000 + 0.5
    ).cast("long")
    q = g.select("n", "s", "sq", term_q.alias("term_q"))
    agg = q.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n").alias("n_days"),
        F.sum("term_q").alias("between_q"),
        F.sum("s").alias("ss"),
        F.sum("sq").alias("ssq"),
    )
    grand = (
        F.col("ss").cast("double") * F.col("ss").cast("double") / F.col("n_days")
    )
    ss_between = F.col("between_q").cast("double") / 1_000_000 - grand
    ss_total = F.col("ssq").cast("double") - grand
    return agg.select(
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_days").cast("long").alias("n_days"),
        r4(ss_between / ss_total).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# vocab_growth — Heaps-law vocabulary growth curve
# ---------------------------------------------------------------------------

VOCAB_CHECK_EVERY = 50  # emit a checkpoint every N documents


@register(
    "vocab_growth",
    oracle=f'''
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY doc_id
    ), first_doc AS (
      SELECT term, min(doc_id) AS fd FROM toks GROUP BY term
    ), new_terms AS (
      SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS new_terms
      FROM first_doc GROUP BY fd
    ), j AS (
      SELECT p.doc_id, p.n_tokens, coalesce(n.new_terms, 0) AS new_terms
      FROM per_doc p LEFT JOIN new_terms n USING (doc_id)
    ), curve AS (
      SELECT doc_id,
             sum(n_tokens) OVER w AS cum_tokens,
             sum(new_terms) OVER w AS cum_vocab
      FROM j
      WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    )
    SELECT doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_vocab AS BIGINT) AS cum_vocab
    FROM curve WHERE doc_id % {VOCAB_CHECK_EVERY} = 0
    ''',
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct vocabulary vs
    cumulative token count at every {VOCAB_CHECK_EVERY}th document (in
    doc_id order) — the curve whose flattening says a corpus has
    stopped contributing new language (the data-acquisition stopping
    signal).  Cumulative DISTINCT is made windowable by the
    first-occurrence trick: a term contributes to the vocabulary
    exactly once, at min(doc_id), so cum_vocab is a running SUM of
    per-doc first-occurrence counts — exact integers end to end.

    Scale: term first-occurrence is one combinable min per term; the
    running sums ride the |docs|-row aggregate — small vs the token
    stream but still data-sized at 10^9 docs, so they dual-kernel on
    the documents footer row count: below the gate, one ordered window;
    above it, two `_global_order.bucketed_prefix_sum` passes (integer
    addends in decimal — accumulation order bit-irrelevant)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    per_doc_tokens = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    first_doc = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    new_terms = first_doc.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("new_terms"))
    joined = per_doc_tokens.join(new_terms, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
    )
    if not catalog.fits(sf_dir, GLOBAL_WINDOW_GATE, "documents"):
        cum = bucketed_prefix_sum(
            joined, "doc_id", [], "n_tokens", out="_ct"
        )
        cum = bucketed_prefix_sum(cum, "doc_id", [], "new_terms", out="_cv")
        curve = cum.select(
            "doc_id",
            F.col("_ct").cast("long").alias("cum_tokens"),
            F.col("_cv").cast("long").alias("cum_vocab"),
        )
    else:
        w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        curve = joined.select(
            "doc_id",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
        )
    return curve.filter(F.col("doc_id") % VOCAB_CHECK_EVERY == 0)


# ---------------------------------------------------------------------------
# user_lifetime_dist — activity-span distribution in weekly buckets
# ---------------------------------------------------------------------------

@register(
    "user_lifetime_dist",
    oracle="""
    WITH span AS (
      SELECT user_id,
             datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
               AS days
      FROM events GROUP BY user_id
    )
    SELECT CAST(days // 7 AS BIGINT) AS week_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(days) AS BIGINT) AS min_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM span GROUP BY 1
    """,
)
def user_lifetime_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User activity-lifetime distribution: first-to-last event span
    per user, bucketed by week — the engagement-duration histogram that
    separates drive-by users from persistent ones (and the input to
    lifetime-value priors).  Spans are exact integer day differences;
    the weekly bucket is integer floor-division.

    Scale: one combinable min/max aggregate per user, then a bounded-
    key histogram — the dedup_histogram shape on the time axis."""
    ev = table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("days")
    )
    return span.groupBy(
        F.floor(F.col("days") / 7).cast("long").alias("week_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# error_rate_daily — daily error share of the event stream
# ---------------------------------------------------------------------------

@register(
    "error_rate_daily",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day, n_events, n_errors,
           round(CAST(n_errors AS DOUBLE) / n_events, 4) AS error_rate
    FROM daily
    """,
)
def error_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error share of the event stream — the SRE burn-rate series
    that alerting thresholds and `anomaly_zscore`/`ts_bollinger`
    envelopes consume downstream.  Exact integer counts, one division.

    Scale: a single combinable day-keyed aggregate with the predicated
    count fused into the same pass (the agg_bool/count_if discipline —
    never a second scan for the error subset)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        r4(
            F.count_if(F.col("event_type") == "error").cast("double")
            / F.count(F.lit(1))
        ).alias("error_rate"),
    )


# ---------------------------------------------------------------------------
# brand_breadth — brands-per-customer breadth histogram
# ---------------------------------------------------------------------------

@register(
    "brand_breadth",
    oracle="""
    WITH cb AS (
      SELECT DISTINCT o_custkey, p_brand
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN part ON l_partkey = p_partkey
    ), breadth AS (
      SELECT o_custkey, count(*) AS n_brands FROM cb GROUP BY o_custkey
    )
    SELECT CAST(n_brands AS BIGINT) AS n_brands,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM breadth GROUP BY n_brands
    """,
)
def brand_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-breadth histogram: how many distinct brands each customer
    has ever purchased, rolled into a distribution — the
    category-spanning readout that separates single-brand loyalists
    from explorers (and sizes cross-sell headroom alongside
    `brand_transition`'s switching matrix).  Exact distinct counting
    through a (customer, brand) dedup, then the dedup_histogram shape.

    Scale: the distinct projection combines map-side; both following
    aggregates are combinable with bounded key spaces (|customers|,
    then |brands|)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    breadth = cb.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_brands"))
    return breadth.groupBy("n_brands").agg(
        F.count(F.lit(1)).alias("n_customers")
    ).select(
        F.col("n_brands").cast("long").alias("n_brands"),
        F.col("n_customers").cast("long").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# first_touch_mix — acquisition mix by each user's first event type
# ---------------------------------------------------------------------------

@register(
    "first_touch_mix",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), firsts AS (
      SELECT event_type FROM ranked WHERE rn = 1
    )
    SELECT event_type AS first_event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM firsts), 4) AS share
    FROM firsts GROUP BY event_type
    """,
)
def first_touch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition mix: the distribution of each user's FIRST event type
    — the entry-point readout that pairs with attribution_last_touch's
    exit-side view.  The first event is a tie-safe row_number pick
    ((ts, event_id) order), counts are exact, and the share is one
    division against the windowed user total.

    Scale: one user_id exchange for the pick (WindowGroupLimit bounds
    state at rank 1), then a |event types|-key rollup with the share
    window over that model-sized aggregate."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("event_type")
    )
    counts = firsts.groupBy(
        F.col("event_type").alias("first_event_type")
    ).agg(F.count(F.lit(1)).alias("n_users"))
    wall = Window.partitionBy()
    return counts.select(
        "first_event_type",
        F.col("n_users").cast("long").alias("n_users"),
        r4(
            F.col("n_users").cast("double") / F.sum("n_users").over(wall)
        ).alias("share"),
    )
