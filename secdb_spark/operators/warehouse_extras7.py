"""Round-6 additions, batch 10 — SURVEY §2.X: session-scoped reset
cumulative sums (the gaps-and-islands window composition), the
lines-per-order size distribution, and the corpus Zipf slope (rank-
frequency power-law fit from quantized log moments).

Design rules as everywhere in this package: one declarative DataFrame
plan per op, broadcast what is model-sized, every float reaching the
driver integer-quantized or produced by an identical IEEE expression
tree in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ._helpers import pin, r4

D0 = "decimal(38,0)"

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity boundary


# ---------------------------------------------------------------------------
# win_reset_cumsum — cumulative sum that RESETS at session boundaries
# ---------------------------------------------------------------------------

def reset_cumsum(
    df: DataFrame,
    val_col: str,
    time_col: str,
    by: list[str],
    gap: int,
    tie_cols: list[str] | None = None,
    scale: int = 4,
) -> DataFrame:
    """Cumulative value per group that RESETS whenever an inactivity gap
    larger than `gap` opens in the NUMERIC time column
    (win_reset_cumsum's algebra with columns, gap and fixed-point scale
    parameterized) — the session-scoped running total behind "spend so
    far this visit".  SQL has no RESET clause, so the canonical
    composition is gaps-and-islands: flag boundaries with a lag, number
    sessions with a running sum of flags, then run the cumulative
    inside the (by, session) partition.  Values quantize to fixed-point
    bigints at `scale`, so every running total is exact.  Returns the
    input rows + (session_id, running_value).

    Scale: all three windows order by the same (time, ties) within the
    `by` partition — ONE hash exchange serves the whole chain (the
    session_id repartition is a subset-key refinement evaluated within
    the same sorted run).  State per window is O(1)."""
    tie_cols = tie_cols or []
    w = Window.partitionBy(*by).orderBy(time_col, *tie_cols)
    gap_expr = F.col(time_col) - F.lag(time_col).over(w)
    flagged = df.withColumn(
        "_new_session",
        F.when(gap_expr.isNull() | (gap_expr > gap), 1).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn(
        "session_id", F.sum("_new_session").over(run).cast("long")
    ).drop("_new_session")
    wrun = (
        Window.partitionBy(*by, "session_id")
        .orderBy(time_col, *tie_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sess.withColumn(
        "running_value",
        F.sum(F.floor(F.col(val_col) * (10**scale) + 0.5).cast("long"))
        .over(wrun)
        .cast("long"),
    )


@register(
    "win_reset_cumsum",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {SESSION_GAP_US}
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, event_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_value_e4
    FROM sess
    """,
)
def win_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative value per user that RESETS whenever a 30-minute
    inactivity gap opens — the session-scoped running total behind
    "spend so far this visit": the `reset_cumsum` kernel over epoch-µs
    timestamps, ties broken by event_id, values as 1e4 fixed-point
    bigints so every running total is exact.  ONE hash exchange on
    user_id serves the whole window chain."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return reset_cumsum(
        ev, "value", "us", by=["user_id"], gap=SESSION_GAP_US,
        tie_cols=["event_id"], scale=4,
    ).select(
        "user_id", "event_id", "session_id",
        F.col("running_value").alias("running_value_e4"),
    )


# ---------------------------------------------------------------------------
# orders_linecount_dist — lines-per-order size distribution
# ---------------------------------------------------------------------------

@register(
    "orders_linecount_dist",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(count(*)) OVER () AS BIGINT) AS total_orders
    FROM per_order GROUP BY n_lines
    """,
)
def orders_linecount_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution: how many orders have k line items — the
    fan-out histogram that sizes every orderkey join and explodes-per-
    parent estimate in the warehouse.  Two cascaded combinable
    aggregates (order → size, size → count) plus the windowed total for
    ratio computation downstream; all exact integers.

    Scale: the same shape as dedup_histogram — the second aggregate's
    input is |orders| rows and its key space is the max fan-out (~7 in
    TPC-H), so the global total window runs over a handful of rows."""
    li = table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    dist = per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return dist.select(
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.sum("n_orders").over(Window.partitionBy()).cast("long").alias(
            "total_orders"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_zipf_slope — rank-frequency power-law fit
# ---------------------------------------------------------------------------

LN_SCALE = 10**6


def zipf_slope(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Zipf slope of ANY corpus' rank-frequency curve
    (corpus_zipf_slope's algebra with the column parameterized): the
    least-squares slope of ln(freq) on ln(rank) — natural corpora sit
    near -1; a slope far from it flags templated/machine-generated
    text, the corpus-level screen a training-data pipeline runs before
    accepting a new source.  ln values quantize to 1e6 fixed-point so
    the regression moments are exact decimal integers (quantized |ln|
    is bounded ~7.1e8, so the LONG products cannot wrap).  Returns one
    row (n_terms, zipf_slope).

    Scale: one tokenize scan -> term counts (combinable) -> a rank
    window over the |vocab|-sized aggregate (model-sized spine) -> one
    5-moment pass."""
    tf = (
        df.select(F.explode(F.split(text_col, " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "term"))
        .alias("rnk"),
    )
    x = F.floor(F.log(F.col("rnk").cast("double")) * LN_SCALE + 0.5).cast(
        "long"
    )
    y = F.floor(F.log(F.col("freq").cast("double")) * LN_SCALE + 0.5).cast(
        "long"
    )
    q = ranked.select(x.alias("x"), y.alias("y"))
    m = q.agg(
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
        F.col("n").cast("long").alias("n_terms"),
        r4(num.cast("double") / den.cast("double")).alias("zipf_slope"),
    )


@register(
    "corpus_zipf_slope",
    oracle=f"""
    WITH tf AS (
      SELECT term, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    ), ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rnk
      FROM tf
    ), q AS (
      SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * {LN_SCALE} + 0.5) AS BIGINT)
               AS x,
             CAST(floor(ln(CAST(freq AS DOUBLE)) * {LN_SCALE} + 0.5) AS BIGINT)
               AS y
      FROM ranked
    ), m AS (
      SELECT count(*) AS n,
             sum(CAST(x AS DECIMAL(38,0))) AS sx,
             sum(CAST(y AS DECIMAL(38,0))) AS sy,
             sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
             sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
                      - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * sxx
                        - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 4)
             AS zipf_slope
    FROM m
    """,
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus rank-frequency curve: the least-squares
    slope of ln(freq) on ln(rank) — natural corpora sit near −1, and a
    slope far from it flags templated/machine-generated text (this
    corpus's tiny synthetic vocabulary reads ≈ −0.6).  ln values
    quantize to 1e6 fixed-point (the events_entropy idiom) so the
    regression moments are exact decimal integers; the slope closes
    with the shared num/den IEEE tree.

    Scale: one tokenize scan → term counts (combinable) → a rank window
    over the |vocab|-sized aggregate → one 5-moment pass.  The global
    rank window is the model-sized-spine class (§9): vocabulary, not
    corpus, determines its input."""
    return zipf_slope(table(spark, sf_dir, "documents"), "text")


# ---------------------------------------------------------------------------
# win_moving_median — moving median over the daily series
# ---------------------------------------------------------------------------

MOVMED_DAYS = 7


def moving_median(
    df: DataFrame,
    val_col: str,
    order_col: str,
    by: list[str],
    days: int = 7,
) -> DataFrame:
    """Moving median over ANY pre-bucketed INTEGER series
    (win_moving_median's algebra with columns and frame width
    parameterized) — the robust trend line (a median frame shrugs off
    the single-point spikes that drag a moving average).  Spark cannot
    window `median` with a frame (INVALID_WINDOW_SPEC), so the kernel
    collects the BOUNDED frame into a sorted array and picks the middle
    element(s) — exact for integers, interpolating two ints as (a+b)/2
    (exact in binary).  Pass ONE row per (by, order_col).  Returns the
    input rows + `moving_median` (round 4).

    Scale: the frame is bounded (`days` rows), so the collected array
    is O(1) per row — the one place a collect_list window is
    scale-legitimate; feed the pre-bucketed aggregate, never the raw
    stream."""
    fr = (
        Window.partitionBy(*by)
        .orderBy(order_col)
        .rowsBetween(-(days - 1), Window.currentRow)
    )
    arr = F.sort_array(F.collect_list(val_col).over(fr))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return df.withColumn("moving_median", F.round((lo + hi) / 2.0, 4))


@register(
    "win_moving_median",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, c,
           round(median(c) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN {MOVMED_DAYS - 1} PRECEDING
                                 AND CURRENT ROW), 4) AS moving_median
    FROM daily
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median of the daily event count ({MOVMED_DAYS}-day
    trailing frame): the `moving_median` kernel over the per-type daily
    aggregate (model-sized per type), not the raw stream.  Exact for
    integer counts, interpolating two ints as (a+b)/2 (exact in
    binary), matching DuckDB's native windowed `median` semantics."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    return moving_median(
        daily, "c", "day", by=["event_type"], days=MOVMED_DAYS
    )


# ---------------------------------------------------------------------------
# win_fill_forward — LOCF imputation via IGNORE NULLS window
# ---------------------------------------------------------------------------

def fill_forward(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
    out_col: str | None = None,
    tie_col: str | None = None,
) -> DataFrame:
    """LOCF (last-observation-carried-forward) on ANY keyed series
    (win_fill_forward's algebra): adds `out_col` carrying the most
    recent non-null `val_col` forward within each key, in (ts, tie)
    order.  Rows before a key's first observation stay NULL — LOCF's
    defining edge.

    Scale shape: one key exchange, running frame with O(1) state (the
    single last non-null value)."""
    out = out_col or f"{val_col}_ffill"
    order = [ts_col] + ([tie_col] if tie_col else [])
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out, F.last(val_col, ignorenulls=True).over(w)
    )


@register(
    "win_fill_forward",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 10000 + 0.5) AS BIGINT) END
               AS purchase_e4
      FROM events
    )
    SELECT user_id, event_id, purchase_e4,
           last_value(purchase_e4 IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_e4
    FROM marked
    """,
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) imputation: every event
    row carries the user's most recent PURCHASE value forward — the
    fill-forward idiom behind as-of feature joins and sensor-gap
    imputation, and the IGNORE NULLS window surface (§2.E's last
    uncovered modifier).  The `fill_forward` kernel expresses it as
    `last(col, ignorenulls=True)` over the running frame, DuckDB as
    `last_value(x IGNORE NULLS)` — identical semantics; the carried
    value is a 1e4 fixed-point bigint so equality is exact.  Contrast
    rollup_gapfill, which fills a generated SPINE — this fills
    in-stream rows; the two compose."""
    ev = table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 10000 + 0.5).cast("long"),
        ).alias("purchase_e4"),
    )
    return fill_forward(
        marked, ["user_id"], "ts", "purchase_e4",
        out_col="last_purchase_e4", tie_col="event_id",
    ).drop("ts")


# ---------------------------------------------------------------------------
# users_cumulative — DAU + cumulative distinct users per day (round 7)
# ---------------------------------------------------------------------------

def cumulative_entities(
    df: DataFrame,
    id_col: str,
    ts_col: str,
) -> DataFrame:
    """Daily active entities + cumulative distinct entities of ANY
    activity stream (users_cumulative's algebra with columns
    parameterized) — the growth chart every product dashboard opens
    with.  Cumulative DISTINCT is made windowable by the
    first-occurrence trick: an entity contributes exactly once, at
    min(day), so the cumulative is a running SUM of per-day first-seen
    counts — exact integers end to end.  Returns
    (day, dau, new_entities, cum_entities).

    Scale: first-day and DAU are combinable aggregates; the running sum
    rides the per-DAY aggregate, whose cardinality is calendar-bounded
    — structurally model-sized."""
    firstd = df.groupBy(F.col(id_col).alias("_id")).agg(
        F.min(F.date_trunc("day", ts_col)).alias("_d")
    )
    newu = firstd.groupBy(F.col("_d").alias("day")).agg(
        F.count(F.lit(1)).alias("new_entities")
    )
    act = df.groupBy(F.date_trunc("day", ts_col).alias("day")).agg(
        F.countDistinct(id_col).alias("dau")
    )
    j = act.join(newu, "day", "left").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.coalesce("new_entities", F.lit(0))
        .cast("long")
        .alias("new_entities"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "day",
        "dau",
        "new_entities",
        F.sum("new_entities").over(w).cast("long").alias("cum_entities"),
    )


@register(
    "users_cumulative",
    oracle="""
    WITH firstd AS (
      SELECT user_id, min(date_trunc('day', ts)) AS d
      FROM events GROUP BY user_id
    ), newu AS (
      SELECT d, count(*) AS new_users FROM firstd GROUP BY d
    ), act AS (
      SELECT date_trunc('day', ts) AS day, count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    )
    SELECT CAST(a.day AS TIMESTAMP) AS day,
           CAST(a.dau AS BIGINT) AS dau,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(n.new_users, 0))
                  OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM act a LEFT JOIN newu n ON a.day = n.d
    """,
)
def users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + cumulative distinct users — the growth chart
    every product dashboard opens with: the `cumulative_entities` kernel
    on the events table."""
    return cumulative_entities(
        table(spark, sf_dir, "events"), "user_id", "ts"
    ).select(
        "day",
        "dau",
        F.col("new_entities").alias("new_users"),
        F.col("cum_entities").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# graph_degree_dist — copurchase-graph degree distribution (round 7)
# ---------------------------------------------------------------------------

@register(
    "graph_degree_dist",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT p, count(*) AS degree FROM (
        SELECT pa AS p, pb FROM edges
        UNION ALL
        SELECT pb AS p, pa FROM edges
      ) GROUP BY p
    )
    SELECT CAST(length(bin(CAST(degree AS INTEGER))) - 1 AS INTEGER)
             AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph (parts sharing an
    order), log2-bucketed — the first thing to look at before running
    pagerank/triangles on a graph: a heavy tail here predicts hot-key
    skew in every downstream graph shuffle.  The log2 bucket is computed
    via BINARY STRING LENGTH (length(bin(degree)) - 1), i.e. pure
    integer floor(log2) — no FP log whose last bit could disagree
    across engines at bucket boundaries.

    Scale: edge generation is the basket_copurchase O(k²)-per-order
    fan-out (bounded by lines-per-order); degrees and buckets are
    combinable aggregates."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    # pinned: edges feeds both endpoint-union halves — un-pinned the
    # O(k^2) pair join ran twice (plan-audit, SCALE.md §50).
    edges = pin(edges)
    deg = (
        edges.select(F.col("pa").alias("p"))
        .unionAll(edges.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    bucket = (
        F.length(F.conv(F.col("degree").cast("string"), 10, 2)) - 1
    ).cast("int")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("degree").cast("long").alias("min_degree"),
        F.max("degree").cast("long").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
# events_props_stats — typed aggregation over the JSON props column (round 7)
# ---------------------------------------------------------------------------

@register(
    "events_props_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                      AS DOUBLE) / count(*), 4) AS avg_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a semi-structured payload: extract the integer
    property from the JSON props string and roll it up per event type —
    the ubiquitous "stats over a JSON column" warehouse query (fn_json
    certifies the scalar extraction; this certifies extraction FUSED
    into a combinable aggregate).  avg is an exact-integer / count
    rational, rounded identically both engines.

    Scale: get_json_object is JVM-side (Jackson) inside codegen — the
    parse fuses into the scan; one map-side-combinable shuffle on
    event_type."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        r4(F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# orders_seasonality_index — monthly revenue index (round 7)
# ---------------------------------------------------------------------------

@register(
    "orders_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT month(o_orderdate) AS month,
             sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT sum(rev) AS total, count(*) AS n_months FROM m
    )
    SELECT m.month,
           round(CAST(m.rev AS DOUBLE), 4) AS revenue,
           round(CAST(m.rev AS DOUBLE) * t.n_months
                 / CAST(t.total AS DOUBLE), 4) AS seasonality_index
    FROM m CROSS JOIN tot t
    """,
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index: each calendar month's revenue over the
    all-months average (index > 1 = hot month) — the demand-planning
    query behind safety-stock and staffing decisions.  Sums accumulate
    in DECIMAL(38,6) (order-independent), and the index is computed by
    the IDENTICAL IEEE tree `rev * n_months / total` on exact-decimal
    inputs, so the rounded doubles agree bit-for-bit.

    Scale: one map-side-combinable month aggregate (12 rows), grand
    total broadcast back as one row."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.month("o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev")
    )
    tot = m.agg(
        F.sum("rev").alias("total"), F.count(F.lit(1)).alias("n_months")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        "month",
        r4(F.col("rev").cast("double")).alias("revenue"),
        r4(
            F.col("rev").cast("double")
            * F.col("n_months")
            / F.col("total").cast("double")
        ).alias("seasonality_index"),
    )
