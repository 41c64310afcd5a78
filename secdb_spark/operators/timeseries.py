"""Time-series / hypertable-style operators over the `events` table.

The reference's event-log surface (SURVEY §1.3, §2.I) covers streaming
sessionization and windowed aggregates; these are the BATCH counterparts a
warehouse runs over the historical event store — gap-based sessionization
as pure window algebra, and the TimescaleDB-style "continuous aggregate"
rollup where coarser resolutions re-aggregate finer partials instead of
rescanning the raw events.

Scale notes (100 TB event store):
- `events_sessionize` costs exactly ONE shuffle: both window specs and the
  final groupBy share the user_id hash partitioning, so Catalyst plans a
  single Exchange followed by one sort — verified in tests/test_plans.py.
  Per-user state is a running sum, never a materialized session list.
- `rollup_timeseries` scans raw events ONCE for the finest resolution;
  every coarser bucket re-aggregates the hourly partials (|hours| rows,
  ~10^5 per year — trivially small vs 10^12 raw events).  This is the
  hypertable invariant: rollup cost is proportional to the finer AGGREGATE,
  not to the raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register

SESSION_GAP_MIN = 30  # matches stream_session


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    out_col: str = "session_id",
) -> DataFrame:
    """events_sessionize's gap rule on any (user, timestamp): adds a
    per-user integer session id that increments after gap_minutes of
    inactivity.  One shuffle on the user key.  TIMESTAMP_NTZ columns
    (parquet's timezone-naive default) are accepted — the gap only ever
    compares two casts of the same column, so under a FIXED-OFFSET
    session timezone (UTC, the engine default) the interpretation
    cancels exactly.  Under a DST-observing session tz, the two casts of
    a gap spanning a transition land on different UTC offsets, skewing
    that one gap by the offset change (and spring-forward local times
    don't exist) — run with spark.sql.session.timeZone=UTC for NTZ
    inputs, or pre-cast to instants yourself.

    The window orders by the timestamp alone: rows tied on it may sort
    either way, but a tied row's gap is 0, so it never opens a session
    and the ids do not depend on the tie order.  The timestamp is
    projected to epoch-µs once, so the lag and the running sum operate
    on plain longs; per-user state is a running sum, never a
    materialized session list."""
    gap_us = gap_minutes * 60 * 1_000_000
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = t - F.lag(t).over(w)
    boundary = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    return df.withColumn(
        out_col,
        F.sum(boundary).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           round(sum(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 30-min-gap sessionization — the historical-store counterpart
    of stream_session: the `sessionize` kernel numbers each user's
    sessions, then one aggregate summarizes each session.

    Both windows and the final groupBy hash-partition on user_id, so the
    whole pipeline is one Exchange + one sort."""
    ev = table(spark, sf_dir, "events")
    sess = sessionize(
        ev, "user_id", "ts", SESSION_GAP_MIN, out_col="session_seq"
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "rollup_timeseries",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events, sum(value) AS raw_sum
      FROM events
      GROUP BY 1, 2
    )
    SELECT 'hour' AS resolution, event_type, bucket,
           n_events, round(raw_sum, 4) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, event_type,
           date_trunc('day', bucket) AS bucket,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           round(sum(raw_sum), 4) AS sum_value
    FROM hourly
    GROUP BY 2, 3
    """,
)
def rollup_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly per-type
    aggregates from ONE scan of raw events; each hourly partial then
    EMITS BOTH resolutions (an explode into ('hour', bucket) and
    ('day', trunc(bucket))) and one re-aggregate keyed by (resolution,
    type, bucket) produces the union — the daily numbers are sums of
    the hourly partials, never a second pass over raw data.

    Round 9 restructure (SCALE.md §61): the previous union-of-branches
    form consumed the hourly frame twice and Catalyst re-ran the raw
    scan per branch (2 scans, 3 exchanges; ReusedExchange does not fire
    across the differing parents).  The explode form is 1 scan +
    2 exchanges — the second shuffle carries only 2x the
    calendar-bounded hourly partials — and measured ~9% faster
    interleaved at sf0.1.  Rounding happens only at the output
    projection, so both resolutions stay bit-consistent with a direct
    daily aggregation."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("raw_sum"),
    )
    both = hourly.select(
        "event_type",
        "n_events",
        "raw_sum",
        F.explode(
            F.array(
                F.struct(
                    F.lit("hour").alias("resolution"),
                    F.col("bucket").alias("b"),
                ),
                F.struct(
                    F.lit("day").alias("resolution"),
                    F.date_trunc("day", "bucket").alias("b"),
                ),
            )
        ).alias("r"),
    )
    return both.groupBy(
        F.col("r.resolution").alias("resolution"),
        "event_type",
        F.col("r.b").alias("bucket"),
    ).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.sum("raw_sum"), 4).alias("sum_value"),
    )


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    stage_col: str,
    stages: list[str],
    tie_col: str | None = None,
) -> DataFrame:
    """Ordered-funnel counts on ANY event table (funnel_events' algebra
    with the stage list parameterized): returns one row per funnel
    prefix — (stage, n_users) where stage is 'a', 'a>b', 'a>b>c', … and
    n_users counts users who reached that stage IN ORDER (each stage
    strictly after a row completing the previous prefix).

    Scale shape: ONE pass — k per-user ordered windows computing
    'seen prefix k strictly before this row' flags, then one per-user
    aggregation; every window and the groupBy share the user partitioning
    so there is a single Exchange regardless of k (no per-stage
    self-joins).  `tie_col` breaks equal-timestamp ordering
    deterministically (defaults to the stage column)."""
    if not stages:
        raise ValueError("stages must name at least one funnel step")
    tie = tie_col or stage_col
    before = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, tie)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # reached[k]: this row completes prefix k.  reached[0] stays an
    # expression (re-evaluated from the stage column, not carried through
    # the window sorts); the later ones read a window output, so they
    # are columns.
    reached = [F.when(F.col(stage_col) == stages[0], 1).otherwise(0)]
    cur = df
    for k in range(1, len(stages)):
        cur = cur.withColumn(f"_seen{k}", F.max(reached[k - 1]).over(before))
        cur = cur.withColumn(
            f"_r{k}",
            F.when(
                (F.col(stage_col) == stages[k]) & (F.col(f"_seen{k}") == 1), 1
            ).otherwise(0),
        )
        reached.append(F.col(f"_r{k}"))
    per_user = cur.groupBy(user_col).agg(
        *[F.max(r).alias(f"_f{k}") for k, r in enumerate(reached)]
    )
    totals = per_user.agg(
        *[F.sum(f"_f{k}").cast("long").alias(f"_n{k}")
          for k in range(len(stages))]
    )
    labels = [">".join(stages[: k + 1]) for k in range(len(stages))]
    return totals.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(lb) for lb in labels]),
                F.array(*[F.col(f"_n{k}") for k in range(len(stages))]),
            )
        ).alias("stage", "n_users")
    )


@register(
    "funnel_events",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts, event_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seen_view
      FROM events
    ), s2 AS (
      SELECT user_id, event_type, ts, event_id, seen_view,
             max(CASE WHEN event_type = 'click' AND seen_view = 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seen_click_after
      FROM s1
    ), per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
             max(CASE WHEN event_type = 'click' AND seen_view = 1
                      THEN 1 ELSE 0 END) AS f2,
             max(CASE WHEN event_type = 'purchase' AND seen_click_after = 1
                      THEN 1 ELSE 0 END) AS f3
      FROM s2
      GROUP BY user_id
    )
    SELECT 'view' AS stage, CAST(sum(f1) AS BIGINT) AS n_users FROM per_user
    UNION ALL
    SELECT 'view>click', CAST(sum(f2) AS BIGINT) FROM per_user
    UNION ALL
    SELECT 'view>click>purchase', CAST(sum(f3) AS BIGINT) FROM per_user
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase): the `funnel`
    kernel over the events table, ties on time broken by event_id.
    Instead of per-stage self-joins (k-1 joins, each a shuffle), per-user
    ordered windows compute 'seen stage k strictly before this row'
    flags and one aggregation counts users reaching each stage IN
    ORDER.  All windows and the per-user groupBy share the user_id
    partitioning — one Exchange over the events, the same discipline as
    events_sessionize.  At 100 TB the state per user is k bits, not an
    event list.  The order key is epoch-µs: the same order as ts, and
    the long key sorted measurably faster than the timestamp column at
    sf0.1 (4 cores)."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return funnel(
        ev, "user_id", "us", "event_type", ["view", "click", "purchase"],
        tie_col="event_id",
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    grain: str = "week",
) -> DataFrame:
    """Cohort retention matrix on ANY (user, timestamp) table
    (retention_cohort's algebra with the grain parameterized): users
    bucket by first-seen period, counted in each period they were
    active — returns (cohort, periods_since, n_users).

    Scale shape: the narrow (user, period) projection repartitions on
    the user key ONCE and both branches (cohort min, active distinct)
    derive from it — hash(user) satisfies both clustered distributions,
    so AQE reuses the exchange and raw events shuffle once; only the
    tiny |periods|² matrix aggregation re-shuffles."""
    days_per = {"day": 1, "week": 7, "month": None}
    if grain not in days_per:
        raise ValueError(f"grain must be one of {sorted(days_per)}")
    by_user = df.select(
        F.col(user_col).alias("_u"),
        F.date_trunc(grain, F.col(ts_col)).alias("_p"),
    ).repartition("_u")
    cohort = by_user.groupBy("_u").agg(F.min("_p").alias("cohort"))
    active = by_user.distinct()
    joined = active.join(cohort, "_u")
    if grain == "month":
        since = F.round(F.months_between("_p", "cohort")).cast("long")
    else:
        since = (F.datediff("_p", "cohort") / days_per[grain]).cast("long")
    return joined.groupBy("cohort", since.alias("periods_since")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "retention_cohort",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT)
             AS weeks_since,
           count(*) AS n_users
    FROM active JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: the `retention_cohorts` kernel at weekly
    grain — users bucketed by first-seen week, counted in each
    subsequent active week.  Three aggregations, ONE logical
    partitioning: cohort assignment (groupBy user), distinct active
    weeks (groupBy user+week), and the cohort-week join all hash on
    user_id, so the join is co-partitioned with its inputs; only the
    final (tiny: |weeks|²) matrix aggregation re-shuffles.  Raw events
    are shuffled once, not twice (the ReusedExchange is pinned on the
    executed plan in tests/test_plans.py)."""
    m = retention_cohorts(table(spark, sf_dir, "events"), "user_id", "ts")
    return m.select(
        F.col("cohort").alias("cohort_week"),
        F.col("periods_since").alias("weeks_since"),
        "n_users",
    )


@register(
    "rollup_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events, round(sum(value), 4) AS sum_value
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
      FROM hourly GROUP BY 1
    ), grid AS (
      SELECT b.event_type, g.bucket
      FROM bounds b,
           LATERAL (SELECT unnest(generate_series(b.lo, b.hi,
                                  INTERVAL 1 HOUR)) AS bucket) g
    )
    SELECT g.event_type, g.bucket,
           CASE WHEN h.bucket IS NULL THEN 1 ELSE 0 END AS filled,
           coalesce(h.n_events, 0) AS n_events,
           round(last_value(h.sum_value IGNORE NULLS)
                 OVER (PARTITION BY g.event_type ORDER BY g.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS locf_sum_value
    FROM grid g LEFT JOIN hourly h USING (event_type, bucket)
    """,
)
def rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with last-observation-carried-forward —
    the time_bucket_gapfill counterpart to rollup_timeseries: a dense
    per-type hour grid (sequence + explode, generated from each type's
    min/max bucket — no driver loop), left-joined with the sparse hourly
    aggregate, missing buckets flagged and LOCF-interpolated via
    last_value(ignoreNulls) over the ordered grid.

    Scale: the grid is |types| × |hours| rows (~10^6/year — aggregate-
    sized, never event-sized); the join and the LOCF window both partition
    by event_type, and the sparse hourly side re-aggregates raw events
    exactly once."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    joined = grid.join(hourly, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "bucket",
        F.when(F.col("n_events").isNull(), 1).otherwise(0).alias("filled"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(
            F.last("sum_value", ignorenulls=True).over(w), 4
        ).alias("locf_sum_value"),
    )


def zscore_outliers(
    df: DataFrame,
    val_col: str,
    by: list[str] | None = None,
    threshold: float = 2.5,
) -> DataFrame:
    """Rows whose value lies beyond `threshold` sigma of their group's
    own mean (anomaly_zscore's algebra on ANY pre-aggregated frame):
    the stats side is |groups| rows, broadcast back, so the input is
    scanned and shuffled exactly once.  Feed it a continuous aggregate
    (e.g. hourly counts), not a raw log — the monitoring query a
    100 TB event store runs every hour.  Returns the flagged input
    rows + zscore (round 4)."""
    by = by or []
    stats = df.groupBy(*by).agg(
        F.avg(val_col).alias("_mu"),
        F.stddev_samp(val_col).alias("_sigma"),
    )
    z = (F.col(val_col) - F.col("_mu")) / F.col("_sigma")
    joined = (
        df.join(F.broadcast(stats), by)
        if by
        else df.crossJoin(F.broadcast(stats))
    )
    return (
        joined.filter(F.abs(z) > threshold)
        .withColumn("zscore", F.round(z, 4))
        .drop("_mu", "_sigma")
    )


@register(
    "anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             avg(n_events) AS mu,
             stddev_samp(n_events) AS sigma
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.bucket, h.n_events,
           round((h.n_events - s.mu) / s.sigma, 4) AS zscore
    FROM hourly h JOIN stats s USING (event_type)
    WHERE abs((h.n_events - s.mu) / s.sigma) > 2.5
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against the type's own mean/stddev by the `zscore_outliers` kernel,
    buckets beyond 2.5σ flagged.  Raw events are scanned and shuffled
    exactly once (the hourly groupBy); the stats side is |types| rows,
    broadcast back onto the hourly aggregate."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return zscore_outliers(
        hourly, "n_events", by=["event_type"], threshold=2.5
    )


@register(
    "concurrent_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value) AS BIGINT) * 1000000 AS e
      FROM events
    ), sweep AS (
      SELECT user_id, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS delta FROM iv
    ), c AS (
      SELECT user_id,
             sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM sweep
    )
    SELECT user_id, CAST(max(conc) AS BIGINT) AS max_concurrent
    FROM c GROUP BY user_id
    """,
)
def concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-overlap of intervals per user (peak concurrent sessions) via
    the sweep-line: each interval [ts, ts+floor(value) s] emits +1 at its
    start and -1 at its end, a running sum over the merged event stream
    is the instantaneous concurrency, and its max is the answer.  Ends
    sort before starts at the same instant (delta -1 < +1), so touching
    intervals don't count as overlapping.  The union, the window, and
    the final max all share ONE user_id hash partitioning — a single
    Exchange feeds sort, sweep, and partial-aggregated max.  Per-key
    state is one running integer; a key whose history exceeds a task
    splits by time-range with per-range carry-in (the classic
    prefix-sum decomposition), never by materializing the overlap
    graph."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor("value").cast("bigint") * F.lit(1_000_000)
        ).alias("e"),
    )
    sweep = ev.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        ev.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sweep.withColumn("conc", F.sum("delta").over(w))
        .groupBy("user_id")
        .agg(F.max("conc").cast("bigint").alias("max_concurrent"))
    )


def twap(
    df: DataFrame,
    val_col: str,
    time_col: str,
    by: list[str],
    tie_cols: list[str] | None = None,
    time_scale: float = 1e6,
) -> DataFrame:
    """Time-weighted average of ANY irregularly-spaced value series (the
    twap operator's algebra with columns parameterized): the
    step-function integral (each observation holds until the next one)
    divided by the covered duration — the correct summary when a plain
    avg() would over-weight bursts.  `time_col` is numeric (e.g. epoch
    micros with time_scale=1e6 for per-second weighting).  Entities with
    a single observation drop out (no holding period), as do
    zero-duration histories (guards the 0/0).  Returns (by..., twap).

    Scale: one lead() window and the per-entity aggregate share the
    `by` hash partitioning — one Exchange, one sort, combinable sums."""
    tie_cols = tie_cols or []
    w = Window.partitionBy(*by).orderBy(time_col, *tie_cols)
    dt = (F.lead(time_col).over(w) - F.col(time_col)) / F.lit(time_scale)
    return (
        df.select(*by, F.col(val_col).alias("_v"), dt.alias("_dt"))
        .filter(F.col("_dt").isNotNull())
        .groupBy(*by)
        .agg(
            F.sum(F.col("_v") * F.col("_dt")).alias("_wsum"),
            F.sum("_dt").alias("_dur"),
        )
        .filter(F.col("_dur") > 0)
        .select(
            *by, F.round(F.col("_wsum") / F.col("_dur"), 4).alias("twap")
        )
    )


@register(
    "twap",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    )
    SELECT user_id,
           round(sum(value * (nxt - us) / 1e6) / sum((nxt - us) / 1e6), 4)
             AS twap
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY user_id
    HAVING sum((nxt - us) / 1e6) > 0
    """,
)
def twap_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user: the `twap` kernel over
    epoch-µs timestamps, ties broken by event_id, weighted per second.
    One lead() window and the per-user aggregate share the user_id
    hash partitioning: one Exchange, one sort, partial-combinable
    sums."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    return twap(ev, "value", "us", by=["user_id"], tie_cols=["event_id"])


def scd2(
    df: DataFrame,
    key_cols: list[str],
    state_col: str,
    ts_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 reconstruction from ANY change
    log (scd2_history's algebra): collapse consecutive duplicate states
    per key, then each surviving row is valid from its own timestamp to
    the next change (valid_to NULL = current state).  Returns
    (key_cols..., state_col, valid_from, valid_to).

    Scale shape: both window passes and the filter between them share
    the key partitioning — one Exchange total; this is the batch
    backfill of what a stateful stream maintains incrementally."""
    order = [ts_col] + ([tie_col] if tie_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # row_number==1 (not _prev IS NULL) marks the first row per key, and
    # the state comparison is null-safe: lag() cannot distinguish "no
    # previous row" from "previous state was NULL", and (_prev != state)
    # evaluates to NULL when either side is NULL — which would silently
    # drop transitions INTO a NULL state and duplicate consecutive NULLs.
    changes = (
        df.withColumn("_prev", F.lag(state_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            | ~F.col("_prev").eqNullSafe(F.col(state_col))
        )
        .select(*key_cols, state_col, *order)
    )
    return changes.select(
        *key_cols,
        state_col,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    )


@register(
    "scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM changes
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 reconstruction from the event
    log: the `scd2` kernel with user_id as the key, event_type as the
    state and (ts, event_id) as the order.  Both window passes and the
    filter between them share the user_id partitioning — Catalyst plans
    ONE Exchange; the second Window adds only a sort (and since the
    filter preserves order, the sort is of already-sorted runs).  This
    is the batch backfill of what stream_stateful maintains
    incrementally."""
    return scd2(
        table(spark, sf_dir, "events"), ["user_id"], "event_type", "ts",
        tie_col="event_id",
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n AS n_transitions,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4)
             AS p_transition
    FROM cnt
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the navigation/behavior model behind "users who did X next did Y".
    The lead() window shuffles events once on user_id; the transition
    count groupBy reduces to a |types|² domain (map-side combinable), and
    the row-normalization window runs over that tiny aggregate, never the
    raw stream.  At 100 TB only the first shuffle touches data; the
    matrix itself is model-sized."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("nxt").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.round(F.col("n") / F.sum("n").over(wt), 4).alias("p_transition"),
    )
