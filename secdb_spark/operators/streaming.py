"""§2.I — Streaming operators (incremental-ETL surface).

Reference semantics: the reference's incremental monthly-feed update loop
(mount empty — SURVEY §2.I) maps to Structured Streaming. Strategy per
SURVEY §5.2.5: ops with batch-equivalent semantics (tumbling / sliding /
session windows, stream-static join) run their window logic in BATCH mode
here and carry an exact DuckDB oracle — the semantics under test are the
window assignment rules, which are identical in micro-batch execution.
Genuinely stateful streaming ops (watermark eviction, in-stream dedup,
arbitrary state) run REAL streaming queries (availableNow trigger ->
memory sink) and are rows-only (D class): no batch oracle can express
eviction timing.

100 TB notes: windowed aggs keyed by (window, key) shuffle once; state
store size is bounded by watermark horizon x key cardinality; session
windows merge in the state store — the batch forms below share those
shuffle shapes exactly.
"""

from __future__ import annotations

import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import SCHEMAS, events_ts_to_us, table
from ..registry import register
from ..session import scratch_dir
from ._helpers import DEC


def _events_stream(spark: SparkSession, sf_dir: str):
    """readStream over the events file (staged dir) with the ns->us fix."""
    import os

    stage = scratch_dir("stream")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(stage, "events.parquet"))
    raw = spark.readStream.schema(SCHEMAS["events"]).parquet(stage)
    return raw.withColumn("ts", events_ts_to_us(sf_dir))


def _run_to_memory(df, name_prefix: str, output_mode: str = "append"):
    sink = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            f"streaming query {sink} did not finish in 180s; "
            "memory sink would be partial"
        )
    return sink


@register(
    "stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts (batch form of the streaming agg —
    window assignment floor(ts/1h) is identical in micro-batch)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@register(
    "stream_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS window_start,
           count(*) AS n
    FROM events, generate_series(0, 3) AS t(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min: every event belongs to exactly 4
    windows (oracle: explicit k=0..3 window replication — the same
    expansion Spark's Expand operator generates)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@register(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             -- strict >: session_window merges CLOSED intervals — an event
             -- EXACTLY gap after its predecessor still merges (verified
             -- empirically; encoded in test_hypothesis_determinism)
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), islands AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
           count(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEADLINE q_session — 30-min-gap sessionization via session_window
    (the native streaming operator, batch-executed; oracle is the
    gaps-and-islands formulation proven to match in the survey).
    session_window merges rows <=30min apart — state-store merge in
    streaming, sort+merge per key in batch; one shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("session_last"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "session_last",
            "n_events",
        )
    )


@register(
    "stream_static_join",
    oracle="""
    WITH dim(event_type, weight) AS (
      VALUES ('click', 1), ('view', 1), ('purchase', 5), ('signup', 3), ('error', 0)
    )
    SELECT weight, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events JOIN dim USING (event_type)
    GROUP BY weight
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension enrichment — REAL streaming execution
    (availableNow) with a broadcastable static side; deterministic, so it
    keeps an exact batch oracle. In production the static side is a slowly
    changing dim reloaded per micro-batch."""
    dim = spark.createDataFrame(
        [("click", 1), ("view", 1), ("purchase", 5), ("signup", 3), ("error", 0)],
        "event_type string, weight int",
    )
    stream = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(dim), "event_type")
        .groupBy("weight")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
    )
    sink = _run_to_memory(stream, "stream_sjoin", "complete")
    return spark.table(sink)


@register(
    "stream_watermark",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ), wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n
    FROM h, wm
    WHERE window_start + INTERVAL 1 HOUR < w
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed count with a 10-minute watermark — REAL streaming run.
    The watermark bounds state (windows older than max_event_time - 10min
    are finalized and evicted).

    Batch-equivalent oracle (the round-6 upgrade from D class): with an
    availableNow replay of a static file, append mode emits exactly the
    windows the FINAL watermark has passed — window_end < max(ts) - 10min
    (strict: a window whose end equals the watermark is withheld, per the
    'watermark past the window end' emission rule) — and each emitted
    count equals the batch tumbling count because nothing arrived late.
    Eviction TIMING stays execution-dependent; the emitted SET is not,
    which is precisely what the oracle pins."""
    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    sink = _run_to_memory(stream, "stream_wm", "append")
    return spark.table(sink)


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, min(user_id) AS user_id,
           min(event_type) AS event_type
    FROM events GROUP BY event_id
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once by key within the watermark horizon
    (dropDuplicatesWithinWatermark) — REAL streaming run. State holds one
    entry per key only until the watermark passes it (bounded, unlike
    plain dropDuplicates whose state grows forever on a stream).

    Batch-equivalent oracle (round-6 upgrade from D class): one surviving
    row per event_id.  The oracle's min() projections equal the stream's
    first-arrival survivor as long as (user_id, event_type) is
    functionally dependent on event_id — true of the corpus (event_id is
    its primary key; duplicates, if the generator ever emits them, are
    whole-row repeats).  If that FD ever breaks the driver shows a red
    hash, which is the correct loud failure."""
    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    sink = _run_to_memory(stream, "stream_dedup", "append")
    return spark.table(sink)


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state (applyInPandasWithState): running event
    count + fixed-point-cents value total per user, carried across
    micro-batches in an explicit state struct — the custom-stateful-
    operator surface (running carts / per-entity accumulators).

    Batch-equivalent oracle (round-6 upgrade from D class): an
    availableNow replay's FINAL update-mode row per user equals the batch
    group-by.  Cents quantize half-up (floor(x·100 + 0.5) — the repo's
    dsum_scaled convention, valid for the nonnegative event values)
    rather than numpy's half-even .round(), so the stream's integer state
    and the oracle's BIGINT sum agree digit-for-digit; the closing
    /100.0 is one IEEE division in both engines."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np

        total_n, total_cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total_n += len(pdf)
            total_cents += int(np.floor(pdf["value"] * 100 + 0.5).sum())
        state.update((total_n, total_cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [total_n],
                "total_value": [total_cents / 100.0],
            }
        )

    stream = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = _run_to_memory(stream, "stream_state", "update")
    return spark.table(sink)


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (view->purchase attribution within 30 min):
    BOTH sides are real streams with watermarks; the time-bound join
    condition lets Spark evict view-state older than the purchase
    watermark minus 30 min (unbounded state otherwise — the condition is
    mandatory, not an optimization). Inner join + availableNow is
    deterministic, so it keeps an exact batch SQL oracle."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )
    sink = _run_to_memory(joined, "stream_ssj", "append")
    return spark.table(sink)


@register(
    "stream_foreach_batch",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           round(value, 4) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch streaming merge — the production pattern for keeping
    a keyed state table current from a stream when the sink has no
    native upsert: each micro-batch MERGEs into the accumulated state
    (union + latest-wins by (ts, event_id)), written to a fresh version
    directory per batch (atomic swap semantics; production would be a
    Delta/Iceberg MERGE or compacting upsert).  The input is staged as
    four files consumed one per trigger, so the merge loop genuinely
    executes 4 times — and because latest-wins is associative across any
    batch split, the final state is EXACTLY the batch answer, giving a
    real streaming run an exact oracle.  State size is |keys|, not
    |events|; each merge shuffles only state+batch on user_id."""
    import os

    from pyspark.sql import Window

    stage = scratch_dir("fb")
    ev = table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(os.path.join(stage, "in"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "in"))
    )

    state_base = os.path.join(stage, "state")
    latest_version: list[int] = []
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def merge(batch_df, batch_id: int) -> None:
        cur = batch_df
        if latest_version:
            prev = batch_df.sparkSession.read.parquet(
                f"{state_base}/v{latest_version[-1]}"
            )
            cur = prev.unionByName(batch_df)
        latest = (
            cur.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        latest.write.mode("overwrite").parquet(f"{state_base}/v{batch_id}")
        latest_version.append(batch_id)

    q = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(stage, "ckpt"))
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("stream_foreach_batch did not drain in 180s")

    final = spark.read.parquet(f"{state_base}/v{latest_version[-1]}")
    return final.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.round("value", 4).alias("last_value"),
    )


@register(
    "stream_topk_windowed",
    oracle="""
    WITH cnt AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT window_start, CAST(sum(n) AS BIGINT) AS n_total
      FROM cnt GROUP BY 1
    ), rk AS (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS r
      FROM cnt
    )
    SELECT t.window_start, r.event_type AS top_type, r.n AS top_n,
           t.n_total
    FROM tot t JOIN rk r ON t.window_start = r.window_start AND r.r = 1
    """,
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "trending now" streaming query: per 1-hour tumbling window,
    the most frequent event type and its count beside the window total
    (batch form — window assignment and per-window argmax are identical
    in micro-batch; in production this is the windowed agg + a
    foreachBatch argmax over the per-window aggregate).  The argmax is
    a min-by-struct over the (window × type) aggregate — no Window
    function, no second data-sized shuffle; ties break on type name.
    State-store footprint in streaming: |windows-in-horizon| × |types|
    rows."""
    ev = table(spark, sf_dir, "events")
    cnt = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return (
        cnt.groupBy("window_start")
        .agg(
            F.min(F.struct((-F.col("n")).alias("neg_n"), "event_type")).alias("m"),
            F.sum("n").cast("long").alias("n_total"),
        )
        .select(
            "window_start",
            F.col("m.event_type").alias("top_type"),
            (-F.col("m.neg_n")).cast("long").alias("top_n"),
            "n_total",
        )
    )


@register(
    "stream_hopping_uniques",
    oracle="""
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
             AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
    FROM events, generate_series(0, 3) AS t(k)
    GROUP BY 1
    """,
)
def stream_hopping_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users (1-hour window, 15-min hop) — the
    live concurrent-audience metric.  Batch form of the hopping
    windowed COUNT DISTINCT: Spark's Expand replicates each event into
    its 4 covering windows (the oracle writes that expansion out
    explicitly), then one shuffle on (window, user) feeds the exact
    distinct; in streaming the same plan runs against the state store,
    whose footprint is |windows-in-horizon| × |active users| — the op
    you swap to agg_hll_sketch when that product stops fitting."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("uniq_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "uniq_users")
    )
