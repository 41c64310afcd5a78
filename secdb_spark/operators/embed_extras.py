"""Round-7 additions, batch 8 — embedding-space diagnostics.

Reference semantics: SURVEY §2 extension policy (mount empty) — the
dataset-debugging queries an embedding pipeline runs before trusting a
corpus: per-dimension moment profiles (whitening/dead-dim checks),
per-label outlier candidates (mislabel detection), and inter-class
margin/confusion (label-quality scoring against nearest-centroid).

All three share one relational decomposition: `posexplode(embedding)`
into (vec_id, label, pos, x) rows — DuckDB mirrors it with zipped
`unnest(embedding) / unnest(range(...))` — so centroids are plain
combinable aggregates on (label, pos), distances are broadcast joins
against the model-sized centroid frame, and NOTHING ever collects a
vector to the driver.  Distance terms quantize to e6 integers before
summation (order-free exactness, §4.4.2); centroid means come off the
DECIMAL(38,6) exact-sum path shared with `_helpers.dsum`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import table
from ..registry import register
from ._global_order import grouped_bucketed_topk
from ._helpers import pin, DEC, r4

_E_SQL = """
      SELECT vec_id, label,
             CAST(unnest(embedding) AS DOUBLE) AS x,
             unnest(range(0, len(embedding))) AS pos
      FROM embeddings
"""

_CENT_SQL = """
      SELECT label, pos,
             CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS c
      FROM e GROUP BY label, pos
"""


def _exploded(df: DataFrame, vec_col: str, *keep: str) -> DataFrame:
    """(keep..., pos, x): one row per vector component of `vec_col`,
    pos as long and x as double."""
    return df.select(
        *keep,
        F.posexplode(vec_col).alias("pos", "xf"),
    ).select(
        *keep,
        F.col("pos").cast("long").alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )


def _centroids(e: DataFrame) -> DataFrame:
    return e.groupBy("label", "pos").agg(
        (F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "c"
        )
    )


# ---------------------------------------------------------------------------
# embed_dim_stats — per-dimension moment profile of the embedding corpus
# ---------------------------------------------------------------------------

def embedding_dim_stats(
    df: DataFrame,
    vec_col: str,
) -> DataFrame:
    """Per-dimension mean/std/min/max over ANY embedding column
    (embed_dim_stats' algebra with the column parameterized) — the
    whitening / dead-dimension / clipped-dimension diagnostic run
    before any ANN index is trusted.  posexplode fans each vector into
    dims rows, but the aggregate is map-side combinable on the
    dims-sized pos key, so every partition reduces to |dims| rows
    before the single Exchange — one pass regardless of corpus size.
    Moments use the exact DECIMAL(38,6) sum path (float inputs are
    exact as doubles; x and x*x quantize identically in both engines);
    min/max are exact unrounded singles.  Returns (pos, n, mean, std,
    vmin, vmax)."""
    e = _exploded(df, vec_col)
    n = F.count(F.lit(1))
    sd = F.sum(F.col("x").cast(DEC)).cast("double")
    sq = F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double")
    return e.groupBy("pos").agg(
        n.cast("long").alias("n"),
        r4(sd / n).alias("mean"),
        r4(
            F.sqrt(
                F.greatest(
                    F.lit(0.0), (sq - sd * sd / n) / (n - F.lit(1))
                )
            )
        ).alias("std"),
        F.min("x").alias("vmin"),
        F.max("x").alias("vmax"),
    )


@register(
    "embed_dim_stats",
    oracle=f"""
    WITH e AS ({_E_SQL})
    SELECT pos,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 4) AS mean,
           round(sqrt(greatest(CAST(0 AS DOUBLE),
             (CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)
              - CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
                * CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*))
             / (count(*) - 1))), 4) AS std,
           min(x) AS vmin,
           max(x) AS vmax
    FROM e GROUP BY pos
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the whole embedding corpus —
    the whitening / dead-dimension / clipped-dimension diagnostic run
    before any ANN index is trusted.  posexplode fans each vector into
    dims rows, but the aggregate is map-side combinable on the dims-sized
    pos key, so every partition reduces to |dims| rows before the single
    Exchange — the 100-TB cost is one pass over the data regardless of
    corpus size.  Moments use the exact DECIMAL(38,6) sum path (float
    inputs are exact as doubles; x and x*x quantize identically in both
    engines); min/max are exact unrounded singles."""
    return embedding_dim_stats(table(spark, sf_dir, "embeddings"), "embedding")


# ---------------------------------------------------------------------------
# embed_label_outliers — farthest members from their own label centroid
# ---------------------------------------------------------------------------

OUTLIER_K = 3


@register(
    "embed_label_outliers",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    cent AS ({_CENT_SQL}),
    t AS (
      SELECT e.vec_id, e.label,
             CAST(floor((e.x - c.c) * (e.x - c.c) * 1000000 + 0.5)
                  AS BIGINT) AS tq
      FROM e JOIN cent c ON e.label = c.label AND e.pos = c.pos
    ), d AS (
      SELECT vec_id, label, CAST(sum(tq) AS BIGINT) AS d2q
      FROM t GROUP BY vec_id, label
    ), r AS (
      SELECT label, vec_id, d2q,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2q DESC, vec_id) AS rk
      FROM d
    )
    SELECT label, vec_id,
           round(CAST(d2q AS DOUBLE) / 1000000, 4) AS d2,
           CAST(rk AS INT) AS rk
    FROM r WHERE rk <= {OUTLIER_K}
    """,
)
def embed_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {OUTLIER_K} vectors farthest (squared L2) from their own
    label's centroid, per label — the standard mislabel-candidate sweep.
    Centroids are combinable (label, pos) aggregates on the exact-decimal
    mean path; the distance join broadcasts the |labels|x|dims| centroid
    frame (model-sized); each per-dim term quantizes to an e6 integer so
    the per-vector distance is an exact BIGINT (order-free).  The
    top-{OUTLIER_K}-per-label over the vector-count-sized distance frame
    dispatches to `grouped_bucketed_topk` — low-cardinality label groups
    never funnel the corpus through |labels| tasks (the §6 anti-pattern
    the kernel exists for).  Ranks are tie-safed on vec_id."""
    e = _exploded(
        table(spark, sf_dir, "embeddings"), "embedding", "vec_id", "label"
    )
    cent = _centroids(e)
    tq = F.floor(
        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * 1000000
        + 0.5
    ).cast("long")
    d = (
        e.join(F.broadcast(cent), ["label", "pos"])
        .select("vec_id", "label", tq.alias("tq"))
        .groupBy("vec_id", "label")
        .agg(F.sum("tq").cast("long").alias("d2q"))
    )
    # pinned: the distance frame feeds the top-k kernel's three internal
    # consumers — un-pinned each re-ran the centroid join (plan-audit,
    # SCALE.md §50).
    d = pin(d)
    top = grouped_bucketed_topk(
        d.withColumn("neg", -F.col("d2q")),
        ["label"],
        "neg",
        ["vec_id"],
        OUTLIER_K,
        out="rk",
    )
    return top.select(
        "label",
        "vec_id",
        r4(F.col("d2q").cast("double") / 1000000).alias("d2"),
        F.col("rk").cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------------
# embed_margin — nearest-centroid margin / confusion per label
# ---------------------------------------------------------------------------

@register(
    "embed_margin",
    oracle=f"""
    WITH e AS ({_E_SQL}),
    cent AS ({_CENT_SQL}),
    t AS (
      SELECT e.vec_id, e.label, c.label AS clabel,
             CAST(floor((e.x - c.c) * (e.x - c.c) * 1000000 + 0.5)
                  AS BIGINT) AS tq
      FROM e JOIN cent c ON e.pos = c.pos
    ), d AS (
      SELECT vec_id, label, clabel, CAST(sum(tq) AS BIGINT) AS d2q
      FROM t GROUP BY vec_id, label, clabel
    ), v AS (
      SELECT vec_id, label,
             min(CASE WHEN clabel = label THEN d2q END) AS d_own,
             min(CASE WHEN clabel <> label THEN d2q END) AS d_other
      FROM d GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE d_other < d_own) AS BIGINT)
             AS n_confused,
           round(CAST(sum(d_other - d_own) AS DOUBLE) / 1000000
                 / count(*), 4) AS avg_margin
    FROM v GROUP BY label
    """,
)
def embed_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid margin per label: for every vector, squared-L2
    distance to its own centroid vs the closest OTHER centroid; reports
    per label the count of confused vectors (another centroid strictly
    closer — the nearest-centroid error rate) and the mean margin.  The
    all-centroids scan joins the exploded corpus to the broadcast
    |labels|x|dims| centroid frame on pos alone — per-row work is
    dims x |labels|, the exact ADC-style price, bounded by the label
    count, with zero candidate generation and zero windows.  Distances
    are exact e6-quantized BIGINTs end to end; the single derived double
    (avg_margin) divides exact integers in identical trees."""
    e = _exploded(
        table(spark, sf_dir, "embeddings"), "embedding", "vec_id", "label"
    )
    cent = _centroids(e).withColumnRenamed("label", "clabel")
    tq = F.floor(
        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * 1000000
        + 0.5
    ).cast("long")
    d = (
        e.join(F.broadcast(cent), "pos")
        .select("vec_id", "label", "clabel", tq.alias("tq"))
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("tq").cast("long").alias("d2q"))
    )
    v = d.groupBy("vec_id", "label").agg(
        F.min(
            F.when(F.col("clabel") == F.col("label"), F.col("d2q"))
        ).alias("d_own"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("d2q"))
        ).alias("d_other"),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("d_other") < F.col("d_own"), 1)).alias(
            "n_confused"
        ),
        r4(
            F.sum(F.col("d_other") - F.col("d_own")).cast("double")
            / 1000000
            / F.count(F.lit(1))
        ).alias("avg_margin"),
    )
