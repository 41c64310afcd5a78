"""Round-7 additions, batch 11 — JSON sink round-trip, information-rate
metrics, engagement stickiness, bipartite assortativity, struct surface.

Reference semantics: SURVEY §2 extension policy (mount empty).  The
entropy family follows text_entropy_tokens' determinism pattern: each
per-key contribution `c * ln(x)` is an IEEE double computed identically
on both engines, quantized to DECIMAL(38,12) BEFORE summation so the
(order-free) exact decimal sum replaces the order-dependent float sum.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register
from ..session import scratch_dir
from ._helpers import check_free, dsum, pin, r4, sql_dsum

LN2 = repr(math.log(2))  # shared literal, bit-identical both engines

DEC12 = "decimal(38,12)"


# ---------------------------------------------------------------------------
# snk_json — JSON-lines sink + read-back aggregation (round-trip proof)
# ---------------------------------------------------------------------------

@register(
    "snk_json",
    oracle=f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round({sql_dsum('o_totalprice')}, 4) AS revenue,
           max(o_orderdate) AS last_order
    FROM orders GROUP BY o_orderpriority
    """,
)
def snk_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + read-back aggregation — completes the sink
    matrix (§2.A: parquet, csv, orc, sqlite, partitioned, now json).
    DuckDB certifies the ROUND-TRIP: the read-back aggregate (counts,
    exact-decimal revenue, max timestamp) equals the aggregate of the
    original table only if every value — including timestamps through
    their ISO string form — survived the format conversion.  Read-back
    supplies the original schema explicitly (schema inference on JSON is
    both slow and lossy at scale — a second full pass just to guess
    types).  Every call writes to a fresh `scratch_dir`, as snk_orc."""
    d = scratch_dir("json")
    o = table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").json(d)
    back = spark.read.schema(o.schema).json(d)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        r4(dsum(F.col("o_totalprice"))).alias("revenue"),
        F.max("o_orderdate").alias("last_order"),
    )


# ---------------------------------------------------------------------------
# markov_entropy_rate — conditional next-event entropy per previous type
# ---------------------------------------------------------------------------

@register(
    "markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev
      FROM events
    ), pair AS (
      SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev,
           CAST(sum(c) AS BIGINT) AS n_transitions,
           CAST(count(*) AS BIGINT) AS n_next_types,
           round((ln(CAST(sum(c) AS DOUBLE))
                  - CAST(sum(CAST(c * ln(CAST(c AS DOUBLE))
                                  AS DECIMAL(38,12))) AS DOUBLE) / sum(c))
                 / {LN2}, 4) AS h_bits
    FROM pair GROUP BY prev
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next | prev) in bits per previous event
    type — how predictable the next action is from the last one (the
    information-rate view of event_transitions' probability matrix; a
    type with h_bits near log2(|types|) carries no signal).  The lag
    runs per user (high-cardinality partitions, scale-safe); the
    transition counts are one combinable aggregate on the |types|² key;
    entropy follows the package's quantize-then-sum discipline
    (c·ln(c) terms exact-summed as DECIMAL(38,12)); the ln(2) divisor is
    a shared literal so the bit conversion is bit-identical."""
    ev = table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pair = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("long")
    s = F.sum(
        (F.col("c") * F.log(F.col("c").cast("double"))).cast(DEC12)
    ).cast("double")
    return pair.groupBy("prev").agg(
        n.alias("n_transitions"),
        F.count(F.lit(1)).alias("n_next_types"),
        r4(
            (F.log(n.cast("double")) - s / F.sum("c"))
            / float(LN2)
        ).alias("h_bits"),
    )


# ---------------------------------------------------------------------------
# source_cross_entropy — per-source cross-entropy / KL vs corpus unigram
# ---------------------------------------------------------------------------

@register(
    "source_cross_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE term <> '' GROUP BY 1, 2
    ), ct AS (
      SELECT term, CAST(sum(c) AS BIGINT) AS cnt FROM st GROUP BY 1
    ), nn AS (
      SELECT CAST(sum(c) AS BIGINT) AS big_n FROM st
    ), j AS (
      SELECT s.source, s.c, ct.cnt FROM st s JOIN ct ON s.term = ct.term
    ), a AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12)))
                  AS DOUBLE) AS s_self,
             CAST(sum(CAST(c * ln(CAST(cnt AS DOUBLE)) AS DECIMAL(38,12)))
                  AS DOUBLE) AS s_cross
      FROM j GROUP BY source
    )
    SELECT source, n_tokens,
           round((ln(CAST(n_tokens AS DOUBLE)) - s_self / n_tokens)
                 / {LN2}, 4) AS h_self,
           round((ln(CAST(nn.big_n AS DOUBLE)) - s_cross / n_tokens)
                 / {LN2}, 4) AS h_cross,
           round(((ln(CAST(nn.big_n AS DOUBLE)) - s_cross / n_tokens)
                  - (ln(CAST(n_tokens AS DOUBLE)) - s_self / n_tokens))
                 / {LN2}, 4) AS kl_bits
    FROM a, nn
    """,
)
def source_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram entropy, cross-entropy under the corpus-wide
    distribution, and their gap (the KL divergence in bits) — the
    domain-shift score a mixing pipeline reads before weighting sources
    (a source with high kl_bits is lexically far from the corpus).  No
    smoothing is needed: every source term exists in the corpus
    distribution by construction, so q > 0 always.  Token counts are
    two cascaded combinable aggregates; the corpus-count join shuffles
    on term (vocabulary-sized); both entropy sums follow the
    quantize-then-sum DECIMAL(38,12) discipline; N arrives as a one-row
    broadcast.  h_cross = ln(N) - Σ c·ln(cnt_t)/n  and  kl = h_cross -
    h_self are shared IEEE trees over the exact sums."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
    )
    # pinned: st feeds ct/nn/the term join — un-pinned each re-ran the
    # tokenize (plan-audit, SCALE.md §50).
    st = pin(
        toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    )
    ct = st.groupBy("term").agg(F.sum("c").cast("long").alias("cnt"))
    nn = st.agg(F.sum("c").cast("long").alias("big_n"))
    j = st.join(ct, "term")
    a = j.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(
            (F.col("c") * F.log(F.col("c").cast("double"))).cast(DEC12)
        ).cast("double").alias("s_self"),
        F.sum(
            (F.col("c") * F.log(F.col("cnt").cast("double"))).cast(DEC12)
        ).cast("double").alias("s_cross"),
    )
    out = a.crossJoin(F.broadcast(nn))
    h_self = (
        F.log(F.col("n_tokens").cast("double"))
        - F.col("s_self") / F.col("n_tokens")
    )
    h_cross = (
        F.log(F.col("big_n").cast("double"))
        - F.col("s_cross") / F.col("n_tokens")
    )
    ln2 = float(LN2)
    return out.select(
        "source",
        "n_tokens",
        r4(h_self / ln2).alias("h_self"),
        r4(h_cross / ln2).alias("h_cross"),
        r4((h_cross - h_self) / ln2).alias("kl_bits"),
    )


# ---------------------------------------------------------------------------
# stickiness_ratio — DAU / trailing-7-day-AU per day
# ---------------------------------------------------------------------------

STICKY_ANCHOR = "2024-01-01"
STICKY_WINDOW = 7


def stickiness(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    anchor: str,
    window: int = 7,
) -> DataFrame:
    """Engagement stickiness per day of ANY activity stream
    (stickiness_ratio's algebra with columns, anchor and window
    parameterized): DAU / trailing-`window`-day active users (the
    DAU/WAU ratio — 1.0 means every weekly user shows up daily).  The
    rolling DISTINCT cannot ride a windowed aggregate; the scale shape
    is the cover-set explode: each distinct (id, day) activity row fans
    out to the `window` future days it keeps the entity 'weekly-active'
    for, and the trailing count becomes a plain combinable
    count-distinct per cover day.  Cover days beyond the corpus or on
    activity gaps drop out via the inner join.  Returns
    (day, dau, wau, stickiness).

    Scale: raw events reduce to distinct (id, day) FIRST; the x-window
    expansion runs on the reduced table — a vanishing fraction of the
    event stream."""
    check_free([id_col], "di")
    act = (
        df
        .select(
            id_col,
            F.datediff(
                F.date_trunc("day", F.col(ts_col)),
                F.lit(anchor).cast("timestamp"),
            ).alias("di"),
        )
        .distinct()
    )
    dau = act.groupBy("di").agg(F.count(F.lit(1)).alias("dau"))
    cover = act.select(
        id_col,
        F.explode(
            F.sequence(F.col("di"), F.col("di") + (window - 1))
        ).alias("di"),
    ).distinct()
    wau = cover.groupBy("di").agg(F.count(F.lit(1)).alias("wau"))
    j = dau.join(wau, "di")
    return j.select(
        F.date_add(
            F.lit(anchor).cast("date"), F.col("di").cast("int")
        ).cast("timestamp").alias("day"),
        "dau",
        "wau",
        r4(F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


@register(
    "stickiness_ratio",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             datediff('day', TIMESTAMP '{STICKY_ANCHOR}',
                      date_trunc('day', ts)) AS di
      FROM events
    ), dau AS (
      SELECT di, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY di
    ), wau AS (
      SELECT d.di, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
      FROM (SELECT DISTINCT di FROM act) d
      JOIN act a ON a.di BETWEEN d.di - {STICKY_WINDOW - 1} AND d.di
      GROUP BY d.di
    )
    SELECT CAST(DATE '{STICKY_ANCHOR}' + CAST(dau.di AS INT) AS TIMESTAMP) AS day,
           dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.di = wau.di
    """,
)
def stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness per day: DAU / trailing-{STICKY_WINDOW}-day
    active users (the DAU/WAU ratio — 1.0 means every weekly user shows
    up daily).  The rolling DISTINCT cannot ride a windowed aggregate;
    the scale shape is the cover-set explode: each distinct (user, day)
    activity row fans out to the {STICKY_WINDOW} future days it keeps
    the user 'weekly-active' for, and the trailing count becomes a plain
    combinable count-distinct per cover day — rolling_active_users'
    certified pattern, joined back to the DAU aggregate on the
    calendar-sized day key.  Cover days beyond the corpus or on
    activity gaps drop out via the inner join (matching the oracle's
    BETWEEN self-join exactly)."""
    return stickiness(
        table(spark, sf_dir, "events"), "user_id", "ts", STICKY_ANCHOR,
        STICKY_WINDOW,
    )


# ---------------------------------------------------------------------------
# graph_assortativity — bipartite degree correlation over edges
# ---------------------------------------------------------------------------

@register(
    "graph_assortativity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ), sd AS (SELECT s, CAST(count(*) AS BIGINT) AS ds FROM e GROUP BY s),
    pd AS (SELECT p, CAST(count(*) AS BIGINT) AS dp FROM e GROUP BY p),
    j AS (
      SELECT sd.ds, pd.dp
      FROM e JOIN sd ON e.s = sd.s JOIN pd ON e.p = pd.p
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ds) AS BIGINT) AS sx, CAST(sum(dp) AS BIGINT) AS sy,
             CAST(sum(ds * ds) AS BIGINT) AS sxx,
             CAST(sum(dp * dp) AS BIGINT) AS syy,
             CAST(sum(ds * dp) AS BIGINT) AS sxy
      FROM j
    )
    SELECT n AS n_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 4) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier-part bipartite graph: the
    Pearson correlation between supplier degree and part degree across
    distinct (supplier, part) edges — positive means high-degree
    suppliers stock high-degree parts (hub-hub concentration, the
    supply-chain fragility signal).  One distinct-edge aggregate, two
    degree aggregates joined back on their own keys, then five exact
    BIGINT moments in a single combinable pass; the correlation is one
    shared IEEE tree.  Moment bound: deg² sums stay under 2^63 to ~3e9
    edges per node; past that they widen to DECIMAL(38,0)."""
    # pinned: the edge list feeds both degree aggregates + the moment
    # join (plan-audit, SCALE.md §50).
    e = pin(
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sd = e.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    pd_ = e.groupBy("p").agg(F.count(F.lit(1)).alias("dp"))
    j = e.join(sd, "s").join(pd_, "p")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ds").cast("long").alias("sx"),
        F.sum("dp").cast("long").alias("sy"),
        F.sum(F.col("ds") * F.col("ds")).cast("long").alias("sxx"),
        F.sum(F.col("dp") * F.col("dp")).cast("long").alias("syy"),
        F.sum(F.col("ds") * F.col("dp")).cast("long").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n.cast("double") * F.col("sxy") - sx.cast("double") * sy
    den = F.sqrt(
        (n.cast("double") * F.col("sxx") - sx.cast("double") * sx)
        * (n.cast("double") * F.col("syy") - sy.cast("double") * sy)
    )
    return m.select(
        n.alias("n_edges"), r4(num / den).alias("assortativity")
    )


# ---------------------------------------------------------------------------
# fn_struct — struct construction / field access / struct group keys
# ---------------------------------------------------------------------------

@register(
    "fn_struct",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           max(o_totalprice) AS max_price
    FROM orders GROUP BY 1, 2
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct surface parity: build a struct column, GROUP BY the struct
    itself (Catalyst hashes/compares structs field-wise, so a struct key
    is exactly its column tuple), then project fields back out with dot
    access.  The oracle groups by the flat columns — equality certifies
    that struct keys neither merge nor split any group.  Struct
    group-keys plan identically to multi-column keys (same Exchange on
    the same hash), so the surface costs nothing at scale."""
    o = table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.struct("o_orderstatus", "o_orderpriority").alias("k")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("o_totalprice").alias("max_price"),
    )
    return g.select(
        F.col("k.o_orderstatus").alias("o_orderstatus"),
        F.col("k.o_orderpriority").alias("o_orderpriority"),
        "n",
        "max_price",
    )
