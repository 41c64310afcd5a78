"""Scale probe: measure how the headline plans scale with input size.

Synthesizes 4x the sf0.1 fact tables (key-offset unions -> distinct rows)
into /tmp using the engine's own partitioned multi-file layout, then times
the flagship query shapes at 1x and 4x. Near-linear growth (ratio ~4 for
scan-bound, ~4·log for sort-bound) is the evidence that the plans have no
super-linear term (the thing that kills you at 100 TB).

Run: python tools/scale_probe.py                 (full table, 4x)
     python tools/scale_probe.py --mult 16 --only basket,tfidf
       (targeted super-linear-suspect re-probe at a deeper multiple;
        synthesizes only the tables those shapes read)
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import Window, functions as F  # noqa: E402

from secdb_spark import layout  # noqa: E402
from secdb_spark.catalog import table  # noqa: E402
from secdb_spark.operators.timeseries import (  # noqa: E402
    SESSION_GAP_MIN,
    funnel,
    sessionize,
)
from secdb_spark.operators.warehouse_extras import (  # noqa: E402
    last_touch,
    window_conversion,
)
from secdb_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MULT = 4


def synthesize(spark, out_dir: str, tables: set[str] | None = None) -> None:
    """4x lineitem/orders/events/part/documents with shifted keys (distinct
    key spaces).  part also shifts its BRAND (the fuzzy-join block key):
    a bigger catalog has more distinct entities, so block COUNT grows and
    per-block size stays bounded — the real-world blocking assumption; a
    fixed block count would make any blocked join quadratic by
    construction."""
    li = table(spark, SF_DIR, "lineitem")
    o = table(spark, SF_DIR, "orders")
    ev = table(spark, SF_DIR, "events")
    p = table(spark, SF_DIR, "part")
    d = table(spark, SF_DIR, "documents")
    em = table(spark, SF_DIR, "embeddings")
    KEY = 10_000_000
    li_n = None
    o_n = None
    ev_n = None
    p_n = None
    d_n = None
    em_n = None
    for k in range(MULT):
        # l_suppkey shifts for the same reason p_brand does: the co-supply
        # graph shapes (triangles, kcore) block on the supplier entity, and
        # a fixed catalog under Nx facts densifies the graph quadratically
        # by construction (every pair gains Nx shared orders) — the honest
        # axis grows the entity catalog with the data.
        li_k = li.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(k * KEY)
        ).withColumn("l_suppkey", F.col("l_suppkey") + F.lit(k * 100_000))
        o_k = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(k * KEY)).withColumn(
            "o_custkey", F.col("o_custkey") + F.lit(k * KEY)
        )
        ev_k = ev.withColumn("event_id", F.col("event_id") + F.lit(k * KEY)).withColumn(
            "user_id", F.col("user_id") + F.lit(k * 100_000)
        )
        p_k = p.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(k * KEY)
        ).withColumn("p_brand", F.concat_ws("#", "p_brand", F.lit(str(k))))
        d_k = d.withColumn("doc_id", F.col("doc_id") + F.lit(k * KEY))
        em_k = em.withColumn("vec_id", F.col("vec_id") + F.lit(k * KEY))
        li_n = li_k if li_n is None else li_n.unionByName(li_k)
        o_n = o_k if o_n is None else o_n.unionByName(o_k)
        ev_n = ev_k if ev_n is None else ev_n.unionByName(ev_k)
        p_n = p_k if p_n is None else p_n.unionByName(p_k)
        d_n = d_k if d_n is None else d_n.unionByName(d_k)
        em_n = em_k if em_n is None else em_n.unionByName(em_k)
    need = tables or {
        "lineitem", "orders", "events", "part", "documents", "embeddings"
    }
    if "lineitem" in need:
        layout.write_partitioned(
            li_n, f"{out_dir}/lineitem", "l_returnflag", 4 * 1024 * 1024
        )
    if "orders" in need:
        o_n.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/orders")
    if "events" in need:
        ev_n.repartition(8).write.mode("overwrite").parquet(f"{out_dir}/events")
    if "part" in need:
        p_n.repartition(4).write.mode("overwrite").parquet(f"{out_dir}/part")
    if "documents" in need:
        d_n.repartition(4).write.mode("overwrite").parquet(f"{out_dir}/documents")
    if "embeddings" in need:
        em_n.repartition(4).write.mode("overwrite").parquet(f"{out_dir}/embeddings")


def q_agg(li):
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")),
            F.sum(F.floor(disc * 10000 + 0.5).cast("bigint")),
            F.count(F.lit(1)),
        )
    )


def q_join(li, o):
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)), F.sum(F.floor(F.col("l_quantity")).cast("bigint")))
    )


def q_window(ev):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", F.lag("ts", 1).over(w).alias("prev"))


def q_sessionize(ev):
    """events_sessionize: the shared `sessionize` kernel with its
    binding's arguments, summarized per session (one Exchange: lag +
    running sum + agg)."""
    sess = sessionize(
        ev, "user_id", "ts", SESSION_GAP_MIN, out_col="session_seq"
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("s")
    )


def q_funnel(ev):
    """funnel_events: the shared `funnel` kernel with its binding's
    arguments (stage-seen flags, one event shuffle)."""
    return funnel(
        ev.withColumn("us", F.unix_micros("ts")), "user_id", "us",
        "event_type", ["view", "click", "purchase"], tie_col="event_id",
    )


def q_rollup(ev):
    """rollup_timeseries' algebra (hourly once, daily from partials)."""
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("b")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    daily = hourly.groupBy("event_type", F.date_trunc("day", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("s").alias("s")
    )
    return hourly.select(F.lit("h").alias("r"), "event_type", "b", "n", "s").unionByName(
        daily.select(F.lit("d").alias("r"), "event_type", "b", "n", "s")
    )


def q_sweep(ev):
    """concurrent_intervals' algebra (union + sweep window + max)."""
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.floor("value").cast("bigint") * F.lit(1_000_000)).alias("e"),
    )
    sweep = iv.select("user_id", F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sweep.withColumn("c", F.sum("d").over(w))
        .groupBy("user_id")
        .agg(F.max("c").alias("mx"))
    )


def q_transitions(ev):
    """event_transitions' algebra (lead + tiny-domain count + normalize)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("event_type", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type")
    return cnt.select("event_type", "nxt", (F.col("n") / F.sum("n").over(wt)).alias("p"))


def q_fuzzy(p):
    """join_fuzzy's algebra (blocked thresholded Levenshtein self-join)."""
    a, b = p.alias("a"), p.alias("b")
    return a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & (F.abs(F.length("a.p_name") - F.length("b.p_name")) <= 2)
        & (F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2) >= 0),
    ).select(F.col("a.p_partkey"), F.col("b.p_partkey"))


def q_bm25(d):
    """text_bm25's algebra (one tokenize pass, broadcast df/stats)."""
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.filter(F.col("tok").isin("join", "merge", "vector"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    score = idf * F.col("tf") * 2.2 / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(score).alias("bm25"))
    )


def q_chunk(d):
    """text_chunk's algebra (map-only sequence/slice/posexplode)."""
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(24))
    chunks = F.transform(starts, lambda i: F.array_join(F.slice(toks, i, 32), " "))
    return d.select("doc_id", F.posexplode(chunks).alias("cid", "chunk"))


def q_cdc(o):
    """cdc_upsert's algebra (explode versions, one key shuffle, top-1)."""
    log = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("o_orderkey") % 3)).alias("seq"),
    )
    w = Window.partitionBy("o_orderkey")
    return (
        log.withColumn("rn", F.row_number().over(w.orderBy(F.col("seq").desc())))
        .withColumn("nv", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "o_totalprice", "nv")
    )


def q_attribution(ev):
    """attribution_last_touch: the shared `last_touch` kernel with its
    binding's arguments (last-ignorenulls window + agg)."""
    return last_touch(
        ev, "user_id", "event_type", "value", ["ts", "event_id"],
        conversion="purchase", default="direct",
    )


def q_conversion(ev):
    """conversion_window: the shared `window_conversion` kernel with its
    binding's arguments (range frame over epoch-us)."""
    return window_conversion(
        ev.withColumn("us", F.unix_micros("ts")), "user_id", "event_type",
        "us", trigger="view", conversion="purchase", window=3_600_000_000,
    )


def q_logprob(d):
    """text_unigram_logprob's algebra (tf once, stats re-aggregated)."""
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    freq = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    return (
        tf.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("nt"),
            F.round(F.sum(F.col("tf") * F.log(F.col("c") / F.col("n"))) / F.sum("tf"), 4).alias("lp"),
        )
    )


def q_invert(d):
    """invert_index's algebra (distinct terms -> postings)."""
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )


def q_basket(li):
    """basket_copurchase's algebra: per-basket O(k^2) pair fan-out."""
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "p1", "p2")
        .limit(20)
    )


def _rev(li):
    return li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("revenue")
    )


def q_prefix_single(li):
    """part_abc_pareto's SMALL kernel: single-partition running sum over
    the per-part aggregate — the shape the gate retires at scale."""
    w = Window.orderBy(F.col("revenue").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return _rev(li).withColumn(
        "cum", F.sum(F.col("revenue").cast("decimal(38,6)")).over(w)
    )


def q_prefix_bucketed(li):
    """part_abc_pareto's SCALE kernel: bucketed two-pass prefix sum
    (_global_order.py) — same values, no single-partition funnel."""
    from secdb_spark.operators._global_order import bucketed_prefix_sum

    return bucketed_prefix_sum(
        _rev(li), "revenue", ["l_partkey"], "revenue", desc=True, out="cum"
    )


def q_tfidf(d):
    """tfidf_topk's algebra: tf stream + broadcast idf + per-doc top-k."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = df_.crossJoin(F.broadcast(nd)).select(
        "term",
        F.floor(F.log(F.col("n_docs").cast("double") / F.col("df")) * 1e6 + 0.5)
        .cast("long")
        .alias("idf6"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf6")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )


def q_dup_audit(o):
    """audit_dup_payments' algebra: self-join blocked on the
    (custkey, amount-bucket) equi-key + date-band residual filter."""
    a = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ka"),
        F.floor(F.col("o_totalprice") / 10000).alias("bk"),
        F.col("o_orderdate").cast("date").alias("da"),
    )
    b = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("kb"),
        F.floor(F.col("o_totalprice") / 10000).alias("bk"),
        F.col("o_orderdate").cast("date").alias("db"),
    )
    gap = F.abs(F.datediff(F.col("da"), F.col("db")))
    return (
        a.join(b, ["ck", "bk"])
        .filter((F.col("ka") < F.col("kb")) & (gap <= 90))
        .groupBy("ck")
        .agg(F.count(F.lit(1)))
    )


def q_wmedian(li):
    """agg_weighted_median's algebra: RANGE-frame cumulative weights over
    the value-ordered partition + grouped crossing-point min."""
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("w"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    c = t.select(
        "l_returnflag",
        "price",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wall).alias("totw"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price")))
    )


def q_chunk_dedup(d):
    """chunk_dedup_share's algebra: map-only chunk explode -> frequency
    count on the chunk key -> equi-join back -> per-doc aggregate."""
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    chunks = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, int((n + 31) div 32) - 1), "
                "i -> array_join(slice(toks, i * 32 + 1, 32), ' '))"
            )
        ).alias("chunk"),
    )
    freq = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("cnt") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )


def q_vocab_overlap(d):
    """source_vocab_overlap's algebra: distinct (source, term) postings ->
    term-equi-join candidate pairs -> per-pair intersection counts."""
    vocab = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).distinct()
    a = vocab.select(F.col("source").alias("sa"), "term")
    b = vocab.select(F.col("source").alias("sb"), "term")
    return (
        a.join(b, "term")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def q_kcore_peel(li, o):
    """graph_kcore's algebra: distinct bipartite edges -> 4 unrolled
    peel rounds (degree count + two-sided semi-join filter).  Each round
    is one shuffle on the node key; live sets shrink monotonically, so
    the first round bounds every later one."""
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), o["o_custkey"].cast("string")).alias("a"),
            F.concat(F.lit("s"), li["l_suppkey"].cast("string")).alias("b"),
        )
        .distinct()
    )
    from secdb_spark.operators._helpers import pin

    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # per-round pin — the SHIPPED algebra (SCALE.md §50): without it the
    # 3 references per round compound to 3^rounds recomputes (the
    # un-pinned probe form measured 56s/6.83x at 16x; see §52).
    u = pin(und)
    for _ in range(4):
        live = pin(
            u.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= 10)
            .select(F.col("a").alias("node"))
        )
        u = pin(
            u.join(live.select(F.col("node").alias("a")), "a")
            .join(live.select(F.col("node").alias("b")), "b")
            .select("a", "b")
        )
    return u.groupBy("a").agg(F.count(F.lit(1)).alias("d"))


def q_spearman_ranks(li):
    """spearman_corr's algebra: distinct-value spines per axis (grouped
    bucketed prefix sum -> integer 2·midranks) joined BACK to the full
    fact table on (group, value) twice, then one combinable moment
    aggregate.  The join-back is the row-sized step — it must scale
    linearly; the spine work is distinct-value-sized."""
    from secdb_spark.operators._global_order import grouped_range_prefix_sum

    base = li.select("l_returnflag", "l_quantity", "l_extendedprice")

    def midrank2(col, out):
        dd = base.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        cum = grouped_range_prefix_sum(dd, ["l_returnflag"], col, "c", out="_cw")
        return cum.select(
            "l_returnflag", col,
            (2 * F.col("_cw").cast("long") - F.col("_v").cast("long") + 1
             ).alias(out),
        )

    rx = midrank2("l_quantity", "r2x")
    ry = midrank2("l_extendedprice", "r2y")
    rows_r = (
        base.join(rx, ["l_returnflag", "l_quantity"])
        .join(ry, ["l_returnflag", "l_extendedprice"])
    )
    x = F.col("r2x").cast("decimal(19,0)")
    y = F.col("r2y").cast("decimal(19,0)")
    return rows_r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )


def q_wmedian_bucketed(li):
    """agg_weighted_median's SCALE kernel: peers-collapsing aggregate +
    grouped bucketed prefix sum (no 3-task funnel)."""
    from secdb_spark.operators._global_order import grouped_range_prefix_sum

    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("w"),
    )
    cum = grouped_range_prefix_sum(t, ["l_returnflag"], "price", "w", out="_cum")
    tot = cum.groupBy("l_returnflag").agg(F.sum("_v").alias("totw"))
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.min(F.when(2 * F.col("_cum") >= F.col("totw"), F.col("price"))))
    )


def q_minhash(d):
    """minhash_sig's algebra: tokenize + one aggregate, 4 md5 mins."""
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    return toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"s{i}:"), F.col("term")))).alias(
                f"sig{i}"
            )
            for i in range(4)
        ]
    )


def q_mw_kernel(ev):
    """stat_mannwhitney's algebra: distinct-value aggregate -> bucketed
    global prefix sum -> join back -> one-row moment aggregate."""
    from secdb_spark.operators._global_order import grouped_range_prefix_sum

    d = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("i1"),
        )
        .groupBy("v")
        .agg(F.sum("i1").alias("c1"), F.count(F.lit(1)).alias("t"))
    )
    cum = grouped_range_prefix_sum(d, [], "v", "t", out="_cum").withColumn(
        "cum", F.col("_cum").cast("long")
    )
    return (
        d.join(cum.select("v", "cum"), "v")
        .agg(
            F.sum(F.col("c1") * (2 * F.col("cum") - F.col("t") + 1)).alias(
                "r1x2"
            ),
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
                "ties"
            ),
        )
    )


def q_embed_margin(em):
    """embed_margin's algebra: posexplode -> broadcast centroid scan on
    pos (dims x K per row) -> cascaded combinable aggregates."""
    e = em.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id", "label", "pos", F.col("xf").cast("double").alias("x")
    )
    cent = e.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.avg("x").alias("c")
    )
    tq = F.floor(
        (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * 1000000 + 0.5
    ).cast("long")
    d = (
        e.join(F.broadcast(cent), "pos")
        .select("vec_id", "label", "clabel", tq.alias("tq"))
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("tq").alias("d2q"))
    )
    v = d.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2q"))).alias(
            "d_own"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2q"))).alias(
            "d_other"
        ),
    )
    return v.groupBy("label").agg(
        F.count(F.when(F.col("d_other") < F.col("d_own"), 1)).alias("nc")
    )


def q_attr_decay(ev):
    """attribution_time_decay's algebra: user-co-partitioned bounded-time
    touch join + integer 2^-age weights + normalizer join-back."""
    base = ev.withColumn("us", F.unix_micros("ts"))
    p = base.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id",
        F.col("us").alias("pus"), "value",
    )
    t = base.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", F.col("us").alias("tus")
    )
    day_us = 86400000000
    age = F.floor((F.col("pus") - F.col("tus")) / day_us).cast("long")
    touch = (
        p.join(t, "user_id")
        .filter((F.col("tus") < F.col("pus"))
                & (F.col("pus") - F.col("tus") < 7 * day_us))
        .select("pid", "value", "event_type",
                F.pow(F.lit(2), 7 - age).cast("long").alias("w"))
    )
    wsum = touch.groupBy("pid").agg(F.sum("w").alias("wp"))
    return (
        touch.join(wsum, "pid")
        .groupBy("event_type")
        .agg(F.sum(F.col("value") * F.col("w") / F.col("wp")).alias("cr"))
    )


def q_bigram_lm(d):
    """text_bigram_logprob's algebra: ordered tokenize, lead() adjacency
    per doc, vocab-keyed count joins, per-doc aggregate."""
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("i", "w"),
    )
    wadj = Window.partitionBy("doc_id").orderBy("i")
    bg = (
        toks.withColumn("w2", F.lead("w").over(wadj))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("w").alias("w1"), "w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = toks.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    return (
        bg.join(bc, ["w1", "w2"]).join(uc, "w1")
        .groupBy("doc_id")
        .agg(F.sum(F.log((F.col("c12") + 1.0) / (F.col("c1") + 1000)))
             .alias("lp"))
    )




def q_lsh_sweep(d):
    """lsh_band_sweep's algebra: 8 md5-min sigs -> 4 bandings stacked ->
    banded equi-self-join.  Candidates scale with duplicate density."""
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    seeds = [f"sw{i}:" for i in range(8)]
    sigs = toks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(s), F.col("term")))).alias(f"sig{i}")
            for i, s in enumerate(seeds)
        ]
    )
    rows = []
    for b, r in [(1, 8), (2, 4), (4, 2), (8, 1)]:
        for band in range(b):
            cat = ", ".join(f"sig{band * r + j}" for j in range(r))
            rows.append(f"'b{b}r{r}', {band}, concat({cat})")
    bands = sigs.select(
        "doc_id",
        F.expr(f"stack({len(rows)}, {', '.join(rows)}) AS (config, band, sig)"),
    )
    a, bb = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.config") == F.col("b.config"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy("a.config")
        .count()
    )


def q_hopping_uniques(ev):
    """stream_hopping_uniques' algebra: 1-hour window with 15-min hop —
    Expand replicates each event into its 4 covering windows, then one
    (window, user) shuffle feeds the exact COUNT DISTINCT.  Work is
    4x the scan plus a distinct whose width is windows x active users;
    the op's docstring names agg_hll_sketch as the swap when that
    product stops fitting executor memory."""
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("uniq_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events",
                "uniq_users")
    )


def q_audience_overlap(ev):
    """events_audience_overlap's algebra (round-8 single-scan form):
    (user, day) distinct — the only data-sized shuffle — then lead(day)
    over each user's sorted active days flags the d/d+1 intersection,
    and ONE groupBy(day) emits today-count and overlap together.  The
    earlier shifted self-join recomputed the distinct per consumer (four
    raw scans); this probe pins the one-scan replacement."""
    act = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("day")
    return (
        act.withColumn("nxt", F.lead("day").over(wu))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_today"),
            F.sum(
                F.when(
                    F.col("nxt") == F.col("day") + F.expr("INTERVAL 1 DAY"), 1
                ).otherwise(0)
            ).cast("long").alias("n_both"),
        )
    )


def q_groups_frame(o):
    """win_groups_frame's algebra: dense_rank + rank-RANGE frame sharing
    one (priority, month) shuffle."""
    base = o.select(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("mon"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("o_orderpriority", "mon").orderBy("d")
    ranked = base.withColumn("dr", F.dense_rank().over(wr))
    frame = (
        Window.partitionBy("o_orderpriority", "mon")
        .orderBy("dr")
        .rangeBetween(-1, 1)
    )
    return ranked.select(F.sum("cents").over(frame).alias("fs"))


def timed(df) -> float:
    df.write.mode("overwrite").format("noop").save()
    ts = []
    for _ in range(3):
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        ts.append(time.time() - t0)
    return sorted(ts)[1]


def q_jaccard_prefix(d):
    """sim_jaccard's SHIPPED kernel (_jaccard_pairs, §50-pinned): token
    sets + prefix-filtered candidate self-join + full-set verify.  The
    pin makes tokenize run once; un-pinned it ran per consumer (6x)."""
    from secdb_spark.operators.llm_pipeline import _jaccard_pairs

    return _jaccard_pairs(d.select("doc_id", "text"))


def q_cell_diamond(li):
    """brand_nation_lift's algebra: ONE fact aggregate (pinned) feeding
    two margins, the grand total, and the lift projection — the
    4-consumer diamond that un-pinned re-ran the fact pass 4x."""
    from secdb_spark.operators._helpers import pin

    cell = pin(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    m1 = cell.groupBy("l_returnflag").agg(F.sum("n").alias("na"))
    m2 = cell.groupBy("l_linestatus").agg(F.sum("n").alias("nb"))
    tot = cell.agg(F.sum("n").alias("g"))
    return (
        cell.join(F.broadcast(m1), "l_returnflag")
        .join(F.broadcast(m2), "l_linestatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_returnflag",
            "l_linestatus",
            (
                F.col("n").cast("double") * F.col("g")
                / (F.col("na").cast("double") * F.col("nb"))
            ).alias("lift"),
        )
    )


def q_triangles(li):
    """graph_triangle_count's algebra: co-supply edge build (pair join ON
    THE ORDER KEY with the >=k filter in the aggregate), pinned edge
    list feeding the oriented a<b<c two-join + the degree union.  The
    fan-out risks are the per-order supplier pair stage and the triangle
    join's arrow degrees."""
    from secdb_spark.operators._helpers import pin
    from secdb_spark.operators.warehouse_extras37 import COSUPPLY_MIN_ORDERS

    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    a, b = os_.alias("a"), os_.alias("b")
    e = pin(
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("ea"), F.col("b.s").alias("eb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= COSUPPLY_MIN_ORDERS)
        .select("ea", "eb")
    )
    deg = pin(
        e.select(F.col("ea").alias("v"))
        .union(e.select(F.col("eb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wedges"),
    )
    da = deg.select(F.col("v").alias("ea"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("eb"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("ea") < F.col("eb"))
    )
    oe = pin(
        e.join(da, "ea")
        .join(db, "eb")
        .select(
            F.when(a_first, F.col("ea")).otherwise(F.col("eb")).alias("u"),
            F.when(a_first, F.col("eb")).otherwise(F.col("ea")).alias("w"),
        )
    )
    e1, e2, e3 = oe.alias("e1"), oe.alias("e2"), oe.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.w"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.w") == F.col("e2.w")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return agg.crossJoin(tri)


def q_kendall_pairs(o):
    """ts_kendall_tau's algebra: fact scan -> calendar-bounded daily
    frame (pinned) -> O(d^2) within-year pair join -> moment aggregate.
    At Nx facts the daily frame is the SAME SIZE (same calendar), so the
    pair stage is constant and growth should track the scan only."""
    from secdb_spark.operators._helpers import pin

    d = pin(
        o.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
            F.year("o_orderdate").alias("y"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("long")
            .alias("rev"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    prod = (F.col("b.n") - F.col("a.n")) * (F.col("b.rev") - F.col("a.rev"))
    p = a.join(
        b, (F.col("a.y") == F.col("b.y")) & (F.col("a.day") < F.col("b.day"))
    ).select(
        F.col("a.y").alias("y"),
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
    )
    return p.groupBy("y").agg(
        F.sum("conc").alias("c"), F.sum("disc").alias("dd")
    )


def q_assoc_rules(li, p):
    """assoc_rules_lift's algebra: (order, brand) projection pinned once,
    basket-key pair join, broadcast brand counts + total.  Fan-out is
    bounded by per-order brand counts; the brand catalog grows with the
    synthesized part table (shifted p_brand), keeping per-block size
    bounded."""
    from secdb_spark.operators._helpers import pin

    ob = pin(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    tot = pin(ob.agg(F.countDistinct("o").cast("long").alias("n")))
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).cast("long").alias("nb"))
    a, b = ob.alias("a"), ob.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("nb").alias("n_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("nb").alias("n_b"))
    return (
        pr.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            (F.col("n_both") * F.col("n")).cast("double")
            / (F.col("n_a") * F.col("n_b")),
        )
    )


def q_interval_overlap(o, li):
    """join_interval_overlap's algebra: per-order interval build (join +
    groupBy), pinned, then the overlap predicate riding BEHIND the
    customer-key equi-join — fan-out bounded by per-customer order
    counts, never a global interval cross."""
    from secdb_spark.operators._helpers import pin

    epoch = F.lit("1970-01-01").cast("date")
    iv = pin(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("urgent"),
            F.datediff(F.col("o_orderdate"), epoch).alias("s"),
        )
        .agg(F.max(F.datediff(F.col("l_shipdate"), epoch)).alias("e"))
    )
    a, b = iv.alias("a"), iv.alias("b")
    pairs = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & F.col("a.urgent")
        & ~F.col("b.urgent")
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e")),
    )
    return pairs.groupBy(F.col("a.o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap_pairs")
    )


def q_bbit_calibration(d):
    """dedup_minhash_b_bit's algebra: pinned tokens -> pinned 16-slot
    signature -> banded candidate join -> ONE packed int64 agreement
    compare + exact-Jaccard verify (the dominant stage, like dedup_near)
    -> bucket aggregate."""
    from secdb_spark.operators._helpers import pin
    from secdb_spark.operators.llm_pipeline import N_BANDS, N_MINHASH, _tokens

    toks = pin(d.select("doc_id", F.explode(_tokens()).alias("tok")))
    ha = F.sha2(F.concat(F.lit("A:"), F.col("tok")), 256)
    hb = F.sha2(F.concat(F.lit("B:"), F.col("tok")), 256)
    slices = [
        F.substring(ha if j < 8 else hb, (j % 8) * 8 + 1, 8)
        for j in range(N_MINHASH)
    ]
    sig = pin(
        toks.groupBy("doc_id").agg(
            *[F.min(s).alias(f"h{j}") for j, s in enumerate(slices)]
        )
    )
    rows_per_band = N_MINHASH // N_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(str(band)),
                        *[
                            F.col(f"h{band * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for band in range(N_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = pin(
        x.join(
            y,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    card = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    bits = sum(
        (
            F.substring(F.col(f"h{j}"), 8, 1)
            .isin(*"13579bdf")
            .cast("int")
            * (1 << j)
            for j in range(N_MINHASH)
        ),
        F.lit(0),
    ).cast("long")
    pa = sig.select(F.col("doc_id").alias("doc_a"), bits.alias("wa"))
    pb = sig.select(F.col("doc_id").alias("doc_b"), bits.alias("wb"))
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("nt").alias("na"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("nt").alias("nb"))
    agree = F.lit(N_MINHASH) - F.bit_count(
        F.col("wa").bitwiseXOR(F.col("wb"))
    )
    pairs = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            agree.alias("agree_bits"),
            (
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0)))
            ).alias("j_exact"),
        )
    )
    return pairs.groupBy("agree_bits").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.avg("j_exact").alias("avg_j_exact"),
    )


def main() -> None:
    global MULT
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=MULT)
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated substrings; keep only matching query shapes",
    )
    args = ap.parse_args()
    MULT = args.mult
    only = [s for s in args.only.split(",") if s]

    # The probe synthesizes MULTx fact tables and runs both scales inside
    # ONE local JVM — the engine's 8g default (sized for the driver
    # contract) OOMs unrolling pinned frames at 4x documents (observed:
    # heap OOM in Dataset.checkpoint during the b-bit shape).  Probes
    # measure plan scaling, not heap ceilings; give the probe JVM room.
    import os as _os

    _os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("scale-probe")
    out = tempfile.mkdtemp(prefix="secdb_scale_")
    print(f"synthesizing {MULT}x into {out} ...", file=sys.stderr)
    tables = None
    if only:
        tables = set()
        if any(s in "basket copurchase pairs agg fact-fact join prefix sum spearman ranks spine join-back kcore peel rounds semi-join" for s in only):
            tables |= {"lineitem"}
        if any(s in "fact-fact join cdc upsert kcore peel rounds semi-join" for s in only):
            tables |= {"orders"}
        if any(
            s in "window sessionize funnel rollup interval sweep markov "
                 "attribution conversion hopping uniques Expand distinct"
            for s in only
        ):
            tables |= {"events"}
        if any(s in "groups frame dense_rank range cdc upsert" for s in only):
            tables |= {"orders"}
        if any(s in "lsh band sweep banded self-join" for s in only):
            tables |= {"documents"}
        if any(s in "blocked fuzzy join" for s in only):
            tables |= {"part"}
        if any(s in "triangles oriented two-join assoc rules basket-key pairs interval overlap keyed" for s in only):
            tables |= {"lineitem"}
        if any(s in "kendall daily pairs calendar-bounded interval overlap keyed" for s in only):
            tables |= {"orders"}
        if any(s in "assoc rules basket-key pairs" for s in only):
            tables |= {"part"}
        if any(s in "bbit calibration packed agree verify" for s in only):
            tables |= {"documents"}
        if any(s in "mw rank kernel distinct-value cumsum time-decay attribution touch join" for s in only):
            tables |= {"events"}
        if any(s in "bigram LM position self-join" for s in only):
            tables |= {"documents"}
        if any(s in "jaccard prefix allpairs pinned" for s in only):
            tables |= {"documents"}
        if any(s in "cell diamond star margins" for s in only):
            tables |= {"lineitem"}
        if any(s in "embed margin broadcast centroid scan" for s in only):
            tables |= {"embeddings"}
        if any(
            s in "bm25 RAG chunking unigram logprob inverted index tfidf minhash chunk dedup share vocab overlap"
            for s in only
        ):
            tables |= {"documents"}
        tables = tables or None
    synthesize(spark, out, tables)

    li1, o1, ev1, p1, d1_, em1 = (
        table(spark, SF_DIR, t)
        for t in ("lineitem", "orders", "events", "part", "documents",
                  "embeddings")
    )
    import os

    def _rd(name):
        path = f"{out}/{name}"
        return spark.read.parquet(path) if os.path.isdir(path) else None

    li4 = _rd("lineitem")
    o4 = _rd("orders")
    ev4 = _rd("events")
    p4 = _rd("part")
    d4_ = _rd("documents")
    em4 = _rd("embeddings")

    # (name, shape_fn, 1x inputs, Nx inputs) — shapes construct lazily so
    # --only skips even construction (q_prefix_bucketed runs an eager
    # approxQuantile action while BUILDING its plan).
    shapes = [
        ("agg (Q1 shape)", q_agg, (li1,), (li4,)),
        ("fact-fact join+agg", q_join, (li1, o1), (li4, o4)),
        ("window lag/user", q_window, (ev1,), (ev4,)),
        ("sessionize", q_sessionize, (ev1,), (ev4,)),
        ("funnel (ordered stages)", q_funnel, (ev1,), (ev4,)),
        ("rollup hour->day", q_rollup, (ev1,), (ev4,)),
        ("interval sweep (max overlap)", q_sweep, (ev1,), (ev4,)),
        ("markov transitions", q_transitions, (ev1,), (ev4,)),
        ("blocked fuzzy join", q_fuzzy, (p1,), (p4,)),
        ("bm25 scoring", q_bm25, (d1_,), (d4_,)),
        ("RAG chunking (map-only)", q_chunk, (d1_,), (d4_,)),
        ("cdc upsert (explode+top1)", q_cdc, (o1,), (o4,)),
        ("last-touch attribution", q_attribution, (ev1,), (ev4,)),
        ("conversion range-frame", q_conversion, (ev1,), (ev4,)),
        ("unigram logprob", q_logprob, (d1_,), (d4_,)),
        ("inverted index", q_invert, (d1_,), (d4_,)),
        ("basket copurchase pairs", q_basket, (li1,), (li4,)),
        ("prefix sum SINGLE-PART", q_prefix_single, (li1,), (li4,)),
        ("prefix sum BUCKETED", q_prefix_bucketed, (li1,), (li4,)),
        ("tfidf topk (bcast idf)", q_tfidf, (d1_,), (d4_,)),
        ("minhash signatures", q_minhash, (d1_,), (d4_,)),
        ("chunk dedup share", q_chunk_dedup, (d1_,), (d4_,)),
        ("vocab overlap (postings join)", q_vocab_overlap, (d1_,), (d4_,)),
        ("dup-payment audit (blocked self-join)", q_dup_audit, (o1,), (o4,)),
        ("spearman ranks (spine join-back)", q_spearman_ranks, (li1,), (li4,)),
        ("kcore peel (4 rounds semi-join)", q_kcore_peel, (li1, o1), (li4, o4)),
        ("weighted median RANGE window", q_wmedian, (li1,), (li4,)),
        ("weighted median BUCKETED", q_wmedian_bucketed, (li1,), (li4,)),
        ("mw rank kernel (distinct-value cumsum)", q_mw_kernel, (ev1,), (ev4,)),
        ("embed margin (broadcast centroid scan)", q_embed_margin, (em1,), (em4,)),
        ("time-decay attribution (touch join)", q_attr_decay, (ev1,), (ev4,)),
        ("bigram LM (lead adjacency)", q_bigram_lm, (d1_,), (d4_,)),
        ("lsh band sweep (banded self-join)", q_lsh_sweep, (d1_,), (d4_,)),
        ("groups frame (dense_rank+range)", q_groups_frame, (o1,), (o4,)),
        ("hopping uniques (Expand(4)+distinct)", q_hopping_uniques,
         (ev1,), (ev4,)),
        ("audience overlap (single-scan lead)", q_audience_overlap,
         (ev1,), (ev4,)),
        ("jaccard prefix allpairs (pinned)", q_jaccard_prefix,
         (d1_,), (d4_,)),
        ("cell diamond (pinned star margins)", q_cell_diamond,
         (li1,), (li4,)),
        ("triangles (oriented two-join)", q_triangles, (li1,), (li4,)),
        ("kendall daily pairs (calendar-bounded)", q_kendall_pairs,
         (o1,), (o4,)),
        ("assoc rules (basket-key pairs)", q_assoc_rules,
         (li1, p1), (li4, p4)),
        ("interval overlap (keyed)", q_interval_overlap,
         (o1, li1), (o4, li4)),
        ("bbit calibration (packed agree + verify)", q_bbit_calibration,
         (d1_,), (d4_,)),
    ]
    rows = []
    for name, fn, in1, inN in shapes:
        if only and not any(s in name for s in only):
            continue
        if any(x is None for x in inN):
            continue  # table not synthesized for this --only selection
        t1, t4 = timed(fn(*in1)), timed(fn(*inN))
        rows.append((name, t1, t4, t4 / t1))

    print(f"| query shape | 1x (sf0.1) | {MULT}x | ratio (linear={MULT}.0) |")
    print("| --- | --- | --- | --- |")
    for name, t1, t4, r in rows:
        print(f"| {name} | {t1*1000:.0f} ms | {t4*1000:.0f} ms | {r:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
