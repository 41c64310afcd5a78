"""Round-6 additions, batch 15 — SURVEY §2.AC: item-item collaborative
filtering and closed-loop evaluation of the certified LSH dedup pipeline
(recall/precision against exact Jaccard ground truth).

Design rules as everywhere in this package: exact integer counts;
the only IEEE ops in certified values are correctly rounded (√, ÷).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import catalog
from ..catalog import table
from ..registry import register
from ._helpers import pin, r4
from .warehouse_extras2 import MINHASH_SEEDS
from .warehouse_extras3 import LSH_BANDS, LSH_ROWS_PER_BAND, _sig_sql

CF_SEEDS = 20      # highest-frequency items to recommend FOR
CF_TOPK = 5        # similar items per seed
CF_MIN_CO = 2      # minimum co-baskets for a candidate pair


# ---------------------------------------------------------------------------
# cf_item_similarity — item-item cosine collaborative filtering
# ---------------------------------------------------------------------------

@register(
    "cf_item_similarity",
    oracle=f"""
    WITH bi AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), freq AS (
      SELECT l_partkey, count(*) AS f FROM bi GROUP BY 1
    ), seeds AS (
      SELECT l_partkey AS seed, f AS f_seed FROM freq
      ORDER BY f DESC, l_partkey LIMIT {CF_SEEDS}
    ), co AS (
      SELECT s.seed, s.f_seed, b.l_partkey AS item, count(*) AS c
      FROM seeds s
      JOIN bi a ON a.l_partkey = s.seed
      JOIN bi b ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> s.seed
      GROUP BY s.seed, s.f_seed, b.l_partkey
      HAVING count(*) >= {CF_MIN_CO}
    ), scored AS (
      SELECT seed, item, CAST(c AS BIGINT) AS co_baskets,
             round(CAST(c AS DOUBLE)
                   / sqrt(CAST(f_seed AS DOUBLE) * freq.f), 4) AS cosine,
             row_number() OVER (
               PARTITION BY seed
               ORDER BY CAST(c AS DOUBLE)
                        / sqrt(CAST(f_seed AS DOUBLE) * freq.f) DESC,
                        item) AS rk
      FROM co JOIN freq ON freq.l_partkey = co.item
    )
    SELECT seed, item, co_baskets, cosine, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= {CF_TOPK}
    """,
)
def cf_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: for the {CF_SEEDS} most-
    purchased parts, the top-{CF_TOPK} co-purchased items by cosine
    over basket incidence vectors (cos = c_ab/√(f_a·f_b) on binary
    vectors) — the classic Amazon-style "customers also bought" kernel.
    Counts are exact integers; cosine is one √ and one ÷ (correctly
    rounded, identical both engines); per-seed ranking breaks score
    ties by item id.

    Scale: the co-occurrence join is SEEDED — only baskets containing
    a seed item expand pairs, so candidates scale with seed basket
    volume, never |items|² (the same frontier-bounding argument as
    graph_khop).  An all-items CF run replaces the seed list with a
    frequency floor (drop the long tail), the standard industrial
    control; the per-seed rank window is bounded by WindowGroupLimit."""
    # pinned: the incidence table feeds freq + both co-join sides, and
    # freq feeds seeds + item_freq — un-pinned each consumer re-ran the
    # distinct (plan-audit, SCALE.md §50).
    bi = pin(
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    freq = pin(bi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f")))
    seeds = (
        freq.orderBy(F.desc("f"), "l_partkey")
        .limit(CF_SEEDS)
        .select(F.col("l_partkey").alias("seed"), F.col("f").alias("f_seed"))
    )
    a = bi.select(F.col("l_partkey").alias("seed"), "l_orderkey")
    b = bi.select(F.col("l_partkey").alias("item"), "l_orderkey")
    co = (
        F.broadcast(seeds)
        .join(a, "seed")
        .join(b, "l_orderkey")
        .filter(F.col("item") != F.col("seed"))
        .groupBy("seed", "f_seed", "item")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= CF_MIN_CO)
    )
    item_freq = freq.select(
        F.col("l_partkey").alias("item"), F.col("f").alias("f_item")
    )
    cosine = F.col("c").cast("double") / F.sqrt(
        F.col("f_seed").cast("double") * F.col("f_item")
    )
    scored = co.join(item_freq, "item").select(
        "seed",
        "item",
        F.col("c").cast("long").alias("co_baskets"),
        cosine.alias("cos_raw"),
    )
    w = Window.partitionBy("seed").orderBy(F.desc("cos_raw"), "item")
    return (
        scored.select(
            "seed",
            "item",
            "co_baskets",
            r4(F.col("cos_raw")).alias("cosine"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= CF_TOPK)
    )


# ---------------------------------------------------------------------------
# lsh_eval — recall/precision of the certified LSH pipeline vs truth
# ---------------------------------------------------------------------------

LSH_EVAL_NUM = 1   # Jaccard threshold num/den: j >= 1/2
LSH_EVAL_DEN = 2


def _true_pairs_sql() -> str:
    return f"""
    toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM toks a JOIN toks b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), truth AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ({LSH_EVAL_NUM} + {LSH_EVAL_DEN}) * i
            >= {LSH_EVAL_NUM} * (sa.sz + sb.sz)
    )"""


def _cand_pairs_sql() -> str:
    return f"""
    sigs AS (
      SELECT doc_id,
             {", ".join(_sig_sql(i, s) for i, s in enumerate(MINHASH_SEEDS))}
      FROM toks GROUP BY doc_id
    ), bands AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band, "
          f"{' || '.join(f'sig{b * LSH_ROWS_PER_BAND + r}' for r in range(LSH_ROWS_PER_BAND))}"
          f" AS sig FROM sigs"
          for b in range(LSH_BANDS))}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )"""


@register(
    "lsh_eval",
    oracle=f"""
    WITH {_true_pairs_sql()}, {_cand_pairs_sql()}
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT)
            FROM truth t JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit,
           CAST(floor((SELECT count(*) FROM truth t JOIN cand c
                        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                      * 10000.0
                      / (SELECT count(*) FROM truth) + 0.5) AS BIGINT)
             AS recall_bp,
           CAST(floor((SELECT count(*) FROM truth t JOIN cand c
                        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                      * 10000.0
                      / (SELECT count(*) FROM cand) + 0.5) AS BIGINT)
             AS precision_bp
    """,
)
def lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-loop evaluation of the certified MinHash-LSH pipeline:
    recall and precision of `lsh_candidates`' banded collision pairs
    against EXACT Jaccard ≥ {LSH_EVAL_NUM}/{LSH_EVAL_DEN} ground truth
    — the measurement that justifies (or indicts) a banding
    configuration before a 100 TB dedup run.  The threshold compare is
    pure integer arithmetic (3·|A∩B| ≥ |A|+|B| at θ=1/2 — no float
    Jaccard anywhere) and the recall/precision close as one quantized
    division each, so the whole evaluation is itself exact-certified —
    an EVALUATED sketch, not a trusted one.

    r13 grouped kernel (guide §1.2 "the distributed algorithm"): every
    quantity here is a function of the distinct token SET — truth
    membership (3·|A∩B| ≥ |A|+|B|), candidate membership (MinHash
    signatures, hence band collisions), and therefore hits.  Docs
    collapse to tokset groups (`_lsh_group_pairs`' contraction: sf0.1
    5000 docs → ~3935 groups); truth group pairs come from ONE gated
    bitmask all-pairs pass with the integer threshold fused into the
    join condition (the sim_containment kernel: the postings self-join
    generates Σ_term C(df,2) pair rows — ~17× MORE than all-pairs on a
    Zipf-concentrated closed-vocab corpus); candidate group pairs come
    from the shared banded group kernel; and all three counts close as
    group-size-weighted sums (cross pairs |A|·|B|, within-group pairs
    C(m,2) — identical sets have J=1 ≥ θ and collide in every band, so
    they are truth, candidate, and hit by construction).  No doc-pair
    stream ever materializes.

    Scale: the bitmask pass is gated on a closed dictionary
    (MASK_MAX_VOCAB) and corpus size (CONTAIN_ALLPAIRS_DOCS); above
    either gate the original postings-join truth runs unchanged — and
    at corpus scale you evaluate on a SAMPLED doc subset anyway (which
    `sample_bottomk`'s coordinated sample supplies deterministically).
    Both sides reuse certified building blocks, so the eval inherits
    their plans."""
    from .llm_pipeline import _mask_vocab
    from .similarity_extras import CONTAIN_ALLPAIRS_DOCS

    vocab = _mask_vocab(spark, sf_dir)
    if (
        vocab is not None
        and catalog.fits(sf_dir, CONTAIN_ALLPAIRS_DOCS, "documents")
    ):
        return _lsh_eval_grouped(spark, sf_dir, vocab)
    return _lsh_eval_postings(spark, sf_dir)


def _lsh_eval_grouped(
    spark: SparkSession, sf_dir: str, vocab: list[str]
) -> DataFrame:
    """Group-contracted closed-vocab kernel — see lsh_eval docstring."""
    from .warehouse_extras3 import LSH_BANDS, _lsh_group_sigs

    groups, gk = _lsh_group_sigs(spark, sf_dir)
    n_words = (len(vocab) + 63) // 64

    def _sqlstr(t: str) -> str:
        return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

    idx_map = F.expr(
        "map("
        + ", ".join(f"{_sqlstr(t)}, {i}" for i, t in enumerate(vocab))
        + ")"
    )
    pow2 = F.expr(
        "array("
        + ", ".join(str(1 << i) + "L" for i in range(63))
        + ", -9223372036854775808L)"
    )
    idxs = F.transform("terms", lambda t: idx_map[t].cast("long"))

    def word(w):
        return F.aggregate(
            idxs,
            F.lit(0).cast("long"),
            lambda a, x: a.bitwiseOR(
                F.when(
                    (x / 64).cast("int") == F.lit(w),
                    F.element_at(pow2, (x % 64).cast("int") + 1),
                ).otherwise(F.lit(0).cast("long"))
            ),
        )

    g = groups.select(
        "gid",
        F.size("members").cast("long").alias("m"),
        F.size("terms").cast("long").alias("nt"),
        *[word(w).alias(f"w{w}") for w in range(n_words)],
    )
    ta = g.select(
        F.col("gid").alias("ga"),
        *[F.col(f"w{w}").alias(f"a{w}") for w in range(n_words)],
        F.col("nt").alias("nta"),
        F.col("m").alias("ma"),
    )
    tb = g.select(
        F.col("gid").alias("gb"),
        *[F.col(f"w{w}").alias(f"b{w}") for w in range(n_words)],
        F.col("nt").alias("ntb"),
        F.col("m").alias("mb"),
    )
    inter = sum(
        [
            F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}")))
            for w in range(n_words)
        ],
        F.lit(0),
    )
    # truth group pairs: the θ=NUM/DEN integer test fused into the BNLJ
    # condition — no pair row materializes unless it qualifies
    tg = pin(
        ta.join(
            F.broadcast(tb),
            (F.col("ga") < F.col("gb"))
            & (
                F.lit(LSH_EVAL_NUM + LSH_EVAL_DEN) * inter
                >= F.lit(LSH_EVAL_NUM) * (F.col("nta") + F.col("ntb"))
            ),
        ).select("ga", "gb", (F.col("ma") * F.col("mb")).alias("w"))
    )
    # candidate group pairs (r14): the banded bucket join emitted 5.0M
    # colliding group pairs through a groupBy AND a pair-sized pin (the
    # single heaviest job in the registry after r13) only to be SUMMED.
    # Under this kernel's gate the collision test is "some band key
    # equal", so the weighted candidate count closes as ONE aggregate
    # over the all-pairs band-compare BNLJ on the pinned key frame (no
    # pair-keyed groupBy, no pair materialization), and the hit count
    # re-derives each truth pair's band keys from the same broadcast
    # frame instead of joining the 5M-row candidate list.
    ka = gk.select(
        F.col("gid").alias("ga"),
        F.col("m").alias("kma"),
        *[F.col(f"bk{i}").alias(f"abk{i}") for i in range(LSH_BANDS)],
    )
    kb = gk.select(
        F.col("gid").alias("gb"),
        F.col("m").alias("kmb"),
        *[F.col(f"bk{i}").alias(f"bbk{i}") for i in range(LSH_BANDS)],
    )
    any_band = None
    for i in range(LSH_BANDS):
        eq = F.col(f"abk{i}") == F.col(f"bbk{i}")
        any_band = eq if any_band is None else (any_band | eq)
    # within-group pairs C(m,2): truth AND candidate AND hit by identity
    wn = g.agg(
        F.coalesce(
            F.sum(F.shiftright(F.col("m") * (F.col("m") - 1), 1)), F.lit(0)
        )
        .cast("long")
        .alias("wn")
    )
    tc = tg.agg(
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("tc")
    )
    cc = (
        ka.join(F.broadcast(kb), (F.col("ga") < F.col("gb")) & any_band)
        .agg(
            F.coalesce(F.sum(F.col("kma") * F.col("kmb")), F.lit(0))
            .cast("long")
            .alias("cc")
        )
    )
    hc = (
        tg.join(F.broadcast(ka), "ga")
        .join(F.broadcast(kb), "gb")
        .filter(any_band)
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("hc"))
    )
    wide = (
        tc.crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(wn))
    )
    n_true = F.col("tc") + F.col("wn")
    n_cand = F.col("cc") + F.col("wn")
    n_hit = F.col("hc") + F.col("wn")
    return wide.select(
        n_true.cast("long").alias("n_true"),
        n_cand.cast("long").alias("n_candidates"),
        n_hit.cast("long").alias("n_hit"),
        F.floor(n_hit * 10000.0 / n_true + 0.5).cast("long").alias("recall_bp"),
        F.floor(n_hit * 10000.0 / n_cand + 0.5)
        .cast("long")
        .alias("precision_bp"),
    )


def _lsh_eval_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-vocab / large-corpus path: postings-join ground truth (the
    original shape — candidates scale with Σ_term C(df,2), the right
    trade when no closed dictionary exists and the eval runs on a
    sampled subset)."""
    docs = table(spark, sf_dir, "documents")
    # pinned: postings feed sizes + both self-join sides (3 consumers);
    # truth/cand below feed counts + the hit join (2 each) — un-pinned,
    # the eval re-ran tokenize/banding per consumer (12 scans,
    # plan-audit SCALE.md §50).
    toks = pin(docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    ))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.select(F.col("doc_id").alias("doc_a"), "term")
    b = toks.select(F.col("doc_id").alias("doc_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            (LSH_EVAL_NUM + LSH_EVAL_DEN) * F.col("i")
            >= LSH_EVAL_NUM * (F.col("sza") + F.col("szb"))
        )
        .select("doc_a", "doc_b")
    )
    truth = pin(truth)
    from .warehouse_extras3 import lsh_candidates

    cand = pin(lsh_candidates(spark, sf_dir).select("doc_a", "doc_b"))
    tru_n = truth.agg(F.count(F.lit(1)).alias("n_true"))
    cand_n = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    hit_n = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    wide = tru_n.crossJoin(F.broadcast(cand_n)).crossJoin(F.broadcast(hit_n))
    return wide.select(
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.floor(F.col("n_hit") * 10000.0 / F.col("n_true") + 0.5)
        .cast("long")
        .alias("recall_bp"),
        F.floor(F.col("n_hit") * 10000.0 / F.col("n_candidates") + 0.5)
        .cast("long")
        .alias("precision_bp"),
    )
