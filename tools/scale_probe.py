"""Scale probe: time the registered operators at 1x and Nx data.

Synthesizes an Nx copy of the sf0.1 fixture directory — all ten catalog
tables, each written as `{name}.parquet/` with several part files, the
layout `catalog.table`, `table_rows` and `table_split_units` already
read — and times each op by id on both directories through op_ab's
`time_op` (build = plan construction + eager pins, exec = noop sink;
the first run of each op at each scale is the cold column — it starts
from an empty `session.memo` — and is left out of build and exec).
Near-linear growth of the total (ratio ~N for scan-bound, ~N·log for
sort-bound) is the evidence that a plan has no super-linear term (the
thing that kills you at 100 TB).

Copy 0 of every grown table is the fixture unchanged; copy k >= 1
shifts its keys, and every foreign key moves with the key it points at,
so joins stay within a copy and key spaces stay disjoint.  `p_brand`
gains a `#k` suffix in copies k >= 1 (a bigger catalog has more
distinct brands, so blocked joins keep per-block size bounded — the
real-world blocking assumption); every other value ops filter on is
unchanged.  nation and region are written once.

Run: python tools/scale_probe.py                  (default op list, 4x)
     python tools/scale_probe.py --mult 16 --only basket_copurchase,tfidf_topk
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from op_ab import time_op  # noqa: E402
from secdb_spark.catalog import DEFAULT_SF_DIR, TABLES  # noqa: E402

MULT = 4
KEY = 10_000_000  # orders, customers, parts, events, documents, vectors
SMALL_KEY = 100_000  # suppliers and users

#: per-copy key offsets; a foreign key shifts with the key it points at
SHIFTS = {
    "customer": {"c_custkey": KEY},
    "supplier": {"s_suppkey": SMALL_KEY},
    "part": {"p_partkey": KEY},
    "orders": {"o_orderkey": KEY, "o_custkey": KEY},
    "lineitem": {
        "l_orderkey": KEY, "l_partkey": KEY, "l_suppkey": SMALL_KEY,
    },
    "events": {"event_id": KEY, "user_id": SMALL_KEY},
    "documents": {"doc_id": KEY},
    "embeddings": {"vec_id": KEY},
}

#: default list: the ops whose algebra SCALE.md §8–§79 probed (§82)
DEFAULT_OPS = (
    "sql_tpch_q1",
    "join_bucketed",
    "win_lag_lead",
    "events_sessionize",
    "funnel_events",
    "rollup_timeseries",
    "concurrent_intervals",
    "event_transitions",
    "join_fuzzy",
    "text_bm25",
    "text_chunk",
    "cdc_upsert",
    "attribution_last_touch",
    "conversion_window",
    "text_unigram_logprob",
    "invert_index",
    "basket_copurchase",
    "part_abc_pareto",
    "tfidf_topk",
    "minhash_sig",
    "chunk_dedup_share",
    "source_vocab_overlap",
    "audit_dup_payments",
    "spearman_corr",
    "graph_kcore",
    "agg_weighted_median",
    "stat_mannwhitney",
    "embed_margin",
    "attribution_time_decay",
    "text_bigram_logprob",
    "lsh_band_sweep",
    "win_groups_frame",
    "stream_hopping_uniques",
    "events_audience_overlap",
    "sim_jaccard",
    "brand_nation_lift",
    "graph_triangle_count",
    "ts_kendall_tau",
    "assoc_rules_lift",
    "join_interval_overlap",
)


def synthesize(spark, src_dir: str, out_dir: str, mult: int) -> None:
    """Write the mult-x copy of `src_dir` into `out_dir` (module
    docstring).  Tables are read as raw parquet, not through
    `catalog.table`, so events.ts keeps its INT64 TIMESTAMP(MICROS)
    footer and `events_ts_unit` reads the same unit on both sides."""
    for name in TABLES:
        raw = spark.read.parquet(f"{src_dir}/{name}.parquet")
        shifts = SHIFTS.get(name, {})
        grown = raw
        for k in range(1, mult if shifts else 1):
            copy = raw.withColumns(
                {c: F.col(c) + F.lit(k * off) for c, off in shifts.items()}
            )
            if name == "part":
                copy = copy.withColumn(
                    "p_brand", F.concat_ws("#", "p_brand", F.lit(str(k)))
                )
            grown = grown.unionByName(copy)
        grown.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=MULT)
    ap.add_argument(
        "--only", default="",
        help="comma-separated op ids to time instead of the default list",
    )
    args = ap.parse_args()

    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    queries = all_queries()
    ops = [s for s in args.only.split(",") if s] or list(DEFAULT_OPS)
    unknown = [op for op in ops if op not in queries]
    if unknown:
        raise ValueError(f"unknown op ids: {unknown}")

    spark = get_spark("scale-probe")
    out = tempfile.mkdtemp(prefix="secdb_scale_")
    try:
        print(f"synthesizing {args.mult}x into {out} ...", file=sys.stderr)
        synthesize(spark, DEFAULT_SF_DIR, out, args.mult)
        m = args.mult
        print(
            f"| op | 1x build | 1x exec | 1x cold | {m}x build | {m}x exec "
            f"| {m}x cold | ratio (linear={m}.0) |"
        )
        print("| --- | --- | --- | --- | --- | --- | --- | --- |", flush=True)
        for op in ops:
            try:
                b1, e1, c1, *_ = time_op(spark, queries[op], DEFAULT_SF_DIR, 2)
                bn, en, cn, *_ = time_op(spark, queries[op], out, 2)
            except Exception as exc:  # one failed op must not lose the table
                print(f"| {op} | did not finish: {type(exc).__name__} "
                      "| | | | | | |", flush=True)
                continue
            print(
                f"| {op} | {b1:.2f} s | {e1:.2f} s | {c1:.2f} s | {bn:.2f} s "
                f"| {en:.2f} s | {cn:.2f} s | {(bn + en) / (b1 + e1):.2f} |",
                flush=True,
            )
    finally:
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
