"""Standalone per-op A/B timer: build (plan construction + eager pins)
and exec (noop sink) split, N warm repetitions after one discarded
warm-up, one op per line, with the generated classes compiled in the
cold run and in the warm runs.  The round-14 measurement harness — sweep
rankings lie under contention (r13 memory note), so every optimization
decision this round is made from THIS tool's numbers on an idle host.

Usage: python tools/op_ab.py [--sf DIR] [--n N] op [op ...]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def time_op(spark, fn, sf_dir: str, n: int) -> tuple[float, float, float, int, int]:
    """(build_s, exec_s, cold_s, cold_compiles, warm_compiles) of
    `fn(spark, sf_dir)` to the noop sink: n + 1 runs.  The first runs from
    an empty `session.memo` and pays file listing and codegen; its total
    is cold_s, and build_s / exec_s are the best of the rest by total.
    The compiles are generated classes Janino compiled during the cold
    run and during all warm runs together.  Warm runs repeated back to
    back cannot show a class evicted by other ops' classes between two
    calls of this op: only an interleaved mix (perfbench) can."""
    from secdb_spark.session import clear_memos, codegen_compiles

    clear_memos()
    best = cold = None
    c0 = codegen_compiles(spark)
    for i in range(n + 1):
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        if i == 0:
            cold = t2 - t0
            c1 = codegen_compiles(spark)
            continue
        cur = (t1 - t0, t2 - t1)
        if best is None or sum(cur) < sum(best):
            best = cur
    return (*best, cold, c1 - c0, codegen_compiles(spark) - c1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("ops", nargs="+")
    args = ap.parse_args()

    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    spark = get_spark("op-ab")
    queries = all_queries()
    # JVM/codegen warm-up outside any measurement (bench.py's policy)
    queries["agg_group"](spark, args.sf).write.mode("overwrite").format(
        "noop"
    ).save()

    for op in args.ops:
        spark.sparkContext.setJobDescription(f"op_ab: {op}")
        build, exec_, cold, cold_cg, warm_cg = time_op(
            spark, queries[op], args.sf, args.n
        )
        print(
            f"{op:36s} build {build:7.2f}  exec {exec_:7.2f}  "
            f"total {build + exec_:7.2f}  cold {cold:7.2f}  "
            f"compiles cold {cold_cg:4d} warm {warm_cg:4d}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
