"""Dev self-check harness (SURVEY §5.2.3) — runs every registered
(query, oracle) pair and diffs results the same way the driver does:
row count + column names + order-insensitive canonical value comparison.

The comparison itself lives in `secdb_spark.verify` (one implementation,
shared with `Engine.verify()` and the tests); this wrapper adds timing
and the batch CLI.

Usage:
    python tools/selfcheck.py [--sf /root/testdata/sf0.001] [op ...]

Exit code 0 iff every checked pair matches.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from secdb_spark.verify import compare_frames, duckdb_connect  # noqa: E402


def run_one(name, spark, con, sf_dir, queries, oracles, verbose=False):
    t0 = time.time()
    sdf = queries[name](spark, sf_dir)
    spdf = sdf.toPandas()
    t_spark = time.time() - t0
    if name not in oracles:
        return ("ROWS_ONLY", len(spdf), t_spark, f"{len(spdf)} rows (no oracle)")
    t0 = time.time()
    opdf = con.execute(oracles[name]).fetchdf()
    t_duck = time.time() - t0
    res = compare_frames(name, spdf, opdf)
    if res.status != "OK":
        return ("FAIL", len(spdf), t_spark, res.detail)
    return (
        "OK",
        len(spdf),
        t_spark,
        f"{len(spdf)} rows  spark={t_spark:.2f}s duck={t_duck:.2f}s",
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    from secdb_spark.registry import all_oracles, all_queries
    from secdb_spark.session import get_spark

    queries, oracles = all_queries(), all_oracles()
    names = args.ops or sorted(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown ops: {unknown}")
        return 2

    spark = get_spark("selfcheck")
    con = duckdb_connect(args.sf)

    n_fail = 0
    for name in names:
        try:
            status, nrows, t_s, msg = run_one(name, spark, con, args.sf, queries, oracles)
        except Exception as e:  # noqa: BLE001
            status, msg = "ERROR", f"{type(e).__name__}: {str(e)[:400]}"
            n_fail += 1
        if status == "FAIL":
            n_fail += 1
        print(f"{status:>9}  {name:<24} {msg}")
    print(f"\n{len(names) - n_fail}/{len(names)} ok")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
