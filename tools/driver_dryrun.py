"""Driver dry run — simulate EXACTLY what the verify driver does:
a vanilla SparkSession (none of our configs), `entry()`, then every
`queries()[name]` vs `oracle_sql()[name]` through DuckDB at sf0.01 with
canonical value comparison.

This is the last line of defense against configs that only exist in our
own session factory (the driver owns its session; anything required at
runtime must be applied by the contract wrappers).

Usage: python tools/driver_dryrun.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from secdb_spark.verify import compare_frames, duckdb_connect

    # The vanilla session's Python workers find secdb_spark only through
    # their working directory, which they inherit from the JVM: start it
    # in the repo root.
    args.sf = os.path.abspath(args.sf)
    os.chdir(ROOT)
    # deliberately vanilla: the driver does not apply our configs
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("driver-dryrun")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    n_entry = len(entrymod.entry(spark).collect())
    print(f"entry(): {n_entry} rows (driver requires > 0)")

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connect(args.sf)

    t0 = time.time()
    fails = []
    for name in sorted(qs):
        try:
            sp = qs[name](spark, args.sf).toPandas()
            if name in osql and not compare_frames(
                name, sp, con.execute(osql[name]).fetchdf()
            ).ok:
                fails.append((name, "mismatch"))
        except Exception as ex:  # noqa: BLE001
            fails.append((name, f"{type(ex).__name__}: {str(ex)[:140]}"))
    dt = time.time() - t0
    print(f"{len(qs) - len(fails)}/{len(qs)} ops pass on a vanilla session "
          f"({len(osql)} oracle-checked) in {dt:.0f}s")
    for f in fails:
        print("FAIL:", *f)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
