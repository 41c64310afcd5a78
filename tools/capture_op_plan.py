"""Capture .explain("formatted") for arbitrary registered ops into
plans/<tag>/op_<name>_<suffix>.txt — the non-headline evidence files.
Run with SECDB_SPARK_NO_PIN=1 so pinned subtrees stay visible as full
logical shapes instead of checkpointed scans.

Usage: SECDB_SPARK_NO_PIN=1 python tools/capture_op_plan.py <tag> <suffix> op [op ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-op-plans")
    queries = all_queries()
    nopin = " (NO_PIN=1)" if os.environ.get("SECDB_SPARK_NO_PIN") else ""
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"op_{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir}{nopin}\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
