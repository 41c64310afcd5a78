"""Capture .explain("formatted") for the headline bench queries into
plans/<tag>/<label>_<suffix>.txt (the optimization-round evidence files).

Usage: python tools/capture_plans.py <tag> <suffix> [label ...]
e.g.   python tools/capture_plans.py r13 before
       python tools/capture_plans.py r13 after q_dedup_near q_tpch_q18
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import HEADLINE  # noqa: E402


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    queries = all_queries()
    for label, op in HEADLINE.items():
        if only and label not in only:
            continue
        df = queries[op](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{label}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {label} ({op}) — explain('formatted') at {sf_dir}\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
