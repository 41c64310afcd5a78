"""Capture .explain("formatted") for registered ops into
plans/<tag>/op_<name>_<suffix>.txt — the non-headline evidence files,
and the plan-identity check for a refactor that must not change what
an op executes.

Every plan is written normalized: expression ids (``#123``, ``#123L``),
``plan_id=`` values, RDD ids, lambda-variable suffixes and the
per-process staging root (``secdb_*``) are renumbered by first
appearance and RDD call sites dropped, so two runs of one op in two
checkouts write byte-identical files when their plans have the same
shape.  The check is then

    python tools/capture_op_plan.py <tag> <suffix> --module <mod> ...
    diff -r <parent>/plans/<tag> plans/<tag>

run in both checkouts with the same arguments, with and without
``SECDB_SPARK_NO_PIN=1`` (which shows pinned subtrees as full logical
shapes instead of checkpointed scans) and at each corpus scale
(``SPARK_GRAFT_SF_DIR``; the default is the sf0.1 test corpus).

Usage: python tools/capture_op_plan.py <tag> <suffix>
           [--module MOD ...] [--out DIR] [op ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# (pattern, replacement template) — each distinct match gets the next
# number in order of first appearance; the template's {} receives it and
# \1 keeps the match's first group.
_VOLATILE = (
    (re.compile(r"#\d+(L?)\b"), "#{}\\1"),
    (re.compile(r"plan_id=\d+"), "plan_id={}"),
    (re.compile(r"RDD\[\d+\]"), "RDD[{}]"),
    # an RDD's creation call site depends on the calling thread
    (re.compile(r"(RDD\[\d+\] at \w+) at [^\s,]+:\d+"), "\\1"),
    # lambda variables get a fresh JVM-wide counter suffix (`x_133`)
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+\b"), "lambda \\1_{}"),
    (re.compile(r"/secdb_[^\s,\])]*"), "/secdb_{}"),
)


def normalize(plan: str) -> str:
    """``plan`` with every volatile id renumbered by first appearance."""
    for pattern, template in _VOLATILE:
        seen: dict[str, int] = {}

        def renumber(m: re.Match) -> str:
            key = m.group(0)
            n = seen.setdefault(key, len(seen))
            return m.expand(template.format(n))

        plan = pattern.sub(renumber, plan)
    return plan


def module_ops(modules) -> list[str]:
    """Registered op names of each ``secdb_spark.operators`` module, in
    registration order."""
    from secdb_spark.registry import all_queries

    prefixes = {f"secdb_spark.operators.{m}" for m in modules}
    return [name for name, fn in all_queries().items()
            if fn.__module__ in prefixes]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("suffix")
    ap.add_argument("ops", nargs="*")
    ap.add_argument("--module", action="append", default=[],
                    help="add every op registered in this operators module")
    ap.add_argument("--out", help="output directory (default plans/<tag>)")
    args = ap.parse_intermixed_args()

    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = args.out or os.path.join(ROOT, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-op-plans")
    queries = all_queries()
    names = list(dict.fromkeys(args.ops + module_ops(args.module)))
    nopin = " (NO_PIN=1)" if os.environ.get("SECDB_SPARK_NO_PIN") else ""
    failed = 0
    for name in names:
        try:
            df = queries[name](spark, sf_dir)
            plan = normalize(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        except Exception as exc:  # noqa: BLE001 — recorded in the file
            failed += 1
            first = (str(exc).splitlines() or [""])[0]
            plan = f"ERROR {type(exc).__name__}: {first}\n"
        path = os.path.join(out_dir, f"op_{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir}{nopin}\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
