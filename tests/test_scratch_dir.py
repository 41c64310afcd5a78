"""Every file the engine stages lives under one `session.scratch_dir` root
per process, and the root is gone when the process exits: sink round
trips, stream inputs and the default warehouse leave nothing behind."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]

# One op from each staging mechanism the root replaced: the shared sink
# helper, a per-process sink memo, a per-sf_dir fixture memo, the stream
# staging helper, a per-op stream stage, and the per-call atexit stages.
OPS = {
    "snk_sqlite": "sqlite",
    "snk_orc": "orc",
    "src_schema_evolution": "evo",
    "src_stream_file": "stream",
    "stream_static_join": "stream",
    "stream_foreach_batch": "fb",
    "stream_cdc_apply": "cdc",
    "src_jsonl": "jsonl",
}

CHILD = """
import json, os, sys
from secdb_spark import session
from secdb_spark.registry import all_queries

spark = session.get_spark("scratch-test", shuffle_partitions=2)
session.get_spark("scratch-test", shuffle_partitions=2)
queries = all_queries()
rows = {op: len(queries[op](spark, sys.argv[1]).collect()) for op in sys.argv[2:]}
root = session._scratch_root
print(json.dumps({"root": root, "staged": sorted(os.listdir(root)), "rows": rows}))
"""


def test_staged_files_leave_with_the_process(tmp_path):
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=str(ROOT),
    )
    out = subprocess.run(
        [sys.executable, "-c", CHILD, SF_DIR, *OPS],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert Path(report["root"]).parent == tmp_path
    assert all(n > 0 for n in report["rows"].values()), report["rows"]

    def staged(tag):
        return any(name.startswith(f"{tag}_") for name in report["staged"])

    assert all(staged(tag) for tag in OPS.values()), report["staged"]
    # the env warehouse is used as given: no scratch warehouse is made
    assert not staged("wh"), report["staged"]
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("secdb_"))
    assert not left, f"staging directories outlived the process: {left}"


def test_only_scratch_dir_makes_temp_dirs():
    """`mkdtemp` and `atexit.register` appear under secdb_spark/ only in
    `session.scratch_dir`: no op keeps a private staging scheme."""
    sites = set()
    for path in sorted((ROOT / "secdb_spark").rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if isinstance(node, ast.Attribute) and (
                node.attr == "mkdtemp"
                or (node.attr == "register"
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "atexit")
            ):
                sites.add((rel, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(path.read_text()), None)
    assert sites == {("secdb_spark/session.py", "scratch_dir")}, sorted(sites)
