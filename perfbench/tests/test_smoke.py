"""Short sf0.001 runs of every workload through the benchmark's command.

Each run starts its own Spark session (about 10-30 s apiece)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench.run import E2E_METRICS, PER_LAYER_METRICS, WORKLOADS
from perfbench.workloads import Checker, digest, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _run(*args, cwd=ROOT, timeout=240):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--sf", "sf0.001"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 2 * len(workloads()[workload].labels())
    assert set(res["metrics"]) == set(E2E_METRICS)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


def test_traced_smoke_run_reports_every_layer():
    res = _result(_run("--workload", "registry_mix", "--seed", "4", "--seconds", "1",
                       "--trace", "1", "--sf", "sf0.001"))
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(PER_LAYER_METRICS)
    assert m["exec.jobs"] > 0 and m["exec.tasks"] >= m["exec.stages"] > 0
    assert m["sinks.files"] > 0 and m["sinks.disk_bytes"] > 0  # snk_sqlite shards
    assert m["pyworker.run_s"] > 0 and m["pyworker.bytes_sent"] > 0  # udf_pandas_agg
    assert 0 < m["operators.build_share"] < 1
    spans_file = os.path.join(ROOT, ".perfbench_out", "spans-registry_mix-seed4.json")
    with open(spans_file) as fh:
        spans = json.load(fh)
    ops = [i for i, s in enumerate(spans) if s["name"].startswith("op ")]
    for i in ops:  # build and exec spans account for the op's wall time
        kids = [s for s in spans if s["parent"] == i]
        assert [k["name"] for k in kids] == ["build", "exec"]
        assert kids[0]["start"] == spans[i]["start"]
        assert kids[1]["end"] == spans[i]["end"]
        assert kids[0]["end"] == kids[1]["start"]
    assert any(s["name"].startswith("job ") for s in spans)


def test_corrupted_reference_is_a_failure():
    pdf = pd.DataFrame({"k": [2, 1], "v": [0.5, None]})
    ref = {"sf0.001": {"op": {"sha256": digest(pdf), "rows": 2, "source": "duckdb"}}}
    checker = Checker(ref, {"op": ("sf0.001", "op")})
    assert checker.check("op", pdf.iloc[::-1]) is None  # row order is not compared
    ref["sf0.001"]["op"]["sha256"] = "0" * 64
    assert "differ" in checker.check("op", pdf)
    ref["sf0.001"]["op"]["rows"] = 3
    assert "rows" in checker.check("op", pdf)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = _run("--workload", "headline", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
