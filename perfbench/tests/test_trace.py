"""Event-log parser, span self-time arithmetic, the steal correction and
the metric-name rule."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import trace
from perfbench.run import E2E_METRICS, PER_LAYER_METRICS
from perfbench.worker import net_s, steal_s, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
# Spark 4.1 event log of `agg_group` (call 0) and `sim_cosine_topk` (call 1)
# at sf0.001, collected with toPandas under job groups "<call>:<phase>";
# bulky fields (RDD info, plan text, non-Python accumulables) were removed.
EVENT_LOG = os.path.join(HERE, "data", "eventlog")


@pytest.fixture(scope="module")
def log():
    return trace.parse_event_log(EVENT_LOG)


def test_jobs_carry_their_group(log):
    groups = {j.job_id: j.group for j in log.jobs.values()}
    assert groups == {0: "0:exec", 1: "0:exec", 2: "1:build", 3: "1:exec", 4: "1:exec"}
    assert log.jobs[4].stage_ids == [5, 6]
    assert all(j.end >= j.start for j in log.jobs.values())


def test_only_stages_that_ran_are_kept(log):
    # Stages 1 and 5 are listed by jobs 1 and 4 but were skipped.
    assert sorted(log.stages) == [0, 2, 3, 4, 6]
    assert [len(log.stages[s].task_s) for s in (0, 2, 3, 4, 6)] == [1, 1, 1, 1, 8]


def test_shuffle_bytes_balance(log):
    assert log.stages[0].shuffle_write_bytes == log.stages[2].shuffle_read_bytes == 444
    assert log.stages[4].shuffle_write_bytes == log.stages[6].shuffle_read_bytes > 0


def test_python_worker_metrics(log):
    py = log.stages[6].pyworker
    assert py["bytes_sent"] == 268416
    assert py["bytes_returned"] == 62176
    assert py["run_s"] == pytest.approx(5.687)  # a "timing" metric, in ms
    assert 0 < py["start_s"] < py["run_s"]
    assert log.stages[0].pyworker == {}


def test_job_spans_nest_under_their_group(log):
    spans = [trace.Span("build", 0, 1), trace.Span("exec", 1, 2)]
    trace.add_job_spans(spans, log, {"1:build": 0, "1:exec": 1})
    names = [(s.name, s.parent) for s in spans[2:]]
    assert names == [("job 2", 0), ("job 3", 1), ("job 4", 1),
                     ("stage 3", 2), ("stage 4", 3), ("stage 6", 4)]


def test_skew():
    assert trace.skew([1.0, 1.0, 4.0]) == 4.0
    assert trace.skew([]) == 1.0
    assert trace.skew([0.0, 0.0]) == 1.0


def test_covered_merges_and_clips():
    assert trace.covered(0, 10, []) == 0
    assert trace.covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert trace.covered(0, 10, [(-5, 2), (9, 20)]) == 3
    assert trace.covered(0, 10, [(11, 12), (-3, -1)]) == 0
    assert trace.covered(0, 10, [(0, 10), (2, 3)]) == 10


def test_self_times():
    spans = [
        trace.Span("op", 0.0, 10.0),
        trace.Span("build", 0.0, 4.0, 0),
        trace.Span("exec", 4.0, 10.0, 0),
        trace.Span("job", 1.0, 3.0, 1),
        trace.Span("job", 5.0, 8.0, 2),
        trace.Span("job", 7.0, 11.0, 2),  # overlaps the last and overruns exec
        trace.Span("stage", 5.5, 6.0, 4),
    ]
    assert trace.self_times(spans) == pytest.approx([0.0, 2.0, 1.0, 2.0, 2.5, 4.0, 0.5])


def test_net_of_steal():
    assert net_s(10.0, 6.0, 0.0) == 10.0
    assert net_s(10.0, 6.0, 2.0) == pytest.approx(7.5)  # ran 6 of the 8 s it was ready
    assert net_s(10.0, 0.0, 0.0) == 10.0  # idle interval: nothing to scale
    assert net_s(0.0, 0.0, 0.0) == 0.0


def test_tree_cpu_counts_reaped_children():
    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    assert tree_cpu_s(os.getpid()) - before > 0.3
    assert steal_s() >= 0


@pytest.mark.parametrize("name", ["setup_s", "exec.core_util", "op.q_dedup_near.p50_s",
                                  "a-b", "9lives", "x" * 64])
def test_metric_name_accepted(name):
    assert trace.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "ops/s", "x" * 65, "é"])
def test_metric_name_rejected(name):
    with pytest.raises(ValueError):
        trace.check_metric_name(name)


def test_benchmark_json_matches_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == E2E_METRICS
    assert layer == PER_LAYER_METRICS
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        trace.check_metric_name(name)
