"""bench.py host-settle guard (BASELINE.md 'Bench record protocol').

The official per-round bench is captured by the driver right after its
operator dryrun drains; _settle_host is the in-process enforcement of the
protocol's cool-down so the recorded numbers measure the queries, not the
host's recovery (r9: q_agg_pricing 2.03x under load ~5.6 vs 1.19x idle on
identical code).
"""

from __future__ import annotations

import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_settle_returns_immediately_when_idle(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD", "1e9")
    t0 = time.time()
    ctx = bench._settle_host()
    assert time.time() - t0 < 1.0
    assert ctx["settle_wait_sec"] < 1.0
    assert ctx["settle_threshold"] == 1e9
    # on Linux the loadavg must have been read and reported
    if os.path.exists("/proc/loadavg"):
        assert isinstance(ctx["loadavg_1m_at_start"], float)


def test_settle_bounded_by_max_wait(monkeypatch):
    """Under load the wait is bounded by SPARK_GRAFT_BENCH_SETTLE_S —
    bench never blocks past the documented cap."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD", "-1")  # unreachable
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SETTLE_S", "0")  # cap hit at once
    t0 = time.time()
    ctx = bench._settle_host()
    assert time.time() - t0 < 6.0  # one poll iteration at most
    assert ctx["settle_threshold"] == -1


def test_settle_default_scales_with_nproc(monkeypatch):
    """Unset, the load threshold is 0.5 x nproc: the busy rule
    perfbench/run.py uses, so a 4-vCPU host settles below 2.0."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_MAX_LOAD", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SETTLE_S", "0")
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 4)
    assert bench._settle_host()["settle_threshold"] == 2.0


def test_bench_module_reports_settle_in_schema():
    """The output JSON contract includes the settle stamp (keys only —
    running the full bench is the driver's job, not the suite's)."""
    src = open(bench.__file__).read()
    assert '"settle": settle' in src
    importlib.reload(bench)
