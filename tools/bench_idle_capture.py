"""Capture BENCH_IDLE_r{N}.json per the BASELINE.md bench-record
protocol: N consecutive full bench.py runs with cooldowns, settle
stamps recorded per run, headline = best complete run, plus the
single-session CPU microbench stamp for cross-round host comparison.

Usage: python tools/bench_idle_capture.py <round> [n_runs] [cooldown_s]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# Per-query baseline seconds from BASELINE.md's noop-methodology tables
BASELINE_Q = {
    "q_agg_pricing": 0.414,
    "q_join_star": 0.345,
    "q_window_topk": 0.319,
    "q_lag_asof": 0.235,
    "q_session": 0.350,
    "q_cosine_topk": 0.422,
    "q_dedup_exact": 0.313,
    "q_dedup_near": 17.628,
    "q_tpch_q18": 0.753,
    "q_sessionize": 0.316,
    "q_funnel": 0.643,
    "q_rollup": 0.227,
}


def cpu_stamp(cpus: str) -> str:
    t0 = time.time()
    hashlib.sha256(b"\0" * (200 * 1024 * 1024)).hexdigest()
    t_sha = time.time() - t0
    import numpy as np

    a = np.random.default_rng(0).random((2000, 2000))
    t0 = time.time()
    _ = a @ a
    t_mm = time.time() - t0
    return (
        f"local[{cpus}], {os.cpu_count()} vCPU; sha256 200MB {t_sha:.3f}s, "
        f"numpy 2000x2000 matmul {t_mm:.3f}s "
        "(single-session microbench for cross-round host comparison)"
    )


def main() -> int:
    rnd = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    cooldown = int(sys.argv[3]) if len(sys.argv) > 3 else 120
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    runs = []
    for i in range(n_runs):
        if i:
            time.sleep(cooldown)
        with open("/proc/loadavg") as fh:
            load = fh.read().split()[0]
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        env["SPARK_GRAFT_CPUS"] = cpus
        out = subprocess.run(
            [sys.executable, "bench.py"],
            capture_output=True,
            text=True,
            env=env,
            cwd=ROOT,
        )
        lines = [
            l for l in out.stdout.splitlines() if l.startswith('{"metric"')
        ]
        if not lines:
            raise RuntimeError(
                f"bench.py run {i + 1} printed no JSON line "
                f"(exit {out.returncode}); stderr tail:\n{out.stderr[-4000:]}"
            )
        payload = json.loads(lines[-1])
        payload["loadavg_before"] = load
        runs.append(payload)
        print(f"run {i + 1}/{n_runs}: {payload['value']} s (load {load})")
    best = min(runs, key=lambda r: r["value"])
    base_q = BASELINE_Q
    vs = {
        q: round(best["queries"][q] / base_q[q], 2)
        for q in best["queries"]
        if q in base_q
    }
    geo = round(
        math.exp(sum(math.log(v) for v in vs.values()) / len(vs)), 2
    )
    doc = {
        "metric": best["metric"],
        "value": best["value"],
        "unit": "sec",
        "sf": best["sf"],
        "queries": best["queries"],
        "protocol": (
            "idle-paired per BASELINE.md 'Bench record protocol' (settle "
            f"enforced in-process since r10): {n_runs} consecutive full "
            f"bench.py runs with >= {cooldown} s cooldowns on a settled "
            "host.  Headline = the best complete run; all totals and "
            "stamps below."
        ),
        "run_totals_sec": [r["value"] for r in runs],
        "settle_stamps": [
            {"loadavg_before": r["loadavg_before"], **r.get("settle", {})}
            for r in runs
        ],
        "cpus": best.get("cpus"),
        "vs_baseline_headline_run": vs,
        "geomean_vs_baseline": geo,
        "host": cpu_stamp(cpus),
        "date": time.strftime("%Y-%m-%d"),
    }
    path = ROOT / f"BENCH_IDLE_r{rnd}.json"
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"wrote {path}: best {best['value']} s, geomean {geo}x baseline")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
