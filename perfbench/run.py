"""SECDB benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload {headline,registry_mix}
        --seed N --seconds S --trace {0,1} [--sf sf0.001]

Run from the root of a checkout.  The run happens in a child process
(``perfbench/worker.py``) with ``PYTHONPATH`` set to the checkout root and
its own TMPDIR, SPARK_LOCAL_DIRS and SPARK_GRAFT_WAREHOUSE under
``.perfbench_runs/``, all removed afterwards; what the program left in
TMPDIR is reported as ``sinks.tmp_bytes_left``.  The session runs
``local[$SPARK_GRAFT_CPUS]``, default ``nproc``.

``--trace 0`` reports the end-to-end metrics, times net of the
hypervisor's steal (see worker.py).  ``--trace 1`` switches
Spark's event log on and reports the per-layer metrics; its timed passes
alternate between traced and untraced, which gives ``trace.overhead`` =
1 - traced ops/s / untraced ops/s (see worker.py).  Human-readable lines
come first; the last line of standard output is the JSON result.  A
failed run prints its child's output and exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.worker import loadavg, steal_s, tree_usage  # noqa: E402

WORKLOADS = ("headline", "registry_mix")
TIME_LIMIT_S = 175.0

E2E_METRICS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}
PER_LAYER_METRICS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "catalog.register_s": "s",
    "operators.build_s": "s",
    "operators.build_p50_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "ratio",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.core_util": "ratio",
    "exec.skew_max": "ratio",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_s": "s",
    "exec.result_rows": "count",
    "exec.output_bytes": "B",
    "pyworker.start_s": "s",
    "pyworker.init_s": "s",
    "pyworker.run_s": "s",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_returned": "B",
    "sinks.disk_bytes": "B",
    "sinks.files": "count",
    "sinks.tmp_bytes_left": "B",
    "host.jvm_peak_rss_mb": "MB",
    "host.py_peak_rss_mb": "MB",
    "host.load_start": "load",
    "host.load_end": "load",
    "trace.overhead": "ratio",
}


class RunFailed(Exception):
    pass


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the child left in its process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_child(args, traced: bool, deadline: float, run_dir: str) -> dict:
    """One measured run in a fresh process with its own temp dirs."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "wh", "events", "fixtures")}
    for d in dirs.values():
        os.makedirs(d)
    submit = (
        f'--driver-java-options "-Djava.io.tmpdir={dirs["tmp"]} -XX:-UsePerfData"'
    )
    if traced:
        submit += (
            " --conf spark.eventLog.enabled=true"
            " --conf spark.eventLog.compress=false"
            f" --conf spark.eventLog.dir=file://{dirs['events']}"
        )
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_WAREHOUSE=dirs["wh"],
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()),
        PYSPARK_SUBMIT_ARGS=submit + " pyspark-shell",
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--out", out,
        "--fixtures", dirs["fixtures"],
    ]
    if args.sf:
        cmd += ["--sf", args.sf]
    if traced:
        spans = os.path.join(ROOT, ".perfbench_out",
                             f"spans-{args.workload}-seed{args.seed}.json")
        cmd += ["--event-log", dirs["events"], "--spans-out", spans]
    log_path = os.path.join(run_dir, "child.log")
    with open(log_path, "w") as log:
        t0, steal0 = time.time(), steal_s()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0), "--steal0", repr(steal0)], cwd=ROOT, env=env,
            stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-80:]
        sys.stderr.writelines(tail)
        why = "timed out" if code is None else f"exited with code {code}"
        raise RunFailed(f"{args.workload} child {why}")
    with open(out) as fh:
        result = json.load(fh)
    result["tmp_bytes_left"] = tree_usage(dirs["tmp"])[0]
    return result


def _measure(args, deadline: float, runs_root: str) -> tuple[dict, dict]:
    run_dir = os.path.join(runs_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run_child(args, bool(args.trace), deadline, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs_root)
        except OSError:
            pass
    if not args.trace:
        values = result["e2e"]
        metrics = {k: (values[k], u) for k, u in E2E_METRICS.items()}
    else:
        values = dict(result["layers"])
        values["sinks.tmp_bytes_left"] = result["tmp_bytes_left"]
        values["host.load_start"] = args.load_start
        values["host.load_end"] = result["host"]["load_end"]
        metrics = {k: (values[k], u) for k, u in PER_LAYER_METRICS.items()}
    return metrics, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=None,
                    help="data set under perfbench/data (default: the workload's)")
    args = ap.parse_args(argv)
    # A SIGTERM unwinds like an error, so that the child's group is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "secdb_spark", "__init__.py")):
        print(f"perfbench: no secdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    args.load_start = loadavg()
    nproc = os.cpu_count() or 1
    try:
        metrics, result = _measure(
            args, start + TIME_LIMIT_S, os.path.join(ROOT, ".perfbench_runs"))
    except RunFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    host = dict(result["host"], load_start=args.load_start,
                busy=args.load_start > 0.5 * nproc, busy_threshold=0.5 * nproc)
    attempted, failed = result["attempted"], result["failed"]
    print(f"host {json.dumps(host, sort_keys=True)}")
    print(f"workload {args.workload}  sf {result['sf'].removeprefix('sf')}  "
          f"seed {args.seed}  passes {result['passes']}  "
          f"timed calls {result['samples']}")
    print("setup " + "  ".join(f"{k} {v:.2f}s" for k, v in result["setup"].items())
          + f"  wall {result['setup_wall_s']:.2f}s")
    for key in ("pass_s", "pass_net_s", "pass_cpu_s", "pass_steal_s"):
        print(f"{key} " + "  ".join(f"{v:.2f}" for v in result[key]))
    print("op p50 " + "  ".join(f"{k} {v:.3f}" for k, v in result["op_p50_s"].items()))
    for err in result["errors"]:
        print(f"FAILED {err}")
    for name, (value, unit) in {**metrics, "fail_frac": (
            failed / attempted, "ratio")}.items():
        print(f"{name:28s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
