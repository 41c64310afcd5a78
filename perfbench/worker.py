"""One benchmark run in a fresh process.

``perfbench/run.py`` starts this module with the run's own TMPDIR, Spark
local dirs and warehouse, and, for a traced run, with Spark's event log
switched on through PYSPARK_SUBMIT_ARGS.  The run:

1. sets up: ``session.get_spark``, ``registry.all_queries``,
   ``catalog.register_views`` and the workload's fixtures; one untimed
   warm pass to the workload's sink; then one pass that collects every
   call's output and checks it against its reference digest (in worker
   processes, beside the next calls);
2. runs ``Workload.timed_passes`` timed passes, each call once per pass
   in an order drawn from the seed.  One call is plan build (the call into
   the layer, up to the returned DataFrame) plus execution to the
   workload's sink; collected outputs are checked after the timer stops.
   Each call's figure is its median over the passes;
3. writes a JSON result to ``--out``; a traced run adds per-layer metrics
   from Spark's event log and writes its spans to ``--spans-out``.

Every timed interval also records the CPU time of the run's process tree
and the time the hypervisor took from the machine's vCPUs (``steal`` in
/proc/stat).  The end-to-end times are reported net of that steal:
``wall * cpu / (cpu + steal)``, the time the interval would have taken had
the runnable threads not been descheduled (see ``net_s``).

In a traced run the timed passes alternate: a traced pass sets a job group
around each call phase with the event-log listener attached, an untraced
pass detaches the listener and sets no groups.  Which comes first follows
the seed's parity, so the slow-down of later passes does not always fall
on one side.  ``trace.overhead`` compares the two kinds of pass.
"""

from __future__ import annotations

import argparse
import gc
import json
import multiprocessing
import os
import platform
import random
import resource
import statistics
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

from perfbench import trace
from perfbench.workloads import DATA_DIR, Checker, load_digests, workloads

@dataclass
class Call:
    idx: int  # names the call's job groups: "<idx>:build", "<idx>:exec"
    label: str
    pass_no: int
    traced: bool
    start: float
    built: float
    end: float
    cpu: float  # CPU seconds of the process tree during the call
    steal: float  # seconds stolen from the machine's vCPUs during the call
    rows: int | None = None
    error: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def net(self) -> float:
        return net_s(self.wall, self.cpu, self.steal)


def net_s(wall: float, cpu: float, steal: float) -> float:
    """Wall time net of hypervisor steal.

    Over the interval the run's threads were on a vCPU for ``cpu`` seconds
    and the hypervisor held runnable vCPUs for ``steal`` seconds, so the
    threads ran ``cpu / (cpu + steal)`` of the time they were ready to;
    scaling the wall time by that share removes the stall and keeps the
    program's own parallelism and waiting.  With no steal it is ``wall``.
    """
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Seconds the hypervisor has taken from this machine's vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and its descendants, the reaped ones
    included (user + system, steal excluded by the kernel)."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def tree_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            try:
                size += os.lstat(os.path.join(root, name)).st_size
                files += 1
            except FileNotFoundError:
                pass
    return size, files


def _sink(kind: str):
    if kind == "noop":
        return lambda df: df.write.mode("overwrite").format("noop").save()
    return lambda df: df.toPandas()


class EventLogSwitch:
    """Detaches and re-attaches the session's event-log listener (reached
    through the JVM gateway; Spark has no public switch for it)."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.listener = self.jsc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on == self.on:
            return
        if on:
            self.jsc.listenerBus().addToEventLogQueue(self.listener)
        else:
            self.jsc.listenerBus().waitUntilEmpty()
            self.jsc.removeSparkListener(self.listener)
        self.on = on


class Runner:
    """Runs calls with the benchmark's timers; while ``tracing`` it sets a
    job group ``<call>:build`` / ``<call>:exec`` around each phase."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracing = False
        self.calls: list[Call] = []
        self.pid = os.getpid()

    def _group(self, name: str, label: str) -> None:
        if self.tracing:
            self.sc.setJobGroup(name, label)

    def call(self, label: str, thunk, sink, pass_no: int) -> tuple[Call, object]:
        idx = len(self.calls)
        out = None
        self._group(f"{idx}:build", label)
        cpu0, steal0 = tree_cpu_s(self.pid), steal_s()
        start = time.time()
        built = None
        try:
            df = thunk()
            built = time.time()
            self._group(f"{idx}:exec", label)
            out = sink(df)
            error = None
        except Exception as exc:  # noqa: BLE001 - a failed call is counted
            error = f"{label}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        end = time.time()
        rec = Call(idx, label, pass_no, self.tracing, start, built or end, end,
                   tree_cpu_s(self.pid) - cpu0, steal_s() - steal0,
                   len(out) if out is not None else None, error)
        self.calls.append(rec)
        return rec, out


def measure(args) -> dict:
    t0 = args.t0
    wl = workloads()[args.workload]
    sf = args.sf or wl.sf
    data_dir = os.path.join(DATA_DIR, sf)
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(f"no data set {data_dir}")
    traced = bool(args.event_log)
    setup: dict[str, tuple[float, float]] = {}

    def stamp(name: str, since: float) -> float:
        now = time.time()
        setup[name] = (since, now)
        return now

    from pyspark import __version__ as pyspark_version

    from secdb_spark.catalog import register_views
    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    now = time.time()
    spark = get_spark(f"perfbench-{wl.name}")
    now = stamp("session", now)
    all_queries()
    now = stamp("registry", now)
    register_views(spark, data_dir)
    now = stamp("catalog", now)
    tmp = os.environ["TMPDIR"]
    thunks = wl.calls(spark, data_dir, args.fixtures)
    checker = Checker(load_digests(), wl.digest_keys(sf))
    now = stamp("fixtures", now)

    runner = Runner(spark)
    switch = EventLogSwitch(spark) if traced else None
    traced_first = args.seed % 2 == 0
    errors: list[str] = []
    labels = wl.labels()
    collect = _sink("collect")

    # One untimed pass to the workload's sink, then the checked pass: the
    # second run of a call still used about 40% more CPU than the runs after
    # it, so the timed passes start at each call's third run.
    sink = _sink(wl.sink)
    for label in labels:
        rec, out = runner.call(label, thunks[label], sink, -1)
        if rec.error:
            errors.append(rec.error)
        del out
    now = stamp("warm_pass", now)
    # Checked pass: collect every output and check it in worker processes,
    # largest reference first so that its check overlaps the later calls.
    with ProcessPoolExecutor(2, mp_context=multiprocessing.get_context("spawn")) as pool:
        pending = []
        for label in sorted(labels, key=lambda lb: -checker.rows(lb)):
            rec, pdf = runner.call(label, thunks[label], collect, 0)
            if rec.error:
                errors.append(rec.error)
            else:
                pending.append(pool.submit(checker.check, label, pdf))
            del pdf
        now = stamp("checked_pass", now)
        errors.extend(e for e in (f.result() for f in pending) if e)
    now = stamp("check_wait", now)
    setup_calls = len(runner.calls)
    # Leave the checked pass's garbage (collected frames) out of the timed passes.
    gc.collect()
    stamp("gc", now)
    setup_wall = time.time() - t0
    setup_net = net_s(setup_wall, tree_cpu_s(os.getpid()), steal_s() - args.steal0)

    # Timed passes.
    per_pass_tmp: list[tuple[int, int]] = []
    passes = wl.timed_passes(args.seconds)
    for pass_no in range(1, passes + 1):
        order = labels[:]
        random.Random(f"{args.seed}:{pass_no}").shuffle(order)
        if traced:
            runner.tracing = (pass_no % 2 == 1) == traced_first
            switch.set(runner.tracing)
        before = tree_usage(tmp) if runner.tracing else (0, 0)
        for label in order:
            rec, out = runner.call(label, thunks[label], sink, pass_no)
            if rec.error:
                errors.append(rec.error)
            elif wl.sink == "collect":
                problem = checker.check(label, out)
                if problem:
                    errors.append(problem)
            del out
        if runner.tracing:
            after = tree_usage(tmp)
            per_pass_tmp.append((after[0] - before[0], after[1] - before[1]))
    if traced:
        switch.set(True)  # the log then closes with the application-end event

    timed = [c for c in runner.calls[setup_calls:] if c.error is None]
    if not timed:
        raise RuntimeError("every timed call failed: " + "; ".join(errors[:3]))
    # Each call's figure is its median over the passes, so that a stall or
    # the warm-up hitting one pass of a call does not move it.
    per_op = {
        label: [c for c in timed if c.label == label]
        for label in labels if any(c.label == label for c in timed)
    }
    op_net = {lb: statistics.median(c.net for c in cs) for lb, cs in per_op.items()}
    medians = sorted(op_net.values())
    p90 = (statistics.quantiles(medians, n=10, method="inclusive")[-1]
           if len(medians) > 1 else medians[0])
    attempted = len(runner.calls)

    def pass_sum(attr: str) -> list[float]:
        return [sum(getattr(c, attr) for c in timed if c.pass_no == p)
                for p in range(1, passes + 1)]

    result = {
        "workload": wl.name,
        "sf": sf,
        "attempted": attempted,
        "failed": len(errors),
        "errors": errors[:20],
        "passes": passes,
        "pass_s": pass_sum("wall"),
        "pass_net_s": pass_sum("net"),
        "pass_cpu_s": pass_sum("cpu"),
        "pass_steal_s": pass_sum("steal"),
        "op_p50_s": op_net,
        "setup": {k: round(b - a, 3) for k, (a, b) in setup.items()},
        "setup_wall_s": setup_wall,
        "samples": len(timed),
        "e2e": {
            "setup_s": setup_net,
            "ops_per_s": len(medians) / sum(medians),
            "op_p50_s": statistics.median(medians),
            "op_p90_s": p90,
            "fail_frac": len(errors) / attempted,
        },
        "host": {
            "nproc": os.cpu_count(),
            "cpu_model": _cpu_model(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "pyspark": pyspark_version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "load_end": loadavg(),
        },
    }
    if traced:
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        result["host"]["jvm_peak_rss_mb"] = _peak_rss_mb(jvm_pid)
    spark.stop()
    if traced:
        result["layers"], spans = _layers(
            trace.parse_event_log(args.event_log),
            [c for c in runner.calls[setup_calls:] if c.traced],
            setup, per_pass_tmp, result["host"]["default_parallelism"],
        )
        result["layers"]["trace.overhead"] = 1 - _ops_per_s(
            runner.calls[setup_calls:], True) / _ops_per_s(runner.calls[setup_calls:], False)
        result["layers"]["host.jvm_peak_rss_mb"] = result["host"]["jvm_peak_rss_mb"]
        result["layers"]["host.py_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        )
        if args.spans_out:
            _write_spans(args.spans_out, spans)
    return result


def _ops_per_s(calls: list[Call], traced: bool) -> float:
    walls = [c.net for c in calls if c.traced == traced and c.error is None]
    return len(walls) / sum(walls)


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _layers(log: trace.EventLog, calls: list[Call], setup: dict,
            per_pass_tmp: list[tuple[int, int]], cores: int):
    """Per-layer metrics of the timed passes, and the run's spans."""
    spans: list[trace.Span] = []
    for name, (a, b) in setup.items():
        spans.append(trace.Span(f"setup.{name}", a, b))
    parents: dict[str, int] = {}
    build_groups, exec_groups = set(), set()
    for call in calls:
        idx = len(spans)
        spans.append(trace.Span(f"op {call.label}", call.start, call.end,
                                attrs={"pass": call.pass_no}))
        spans.append(trace.Span("build", call.start, call.built, idx))
        spans.append(trace.Span("exec", call.built, call.end, idx))
        parents[f"{call.idx}:build"] = idx + 1
        parents[f"{call.idx}:exec"] = idx + 2
        build_groups.add(f"{call.idx}:build")
        exec_groups.add(f"{call.idx}:exec")
    trace.add_job_spans(spans, log, parents)

    ok = [c for c in calls if c.error is None]
    build = [c.built - c.start for c in ok]
    wall = sum(c.wall for c in ok)
    exec_s = sum(c.end - c.built for c in ok)
    ex_stages = [s for s in log.stages.values() if s.group in exec_groups and s.end]
    timed_stages = [s for s in log.stages.values()
                    if s.group in build_groups | exec_groups]
    task_s = sum(sum(s.task_s) for s in ex_stages)
    m = {
        "session.start_s": _dur(setup["session"]),
        "registry.load_s": _dur(setup["registry"]),
        "catalog.register_s": _dur(setup["catalog"]),
        "operators.build_s": sum(build),
        "operators.build_p50_s": statistics.median(build),
        "operators.build_jobs": sum(
            1 for j in log.jobs.values() if j.group in build_groups),
        "operators.build_share": sum(build) / wall,
        "exec.s": exec_s,
        "exec.jobs": sum(1 for j in log.jobs.values() if j.group in exec_groups),
        "exec.stages": len(ex_stages),
        "exec.tasks": sum(len(s.task_s) for s in ex_stages),
        "exec.task_s": task_s,
        "exec.core_util": task_s / (cores * exec_s) if exec_s else 0.0,
        "exec.skew_max": max(
            [trace.skew(s.task_s) for s in ex_stages if len(s.task_s) > 1],
            default=1.0),
        "exec.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in ex_stages),
        "exec.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in ex_stages),
        "exec.spill_bytes": sum(s.spill_bytes for s in ex_stages),
        "exec.gc_s": sum(s.gc_s for s in ex_stages),
        "exec.result_rows": sum(c.rows or 0 for c in ok)
        + sum(s.output_records for s in ex_stages),
        "exec.output_bytes": sum(s.output_bytes for s in timed_stages),
    }
    for key in ("start_s", "init_s", "run_s", "bytes_sent", "bytes_returned"):
        m[f"pyworker.{key}"] = sum(s.pyworker.get(key, 0.0) for s in timed_stages)
    passes = max(len(per_pass_tmp), 1)
    m["sinks.disk_bytes"] = sum(b for b, _ in per_pass_tmp) / passes
    m["sinks.files"] = sum(f for _, f in per_pass_tmp) / passes
    return m, spans


def _dur(ab: tuple[float, float]) -> float:
    return ab[1] - ab[0]


def _write_spans(path: str, spans: list[trace.Span]) -> None:
    selfs = trace.self_times(spans)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(
            [
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "self_s": st, **s.attrs}
                for s, st in zip(spans, selfs)
            ],
            fh,
        )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="time the parent started this process")
    ap.add_argument("--steal0", type=float, required=True,
                    help="the machine's steal seconds at --t0")
    ap.add_argument("--out", required=True)
    ap.add_argument("--fixtures", required=True,
                    help="scratch dir for the api calls")
    ap.add_argument("--sf", default=None, help="data set, e.g. sf0.001")
    ap.add_argument("--event-log", default=None,
                    help="Spark event-log dir; makes this a traced run")
    ap.add_argument("--spans-out", default=None)
    args = ap.parse_args(argv)
    result = measure(args)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
