"""Spans and Spark event-log parsing for the traced benchmark run.

Stdlib only.  The benchmark sets a Spark job group around every call it
makes into a layer (``<call>:<phase>``); Spark's own event log, switched on
from outside the program, then tells which jobs, stages and tasks each
group launched.  Every span lives in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

# SQL metric names of the Arrow Python runners (Spark's PythonSQLMetrics).
PYWORKER_METRICS = {
    "time to start Python workers": "start_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}
# SQL metric types whose raw values are times, and the seconds per unit.
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError."""
    if not METRIC_NAME.match(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    """One timed interval; ``parent`` is the index of the enclosing span."""

    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(s.start, s.end, children.get(i, ()))
        for i, s in enumerate(spans)
    ]


# ----------------------------------------------------------------- event log


@dataclass
class StageStats:
    stage_id: int
    group: str | None
    start: float = 0.0
    end: float = 0.0
    task_s: list[float] = field(default_factory=list)
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    output_bytes: int = 0
    output_records: int = 0
    pyworker: dict[str, float] = field(default_factory=dict)


@dataclass
class JobStats:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, JobStats] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)


def _event_files(log_dir: str):
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith((".", "appstatus")) or name.endswith(".crc"):
                continue
            yield os.path.join(root, name)


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def parse_event_log(log_dir: str) -> EventLog:
    """Read every uncompressed event-log file under ``log_dir``.

    Jobs and stages carry the job group that was set when they started;
    task metrics are summed per stage, and each stage keeps its task
    durations so that skew can be computed."""
    log = EventLog()
    metric_types: dict[int, str] = {}
    pending_py: list[tuple[int, int, str, int]] = []  # stage, acc id, name, value
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    _apply(json.loads(line), log, metric_types, pending_py)
    for stage_id, acc_id, name, value in pending_py:
        stage = log.stages.get(stage_id)
        if stage is None:
            continue
        key = PYWORKER_METRICS[name]
        # Timing metrics default to ms unless the plan declares nsTiming.
        scale = (_TIME_UNITS.get(metric_types.get(acc_id), 1e-3)
                 if key.endswith("_s") else 1.0)
        stage.pyworker[key] = stage.pyworker.get(key, 0.0) + value * scale
    return log


def _apply(ev: dict, log: EventLog, metric_types: dict, pending_py: list) -> None:
    kind = ev.get("Event", "")
    if "sparkPlanInfo" in ev:
        _plan_metric_types(ev["sparkPlanInfo"], metric_types)
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        log.jobs[ev["Job ID"]] = JobStats(
            job_id=ev["Job ID"],
            group=props.get("spark.jobGroup.id"),
            start=ev["Submission Time"] / 1e3,
            stage_ids=[s["Stage ID"] for s in ev.get("Stage Infos", ())],
        )
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end = ev["Completion Time"] / 1e3
    elif kind == "SparkListenerStageSubmitted":
        info = ev["Stage Info"]
        props = ev.get("Properties") or {}
        log.stages[info["Stage ID"]] = StageStats(
            stage_id=info["Stage ID"], group=props.get("spark.jobGroup.id")
        )
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        stage = log.stages.setdefault(
            info["Stage ID"], StageStats(stage_id=info["Stage ID"], group=None)
        )
        stage.start = info.get("Submission Time", 0) / 1e3
        stage.end = info.get("Completion Time", 0) / 1e3
    elif kind == "SparkListenerTaskEnd":
        _apply_task(ev, log, pending_py)


def _apply_task(ev: dict, log: EventLog, pending_py: list) -> None:
    sid = ev["Stage ID"]
    stage = log.stages.setdefault(sid, StageStats(stage_id=sid, group=None))
    info = ev.get("Task Info") or {}
    if info.get("Finish Time") and info.get("Launch Time"):
        stage.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    stage.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    stage.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    stage.spill_bytes += m.get("Disk Bytes Spilled", 0)
    stage.gc_s += m.get("JVM GC Time", 0) / 1e3
    out = m.get("Output Metrics") or {}
    stage.output_bytes += out.get("Bytes Written", 0)
    stage.output_records += out.get("Records Written", 0)
    for acc in info.get("Accumulables", ()):
        if acc.get("Name") in PYWORKER_METRICS and acc.get("Update") is not None:
            pending_py.append((sid, acc["ID"], acc["Name"], int(acc["Update"])))


def skew(task_s: list[float]) -> float:
    """Max over median task time of one stage (1.0 for a single task)."""
    if not task_s:
        return 1.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 1.0


def add_job_spans(spans: list[Span], log: EventLog, parents: dict[str, int]) -> None:
    """Append a span for each job of every group in ``parents`` (group id
    -> index of the span that set it) and, under it, a span per stage it ran."""
    job_index: dict[int, int] = {}
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        if job.group in parents:
            job_index[job.job_id] = len(spans)
            spans.append(Span(f"job {job.job_id}", job.start,
                              job.end or job.start, parents[job.group]))
    # A stage listed by several jobs ran in the first; later ones skip it.
    owner: dict[int, int] = {}
    for job_id in sorted(job_index):
        for sid in log.jobs[job_id].stage_ids:
            owner.setdefault(sid, job_id)
    for sid, stage in sorted(log.stages.items()):
        if sid in owner and stage.end:
            spans.append(Span(f"stage {sid}", stage.start, stage.end,
                              job_index[owner[sid]], {"tasks": len(stage.task_s)}))
