"""Spark 4.1 event-log parser: per-job-description stage and task totals.

Reads an uncompressed event log (a single file, or the ``eventlog_v2_*``
directory of a rolling log) and attributes every task to the job that
ran its stage, and every job to the ``spark.job.description`` it was
submitted under.  The benchmark sets that description around each call
it makes, so the totals split by workload call.

SQL metrics reach the log as task accumulables; their units come from
the plan's metric types (``timing`` is milliseconds, ``nsTiming``
nanoseconds, ``size`` bytes).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}


@dataclass
class Job:
    job_id: int
    description: str | None
    submitted_ms: int
    completed_ms: int | None = None

    @property
    def duration_s(self) -> float:
        return ((self.completed_ms or self.submitted_ms) - self.submitted_ms) / 1e3


@dataclass
class Totals:
    """Sums over the tasks of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    python_start_s: float = 0.0
    python_init_s: float = 0.0
    python_run_s: float = 0.0
    to_python_bytes: float = 0.0
    from_python_bytes: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    scan_bytes: int = 0
    sink_bytes: int = 0
    task_s: list = field(default_factory=list)


def event_files(path: Path) -> list[Path]:
    """The log's files in write order."""
    path = Path(path)
    if path.is_file():
        return [path]
    files = [p for p in path.iterdir() if p.name.startswith("events_")]
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))


def _plan_metric_types(plan: dict, out: dict):
    for metric in plan.get("metrics", ()):
        out[metric["accumulatorId"]] = metric["metricType"]
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


class EventLog:
    """Parsed jobs plus per-job task totals."""

    def __init__(self, path: Path):
        self.jobs: dict[int, Job] = {}
        self.totals: dict[int, Totals] = {}
        stage_job: dict[int, int] = {}
        metric_types: dict[int, str] = {}
        stage_seen: set = set()
        for f in event_files(path):
            with open(f) as fh:
                for line in fh:
                    event = json.loads(line)
                    kind = event["Event"]
                    if kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"
                    ):
                        _plan_metric_types(event.get("sparkPlanInfo", {}), metric_types)
                    elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                        _plan_metric_types(
                            {"metrics": event.get("sqlPlanMetrics", ())}, metric_types
                        )
                    elif kind == "SparkListenerJobStart":
                        props = event.get("Properties") or {}
                        job = Job(
                            job_id=event["Job ID"],
                            description=props.get("spark.job.description"),
                            submitted_ms=event["Submission Time"],
                        )
                        self.jobs[job.job_id] = job
                        self.totals[job.job_id] = Totals(jobs=1)
                        for stage_id in event["Stage IDs"]:
                            stage_job.setdefault(stage_id, job.job_id)
                    elif kind == "SparkListenerJobEnd":
                        self.jobs[event["Job ID"]].completed_ms = event["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        job_id = stage_job.get(event["Stage ID"])
                        if job_id is None:
                            continue
                        if event["Stage ID"] not in stage_seen:
                            stage_seen.add(event["Stage ID"])
                            self.totals[job_id].stages += 1
                        _add_task(self.totals[job_id], event, metric_types)

    def select(self, prefix: str) -> list[int]:
        """Ids of the jobs whose description starts with ``prefix``."""
        return [
            j.job_id
            for j in self.jobs.values()
            if j.description is not None and j.description.startswith(prefix)
        ]

    def total(self, job_ids) -> Totals:
        out = Totals()
        for job_id in job_ids:
            t = self.totals[job_id]
            for name, value in vars(t).items():
                if name == "task_s":
                    out.task_s.extend(value)
                else:
                    setattr(out, name, getattr(out, name) + value)
        return out


def _add_task(t: Totals, event: dict, metric_types: dict):
    info = event["Task Info"]
    metrics = event.get("Task Metrics") or {}
    t.tasks += 1
    t.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    t.executor_run_s += metrics.get("Executor Run Time", 0) / 1e3
    t.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
    t.jvm_gc_s += metrics.get("JVM GC Time", 0) / 1e3
    t.shuffle_write_bytes += metrics.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    read = metrics.get("Shuffle Read Metrics", {})
    t.shuffle_read_bytes += read.get("Local Bytes Read", 0) + read.get(
        "Remote Bytes Read", 0
    )
    t.scan_bytes += metrics.get("Input Metrics", {}).get("Bytes Read", 0)
    t.sink_bytes += metrics.get("Output Metrics", {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", ()):
        name = PYTHON_METRICS.get(acc.get("Name"))
        if name is None or "Update" not in acc:
            continue
        default = "timing" if name.endswith("_s") else "size"
        scale = _UNIT_SCALE[metric_types.get(acc["ID"], default)]
        setattr(t, name, getattr(t, name) + float(acc["Update"]) * scale)


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (0 for no values)."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, max(0, round(q * len(ordered)) - 1))]
