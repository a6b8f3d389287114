"""Fold a Spark event log into the benchmark's per-layer metrics.

Spark 4 writes event logs as a rolling directory by default
(``eventlog_v2_<app>/events_<n>_<app>.zstd``, zstd-compressed JSON
lines); a non-rolling log is one file ``<app>[.zstd]``. Both layouts are
read here, and an ``.inprogress`` suffix is tolerated.

Only work inside the timed operations is counted: a job belongs to the
run when its submission time falls inside one of the ``windows`` (epoch
seconds) the benchmark recorded around each operation. Time windows,
not job groups, select the jobs because the library's convert runs its
write jobs from its own thread pool, whose threads do not inherit the
caller's job group.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterable, Iterator

import pyarrow as pa

# The Python worker boundary's Spark SQL metrics
# (org.apache.spark.sql.execution.python.PythonSQLMetrics), by name.
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.worker_run_s",
}

# Units per value of a Spark SQL metric type; sizes are already bytes.
_METRIC_TYPE_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}

# Slack (seconds) between the benchmark's clock reading and Spark's
# millisecond event timestamps when matching a job to a window.
_WINDOW_SLACK_S = 0.005

LAYER_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.stages_retried", "spark.driver_gap_s", "spark.task_wait_s",
    "spark.straggler_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "shuffle.bytes_written", "shuffle.records_written",
    "shuffle.fetch_wait_s", "memory.spill_bytes",
    "memory.peak_execution_bytes", "io.bytes_read", "io.records_read",
    "io.bytes_written", "io.records_written", "result.bytes",
    "python.bytes_sent", "python.bytes_returned", "python.worker_start_s",
    "python.worker_init_s", "python.worker_run_s", "python.init_per_run",
)


def _log_files(log_dir: str) -> list[str]:
    """Event-log files of every application under ``log_dir``, each
    rolling log's parts in index order."""
    out: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not name.startswith("."):
            out.append(path)
    return out


def _open(path: str):
    base = re.sub(r"\.inprogress$", "", path)
    if base.endswith(".zstd"):
        return pa.input_stream(path, compression="zstd")
    if re.search(r"\.(lz4|lzf|snappy)$", base):
        raise ValueError(
            f"{path}: only zstd or uncompressed event logs are readable"
        )
    return pa.input_stream(path)


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every log under ``log_dir``, in file order. A
    truncated last line (a log still being written) is skipped."""
    for path in _log_files(log_dir):
        with _open(path) as stream:
            data = stream.read()
        for line in data.splitlines():
            if not line.strip():
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[int(m["accumulatorId"])] = m["metricType"]
    for child in plan.get("children", ()):
        _plan_metric_types(child, out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _overlap(intervals: list[tuple[float, float]], lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if a < hi and b > lo]


def fold(
    events: Iterable[dict], windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Per-layer totals of the jobs submitted inside ``windows``.

    Derivations (times in seconds, sizes in bytes):

    - ``spark.jobs`` / ``spark.stages`` / ``spark.tasks``: jobs started,
      stage attempts completed and tasks ended for those jobs.
    - ``spark.tasks_failed``: tasks whose end reason is not Success;
      ``spark.stages_retried``: stage attempts with attempt id > 0.
    - ``spark.driver_gap_s``: window time during which no counted job
      was running (planning, collecting results, or idle).
    - ``spark.task_wait_s``: sum over tasks of launch time minus the
      submission time of the task's stage attempt.
    - ``spark.straggler_s``: sum over stage attempts of the longest task
      duration minus the median task duration.
    - ``spark.executor_run_s`` / ``spark.executor_cpu_s`` /
      ``spark.gc_s``: task-metric sums.
    - ``shuffle.*``, ``io.*``, ``result.bytes``, ``memory.spill_bytes``
      (disk bytes spilled): task-metric sums;
      ``memory.peak_execution_bytes``: the largest task's peak.
    - ``python.*``: sums of the Python-boundary SQL metrics over tasks;
      ``python.init_per_run`` = (start + init) / run time, 0 with no run.
    """
    windows = sorted(windows)
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    types: dict[int, str] = {}  # accumulator id -> SQL metric type
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    task_durations: dict[tuple[int, int], list[float]] = {}

    def in_window(t: float) -> bool:
        return any(
            a - _WINDOW_SLACK_S <= t <= b + _WINDOW_SLACK_S for a, b in windows
        )

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_types(ev.get("sparkPlanInfo", {}), types)
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for mt in ev.get("sqlPlanMetrics", ()):
                types[int(mt["accumulatorId"])] = mt["metricType"]
        elif kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            if in_window(t):
                job_span[ev["Job ID"]] = [t, t]
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_job:
                key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                stage_submit[key] = info.get("Submission Time", 0) / 1000.0
                if key[1] > 0:
                    m["spark.stages_retried"] += 1
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_job:
                m["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in stage_job:
                continue
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            info = ev["Task Info"]
            m["spark.tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["spark.tasks_failed"] += 1
            launch = info["Launch Time"] / 1000.0
            task_durations.setdefault(key, []).append(
                info["Finish Time"] / 1000.0 - launch
            )
            if key in stage_submit:
                m["spark.task_wait_s"] += max(0.0, launch - stage_submit[key])
            tm = ev.get("Task Metrics") or {}
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["result.bytes"] += tm.get("Result Size", 0)
            m["memory.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["memory.peak_execution_bytes"] = max(
                m["memory.peak_execution_bytes"], tm.get("Peak Execution Memory", 0)
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle.bytes_written"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle.records_written"] += sw.get("Shuffle Records Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            inp = tm.get("Input Metrics") or {}
            m["io.bytes_read"] += inp.get("Bytes Read", 0)
            m["io.records_read"] += inp.get("Records Read", 0)
            out = tm.get("Output Metrics") or {}
            m["io.bytes_written"] += out.get("Bytes Written", 0)
            m["io.records_written"] += out.get("Records Written", 0)
            for acc in info.get("Accumulables", ()):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    mtype = types.get(int(acc["ID"]), "size" if "bytes" in key else "timing")
                    m[key] += float(acc.get("Update") or 0) * _METRIC_TYPE_SCALE[mtype]

    m["spark.jobs"] = float(len(job_span))
    for durations in task_durations.values():
        m["spark.straggler_s"] += max(durations) - statistics.median(durations)
    spans = [(a, b) for a, b in job_span.values()]
    m["spark.driver_gap_s"] = sum(
        (b - a) - _union_length(_overlap(spans, a, b)) for a, b in windows
    )
    run = m["python.worker_run_s"]
    m["python.init_per_run"] = (
        (m["python.worker_start_s"] + m["python.worker_init_s"]) / run if run else 0.0
    )
    return m
