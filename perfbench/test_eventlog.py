"""Tests of the event-log folder on a small synthetic log.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from perfbench.eventlog import LAYER_METRICS, fold, read_events

APP = "local-1700000000000"
T0 = 1_700_000_000.0  # epoch seconds of the synthetic run


def ms(t: float) -> int:
    return int(round((T0 + t) * 1000))


def task(stage, attempt, tid, launch, finish, reason="Success", metrics=None, accs=()):
    tm = {
        "Executor Run Time": 0, "Executor CPU Time": 0, "JVM GC Time": 0,
        "Result Size": 0, "Disk Bytes Spilled": 0, "Memory Bytes Spilled": 0,
        "Peak Execution Memory": 0,
        "Shuffle Read Metrics": {"Fetch Wait Time": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0, "Shuffle Records Written": 0},
        "Input Metrics": {"Bytes Read": 0, "Records Read": 0},
        "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
    }
    for k, v in (metrics or {}).items():
        if isinstance(v, dict):
            tm[k].update(v)
        else:
            tm[k] = v
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": reason},
        "Task Info": {
            "Task ID": tid, "Launch Time": ms(launch), "Finish Time": ms(finish),
            "Accumulables": [
                {"ID": i, "Name": n, "Update": str(u), "Metadata": "sql"} for i, n, u in accs
            ],
        },
        "Task Metrics": tm,
    }


def stage_events(stage, attempt, submit, complete):
    info = {"Stage ID": stage, "Stage Attempt ID": attempt,
            "Submission Time": ms(submit), "Completion Time": ms(complete)}
    return (
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    )


PLAN = {
    "nodeName": "MapInArrow",
    "metrics": [
        {"name": "data sent to Python workers", "accumulatorId": 100, "metricType": "size"},
        {"name": "data returned from Python workers", "accumulatorId": 101, "metricType": "size"},
        {"name": "time to start Python workers", "accumulatorId": 102, "metricType": "timing"},
        {"name": "time to initialize Python workers", "accumulatorId": 103, "metricType": "timing"},
        {"name": "time to run Python workers", "accumulatorId": 104, "metricType": "timing"},
    ],
    "children": [{"nodeName": "Scan parquet", "metrics": [], "children": []}],
}
PY_ACCS = [(100, "data sent to Python workers", 1000), (101, "data returned from Python workers", 10),
           (102, "time to start Python workers", 200), (103, "time to initialize Python workers", 300),
           (104, "time to run Python workers", 250)]


def synthetic_events() -> list[dict]:
    """Job 0 (stages 0 and 1, stage 1 retried once) runs inside the
    window [0, 10]; job 1 starts at 20, outside it, and must be ignored."""
    s0_sub, s0_done = stage_events(0, 0, 1.0, 7.0)
    s1_sub, s1_done = stage_events(1, 0, 7.0, 8.0)
    s1r_sub, s1r_done = stage_events(1, 1, 8.0, 9.0)
    s2_sub, s2_done = stage_events(2, 0, 20.0, 21.0)
    return [
        {"Event": "SparkListenerApplicationStart", "App ID": APP, "Timestamp": ms(0)},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": PLAN, "time": ms(0.5)},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": ms(1.0),
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op"}},
        s0_sub,
        task(0, 0, 1, 1.5, 2.5, metrics={
            "Executor Run Time": 1000, "Executor CPU Time": 500_000_000, "JVM GC Time": 100,
            "Result Size": 300, "Disk Bytes Spilled": 4096, "Peak Execution Memory": 1 << 20,
            "Input Metrics": {"Bytes Read": 5000, "Records Read": 50},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 700, "Shuffle Records Written": 7},
        }, accs=PY_ACCS),
        task(0, 0, 2, 2.0, 4.0, metrics={
            "Executor Run Time": 2000, "Peak Execution Memory": 3 << 20,
            "Output Metrics": {"Bytes Written": 900, "Records Written": 9},
        }, accs=PY_ACCS),
        task(0, 0, 3, 1.0, 7.0, reason="ExceptionFailure"),
        s0_done,
        s1_sub,
        task(1, 0, 4, 7.5, 8.0, metrics={"Shuffle Read Metrics": {"Fetch Wait Time": 250}}),
        s1_done,
        s1r_sub,
        task(1, 1, 5, 8.0, 9.0),
        s1r_done,
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": ms(9.0),
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": ms(20.0),
         "Stage IDs": [2], "Properties": {}},
        s2_sub,
        task(2, 0, 6, 20.0, 21.0, metrics={"Executor Run Time": 99_000}, accs=PY_ACCS),
        s2_done,
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": ms(21.0),
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def write_rolling(log_dir, events, split=5) -> None:
    """Spark 4's default layout: a rolling directory of zstd parts."""
    d = os.path.join(log_dir, f"eventlog_v2_{APP}")
    os.makedirs(d)
    # part 10 sorts before part 2 as text: the reader must order numerically
    for index, chunk in ((10, events[split:]), (2, events[:split])):
        name = f"events_{index}_{APP}.zstd"
        with pa.output_stream(os.path.join(d, name), compression="zstd") as out:
            out.write("".join(json.dumps(e) + "\n" for e in chunk).encode())
    open(os.path.join(d, f"appstatus_{APP}"), "w").close()


WINDOW = [(T0, T0 + 10.0)]


def expected() -> dict[str, float]:
    return {
        "spark.jobs": 1, "spark.stages": 3, "spark.tasks": 5,
        "spark.tasks_failed": 1, "spark.stages_retried": 1,
        # job 0 runs 1..9 inside the 10 s window
        "spark.driver_gap_s": 2.0,
        # stage 0 submitted at 1.0: launches 1.5, 2.0, 1.0; stage 1 attempt 0
        # at 7.0: launch 7.5; attempt 1 at 8.0: launch 8.0
        "spark.task_wait_s": 0.5 + 1.0 + 0.0 + 0.5 + 0.0,
        # stage 0 durations 1, 2, 6 -> 6 - 2; single-task attempts add 0
        "spark.straggler_s": 4.0,
        "spark.executor_run_s": 3.0, "spark.executor_cpu_s": 0.5, "spark.gc_s": 0.1,
        "shuffle.bytes_written": 700, "shuffle.records_written": 7,
        "shuffle.fetch_wait_s": 0.25,
        "memory.spill_bytes": 4096, "memory.peak_execution_bytes": 3 << 20,
        "io.bytes_read": 5000, "io.records_read": 50,
        "io.bytes_written": 900, "io.records_written": 9, "result.bytes": 300,
        "python.bytes_sent": 2000, "python.bytes_returned": 20,
        "python.worker_start_s": 0.4, "python.worker_init_s": 0.6,
        "python.worker_run_s": 0.5, "python.init_per_run": (0.4 + 0.6) / 0.5,
    }


def test_rolling_zstd_log_folds_to_pinned_metrics(tmp_path):
    write_rolling(str(tmp_path), synthetic_events())
    got = fold(read_events(str(tmp_path)), WINDOW)
    want = expected()
    assert set(got) == set(LAYER_METRICS) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v), k


def test_single_file_log_with_truncated_tail(tmp_path):
    """A non-rolling, uncompressed log still being written."""
    events = synthetic_events()
    path = tmp_path / f"{APP}.inprogress"
    path.write_text("".join(json.dumps(e) + "\n" for e in events) + '{"Event": "Spark')
    assert len(list(read_events(str(tmp_path)))) == len(events)
    got = fold(read_events(str(tmp_path)), WINDOW)
    assert got["spark.tasks"] == 5 and got["python.worker_run_s"] == pytest.approx(0.5)


def test_no_window_counts_nothing(tmp_path):
    write_rolling(str(tmp_path), synthetic_events())
    got = fold(read_events(str(tmp_path)), [(T0 + 30, T0 + 40)])
    assert all(v == 0 for k, v in got.items() if k != "spark.driver_gap_s")
    assert got["spark.driver_gap_s"] == pytest.approx(10.0)


def test_unreadable_codec_is_refused(tmp_path):
    d = tmp_path / f"eventlog_v2_{APP}"
    d.mkdir()
    (d / f"events_1_{APP}.lz4").write_bytes(b"\x00")
    with pytest.raises(ValueError, match="zstd or uncompressed"):
        list(read_events(str(tmp_path)))
