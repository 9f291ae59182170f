"""Event-log parser on a small hand-written fixture."""

import json

import pytest

from lakebench import eventlog


def _task(stage, run, cpu_ns, gc=0, failed=False, shuffle_w=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run + 5,
                      "Getting Result Time": 0, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": 2, "Result Serialization Time": 1,
            "JVM GC Time": gc, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


FIXTURE = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "dml:3"}},
    _task(0, 100, 40_000_000, gc=3, shuffle_w=11),
    _task(1, 50, 50_000_000, failed=True, spill=5),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 12_000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 13_000,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "run-abc"}},
    _task(2, 20, 10_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 14_000},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 15_000,
     "Stage IDs": [3], "Properties": {}},
    _task(3, 1, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 15_500},
]


def test_aggregates_tasks_by_job_group_and_maps_run_ids(tmp_path):
    path = tmp_path / "events"
    path.mkdir()
    (path / "app-1").write_text("\n".join(json.dumps(e) for e in FIXTURE) + "\n")
    groups = eventlog.parse_dir(str(path), {"run-abc": "ingest:7"})
    assert set(groups) == {"dml:3", "ingest:7", ""}
    g = groups["dml:3"]
    assert g.jobs == 1
    c = g.counters
    assert c["tasks"] == 2 and c["failed_tasks"] == 1
    assert c["task_run_ms"] == 150 and c["task_cpu_ms"] == pytest.approx(90)
    assert c["python_gap_ms"] == pytest.approx(60 + 0)  # 100-40, max(50-50, 0)
    assert c["gc_ms"] == 3 and c["shuffle_write_bytes"] == 11
    assert c["shuffle_read_bytes"] == 14 and c["spill_bytes"] == 5
    assert c["scheduler_delay_ms"] == pytest.approx(2 * (5 - 2 - 1))
    assert g.job_intervals == [(10.0, 12.0)]
    assert groups["ingest:7"].counters["tasks"] == 1
    assert groups[""].jobs == 1


def test_driver_only_is_wall_minus_job_union():
    jobs = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert eventlog.driver_only((0.0, 10.0), jobs) == pytest.approx(10 - 3 - 1)
    assert eventlog.driver_only((0.0, 1.0), []) == pytest.approx(1.0)
