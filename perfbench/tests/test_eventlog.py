import json

import pytest

import eventlog


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms, sw=0, rr=0, lr=0, spill=0,
          failed=False, inp=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed,
                      "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Executor Deserialize Time": 5, "Result Serialization Time": 1,
            "Disk Bytes Spilled": spill, "Input Metrics": {"Bytes Read": inp},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        },
    }


FIXTURE = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb|q#0|exec"}},
    _task(0, 1000, 1100, 80, 50_000_000, 3, sw=400, inp=1000),
    _task(0, 1000, 1200, 150, 120_000_000, 7, sw=600, inp=1000),
    _task(1, 1210, 1300, 60, 40_000_000, 0, rr=300, lr=700, spill=64),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1310},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [2], "Properties": {}},
    _task(2, 2000, 2050, 40, 1_000_000, 0, failed=True),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2060},
]


def test_parse_fixture_by_job_group():
    out = eventlog.parse(json.dumps(e) for e in FIXTURE)
    g = out["pb|q#0|exec"]
    assert g["jobs"] == 1 and g["tasks"] == 3 and g["failed_tasks"] == 0
    assert g["run_s"] == pytest.approx(0.31)
    assert g["executor_run_s"] == pytest.approx(0.29)
    assert g["executor_cpu_s"] == pytest.approx(0.21)
    assert g["gc_s"] == pytest.approx(0.010)
    assert g["shuffle_write_bytes"] == 1000
    assert g["shuffle_read_bytes"] == 1000
    assert g["spill_bytes"] == 64
    assert g["input_bytes"] == 2000
    # duration - run - deserialize(5) - serialize(1): 14 + 44 + 24 ms
    assert g["scheduler_delay_s"] == pytest.approx(0.082)
    ungrouped = out[""]
    assert ungrouped["jobs"] == 1 and ungrouped["failed_tasks"] == 1


def test_scheduler_delay_never_negative():
    info = {"Launch Time": 0, "Finish Time": 10}
    assert eventlog.scheduler_delay_ms(info, {"Executor Run Time": 50}) == 0
