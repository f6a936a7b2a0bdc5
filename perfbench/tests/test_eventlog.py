"""Event-log parsing: synthetic lines, then a tiny real Spark session."""

from __future__ import annotations

import json
import os

import pytest

from perfbench.eventlog import group_metrics, parse_lines, read_log


def _task(stage, launch, finish, run, gc=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_parse_synthetic_log():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(0, 1000, 1100, 90, gc=5, shuffle=64),
        _task(1, 1000, 1400, 380, spill=10),
        _task(1, 1000, 1100, 95),
        _task(2, 2000, 2500, 480),
    ]
    log = parse_lines(json.dumps(e) for e in events)
    assert log.jobs_in({"pb-1"}) == [0]
    m = group_metrics(log, {"pb-1"}, wall_s=0.5, slots=2)
    assert m["jobs"] == 1
    assert m["task_s"] == pytest.approx(0.565)
    assert m["gc_s"] == pytest.approx(0.005)
    assert m["shuffle_write_bytes"] == 64 and m["spill_bytes"] == 10
    assert m["task_skew"] == pytest.approx(4.0)  # 400 ms over the 100 ms median
    assert m["slot_utilization"] == pytest.approx(0.6 / 1.0)
    assert group_metrics(log, {"pb-9"}, 1.0, 2)["jobs"] == 0


def test_parse_tiny_session(tmp_path):
    from greatex_spark.session import get_spark

    from perfbench.trace import Tracer

    log_dir = str(tmp_path / "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(
        master="local[2]",
        app_name="perfbench-eventlog-test",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        tracer = Tracer(spark.sparkContext)
        with tracer.span("outer") as outer:
            spark.range(0, 20_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        spark.range(10).collect()  # outside any span
    finally:
        spark.stop()
    log = read_log(log_dir)
    jobs = log.jobs_in({outer.span_id})
    assert jobs, "no job carried the span's job group"
    m = group_metrics(log, {outer.span_id}, outer.duration, 2)
    assert m["task_s"] > 0 and m["shuffle_write_bytes"] > 0
    assert len(log.tasks_in({outer.span_id})) >= 4
    assert len(log.job_group) > len(jobs)
