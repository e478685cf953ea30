"""Event-log parser: every task lands on the operation that launched it.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from harness import JobCounter, stop_engine  # noqa: E402


def _task(stage: int, run_ms: int, ok: bool = True, shuffle_write: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 3},
        },
    }


def _job(job: int, stages: list[int], group: str | None) -> dict:
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}


def test_tasks_follow_the_job_group_of_their_stage(tmp_path):
    events = [
        _job(0, [0, 1], "q_a"),
        _task(0, 10), _task(0, 30), _task(1, 5, shuffle_write=7),
        _job(1, [2], "q_b"),
        _task(2, 4), _task(2, 4, ok=False),
        _job(2, [3], None),
        _task(3, 1),
    ]
    # rolling layout: two numbered files, read in order
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_1_app-1").write_text("\n".join(json.dumps(e) for e in events[:4]) + "\n")
    (d / "events_2_app-1").write_text("\n".join(json.dumps(e) for e in events[4:]) + "\n")
    (d / "appstatus_app-1").write_text("")

    groups = eventlog.parse(str(tmp_path))
    a, b = groups["q_a"].metrics(), groups["q_b"].metrics()
    assert (a["jobs"], a["stages"], a["tasks"], a["run_ms"]) == (1, 2, 3, 45)
    assert a["shuffle_write_bytes"] == 7 and a["input_bytes"] == 30
    assert a["duty"] == 0.5
    assert a["task_skew"] == 1.5  # stage 0: max 30 / median 20
    assert (b["tasks"], b["failed_tasks"]) == (2, 1)
    assert groups[eventlog.UNATTRIBUTED].metrics()["tasks"] == 1
    assert eventlog.merge([groups["q_a"], groups["q_b"]]).metrics()["tasks"] == 5


@pytest.fixture()
def traced_spark(tmp_path):
    from nyc_bikeshare_datawarehouse_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark("perfbench-eventlog-test", master="local[2]", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
    })
    yield spark, str(log_dir)
    stop_engine(spark)


def test_two_queries_on_a_toy_input(traced_spark):
    spark, log_dir = traced_spark
    counter = JobCounter(spark.sparkContext)
    df = spark.createDataFrame([(i, i % 3) for i in range(200)], "id long, k long").repartition(3)
    with counter.group("q_sum"):
        spark.range(0, 100, 1, 3).selectExpr("sum(id)").collect()
    with counter.group("q_groupby"):
        df.groupBy("k").count().collect()
    expected = {g: counter.counts(g) for g in ("q_sum", "q_groupby")}
    spark.sparkContext.stop()  # flushes the event log

    groups = eventlog.parse(log_dir)
    for g, want in expected.items():
        got = groups[g].metrics()
        assert (got["jobs"], got["stages"], got["tasks"]) == (want["jobs"], want["stages"], want["tasks"])
        assert got["tasks"] > 0 and got["failed_tasks"] == 0
    # only the grouped query shuffles its input rows
    assert groups["q_groupby"].metrics()["shuffle_write_bytes"] > 0
    assert eventlog.UNATTRIBUTED not in groups or groups[eventlog.UNATTRIBUTED].tasks == 0
