"""Tests of the event-log folder.

    python3 -m pytest perfbench/test_eventlog.py -q

The first test folds a hand-written three-task log; the second generates a
small log with a local Spark session, as the traced benchmark run does, and
folds it.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _task_end(stage: int, run_ms: int, **named) -> dict:
    accums = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms}]
    accums += [{"Name": k, "Update": str(v)} for k, v in named.items()]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {"Accumulables": accums}}


def test_fold_sums_per_description_and_skew(tmp_path):
    events = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.job.description": "layer.a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {}},
        _task_end(0, 10, **{"time to start Python workers": 5, "time to initialize Python workers": 2}),
        _task_end(0, 40, **{"data sent to Python workers": 100, "data returned from Python workers": 20}),
        _task_end(0, 20),
        _task_end(1, 7),
    ]  # fmt: skip
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    folded = eventlog.fold(str(tmp_path))
    a = folded["layer.a"]
    assert a["tasks"] == 3 and a["run_ms"] == 70
    assert a["task_skew"] == 2.0  # 40 ms over the 20 ms median
    assert a["py_start_ms"] == 7 and a["py_bytes"] == 120
    assert folded[""]["tasks"] == 1


def test_fold_generated_spark_log(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobDescription("fixture.shuffle")
        spark.range(1000, numPartitions=4).repartition(3).count()
        sc.setJobDescription("fixture.python")

        def double(batches):
            for pdf in batches:
                yield pdf * 2

        spark.range(100, numPartitions=2).mapInPandas(double, "id long").collect()
        sc.setJobDescription(None)
    finally:
        spark.stop()
    folded = eventlog.fold(str(log_dir))
    shuffle, python = folded["fixture.shuffle"], folded["fixture.python"]
    assert shuffle["tasks"] == 4 + 3 + 1  # range, repartitioned count, final count
    assert shuffle["shuffle_write_bytes"] > 0 and shuffle["py_bytes"] == 0
    assert python["tasks"] == 2
    assert python["py_bytes"] > 0 and python["py_run_ms"] >= 0
