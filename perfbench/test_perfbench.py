"""Tests of the benchmark's own corpus generator and event-log roll-up.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import pytest

import corpus_gen
import eventlog


def test_generator_is_deterministic():
    a = corpus_gen.generate(7, 120, 60, 150)
    b = corpus_gen.generate(7, 120, 60, 150)
    assert a.texts == b.texts
    assert (a.roles, a.source, a.runs) == (b.roles, b.source, b.runs)
    assert a.corpus_bytes() == b.corpus_bytes()
    assert corpus_gen.generate(8, 120, 60, 150).texts != a.texts


def test_generator_plants_roles():
    c = corpus_gen.generate(3, 200, 60, 150)
    assert c.role_counts() == {
        "boilerplate": 10, "chained": 8, "exact": 20, "foreign": 10,
        "near": 20, "plain": 112, "shared": 20,
    }
    for copy, src in c.source.items():
        assert c.roles[src] == "plain"
        if c.roles[copy] == "exact":
            assert c.texts[copy] == c.texts[src]
        else:
            assert c.texts[copy] != c.texts[src]
    data = c.corpus_bytes()
    for run in c.runs:
        assert data.count(run.encode()) >= 2
    assert all(corpus_gen.BOILERPLATE in c.texts[i]
               for i, r in enumerate(c.roles) if r == "boilerplate")


def test_expected_clusters_use_min_member():
    c = corpus_gen.Corpus(texts=["a"] * 5, roles=["plain"] * 5, source={0: 3, 4: 3})
    assert c.expected_clusters() == {0: 0, 1: 1, 2: 2, 3: 0, 4: 0}
    assert c.expected_clusters([1, 4, 0]) == {0: 0, 1: 1, 4: 0}


def _task_end(stage, run_ms, shuffle_w, result, py_sent=None):
    acc = []
    if py_sent is not None:
        acc.append({"Name": "data sent to Python workers", "Update": str(py_sent)})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Failed": False, "Killed": False, "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "Result Size": result,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_w},
        },
    }


def test_rollup_of_synthetic_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": {}},
        _task_end(0, 1500, 2_000_000, 1000, py_sent=500_000),
        _task_end(0, 500, 0, 1000),
        _task_end(1, 250, 1_000_000, 3000),
        _task_end(2, 750, 0, 0),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = eventlog.rollup(str(log))
    assert groups["a"]["core_s"] == pytest.approx(2.0)
    assert groups["a"]["shuffle_w_mb"] == pytest.approx(2.0)
    assert groups["a"]["py_sent_mb"] == pytest.approx(0.5)
    assert groups["a"]["jobs"] == 1
    assert groups["b"]["result_mb"] == pytest.approx(0.003)
    assert groups[""]["tasks"] == 1
    total = eventlog.whole_run(str(log))
    summed = eventlog.sum_groups(groups)
    for k in eventlog.FIELDS:
        assert summed[k] == pytest.approx(total[k])


def test_rollup_sums_equal_whole_run_on_tiny_spark_run(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.driver.memory", "1g")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        df = spark.range(0, 20000, 1, 4)
        sc.setLocalProperty("spark.jobGroup.id", "agg")
        df.groupBy((F.col("id") % 13).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", "python")

        def ident(batches):
            yield from batches

        df.mapInPandas(ident, df.schema).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.count()
    finally:
        spark.stop()
    (log,) = [os.path.join(events, f) for f in os.listdir(events)]
    groups = eventlog.rollup(log)
    assert {"agg", "python", ""} <= set(groups)
    assert groups["agg"]["shuffle_w_mb"] > 0
    assert groups["python"]["py_sent_mb"] > 0
    total = eventlog.whole_run(log)
    summed = eventlog.sum_groups(groups)
    assert total["tasks"] > 0
    for k in eventlog.FIELDS:
        assert summed[k] == pytest.approx(total[k])
