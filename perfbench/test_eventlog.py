"""Self-test of the event-log fold.

    python3 -m pytest perfbench/test_eventlog.py -q

The first tests fold hand-written logs with known sums; the last runs a tiny
local Spark job under two job groups and checks that the fold attributes its
task time to them.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, gc_ms=0, shuffle_bytes=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_bytes},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


def _write(path, events, tail=""):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
        f.write(tail)


def test_fold_sums_tasks_per_group(tmp_path):
    events = [
        _job(0, [0, 1], "extract"),
        _task(0, 1500, gc_ms=100, shuffle_bytes=2 * eventlog.MB),
        _task(1, 500),
        # stage 1 is listed again by a later job (a skipped stage): it stays
        # with the job that first listed it
        _job(1, [1, 2], "link"),
        _task(2, 2000, spill=eventlog.MB),
        _job(2, [3]),
        _task(3, 250),
    ]
    log = tmp_path / "app.log"
    _write(log, events, tail='{"Event": "SparkListenerTaskEnd", "Stage')  # cut last line
    f = eventlog.fold(str(log))
    assert f["extract"]["jobs"] == 1 and f["extract"]["tasks"] == 2
    assert abs(f["extract"]["task_s"] - 2.0) < 1e-9
    assert abs(f["extract"]["gc_s"] - 0.1) < 1e-9
    assert abs(f["extract"]["shuffle_write_mb"] - 2.0) < 1e-9
    assert abs(f["link"]["task_s"] - 2.0) < 1e-9 and abs(f["link"]["spill_mb"] - 1.0) < 1e-9
    assert abs(f[None]["task_s"] - 0.25) < 1e-9
    assert abs(eventlog.total(f) - 4.25) < 1e-9


def test_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _write(d / "events_2_local-1", [_task(0, 1000)])
    _write(d / "events_1_local-1", [_job(0, [0], "canon"), _task(0, 1000)])
    (d / "appstatus_local-1").write_text("")
    f = eventlog.fold(str(tmp_path))
    assert f["canon"]["tasks"] == 2 and abs(f["canon"]["task_s"] - 2.0) < 1e-9


def test_fold_of_a_traced_spark_run(tmp_path):
    from pyspark.sql import SparkSession

    import harness

    logdir = tmp_path / "events"
    logdir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-fold-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(logdir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    try:
        tr = harness.Tracer(spark.sparkContext, enabled=True)
        with tr.layer("a"):
            spark.range(0, 20000, numPartitions=4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        with tr.layer("b"):
            spark.range(0, 1000, numPartitions=2).count()
        with tr.in_phase("verify"):
            with tr.layer("a"):
                spark.range(10).count()
        spark.range(5).count()  # outside any layer
    finally:
        spark.stop()
    f = eventlog.fold(str(logdir))
    assert f["a"]["jobs"] >= 1 and f["a"]["tasks"] >= 4
    assert f["a"]["shuffle_write_mb"] > 0
    assert f["b"]["jobs"] >= 1 and f["b"]["tasks"] >= 2
    assert f["verify"]["jobs"] >= 1
    assert f.get(None, {}).get("jobs", 0) >= 1
    assert tr.wall["a"] > 0 and "verify" not in tr.wall
    grouped = sum(v["task_s"] for g, v in f.items() if g is not None)
    assert abs(grouped + f[None]["task_s"] - eventlog.total(f)) < 1e-9
