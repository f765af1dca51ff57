"""The event-log parser, pinned on a hand-written log and on a tiny real
two-op run."""

import json
import os
import time

import pytest

import eventlog


def _task(stage, run_ms, reason="Success", python=None, shuffle_write=0):
    acc = [{"Name": k, "Update": str(v)} for k, v in (python or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


def _job(job, stages, group, submitted_ms):
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Submission Time": submitted_ms, "Properties": {"spark.jobGroup.id": group}}


def test_parser_pinned_on_a_written_log(tmp_path):
    run_dir = tmp_path / "eventlog_v2_app"
    run_dir.mkdir()
    py = {"time to run Python workers": 30, "data sent to Python workers": 2048,
          "time to initialize Python workers": 500}
    first = [
        _job(0, [0, 1], "w:op1:action", 1_000_000),
        _task(0, 10), _task(0, 30, shuffle_write=64), _task(1, 20),
        _job(1, [2], "w:op2:action", 2_000_000),
        _task(2, 40, python=py), _task(2, 40, reason="ExceptionFailure", python=py),
    ]
    second = [
        # a streaming micro-batch sets its own group: placed by its span
        _job(2, [3], "3f1c-run-id", 3_000_500),
        _task(3, 5),
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"runId": "r", "timestamp": "2026-01-01T00:00:00.000Z",
                      "durationMs": {"addBatch": 800, "walCommit": 20, "queryPlanning": 10},
                      "stateOperators": [{"commitTimeMs": 7}]}},
    ]
    for name, events in (("events_1_app", first), ("events_2_app", second)):
        (run_dir / name).write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = eventlog.parse(str(tmp_path), [("w:op3:action", 3000.0, 3001.0)])

    assert sorted(log.by_group) == ["w:op1:action", "w:op2:action", "w:op3:action"]
    op1, op2, op3 = (log.by_group[f"w:op{i}:action"] for i in (1, 2, 3))
    assert (op1.jobs, len(op1.stages), op1.tasks, op1.run_ms) == (1, 2, 3, 60)
    assert (op1.shuffle_write_bytes, op1.shuffle_read_bytes, op1.fetch_wait_ms) == (64, 30, 6)
    assert (op1.cpu_ns, op1.gc_ms, op1.input_bytes) == (60_000_000, 3, 300)
    assert (op2.jobs, op2.tasks, op2.failed_tasks) == (1, 2, 1)
    assert op2.python == {"run_ms": 60, "sent_bytes": 4096}
    assert op2.python_init_ms == [500, 500]
    assert (op3.jobs, op3.run_ms) == (1, 5)
    assert eventlog.straggler_ratio(list(op1.stages.values())) == pytest.approx(30 / 20)
    stream = eventlog.streaming_summary(log.progress)
    assert stream == {"batches": 1, "add_batch_s": 0.8, "wal_commit_s": 0.02,
                      "planning_s": 0.01, "state_commit_s": 0.007}


def _double(batches):
    for pdf in batches:
        yield pdf.assign(y=pdf.id * 2)


def test_parser_on_a_tiny_two_op_run(tmp_path):
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(  # workers import this module
        p for p in (here, os.path.dirname(here), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false --conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")
    spark = (SparkSession.builder.master("local[2]").appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    spans = []
    gateway = spark.sparkContext._gateway
    try:
        sc = spark.sparkContext
        for group, df in (
            ("t:agg:action",
             spark.range(1000, numPartitions=2).selectExpr("id % 3 AS k").groupBy("k").count()),
            ("t:pandas:action", spark.range(100, numPartitions=2).mapInPandas(_double, "id long, y long")),
        ):
            sc.setJobGroup(group, group)
            start = time.time()
            df.write.mode("overwrite").format("noop").save()
            spans.append((group, start, time.time()))
    finally:
        spark.stop()
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        gateway.shutdown()  # and wait for the JVM to exit
        gateway.proc.stdin.close()
        assert gateway.proc.wait(timeout=60) is not None
    log = eventlog.parse(str(log_dir), spans)

    assert set(log.by_group) == {"t:agg:action", "t:pandas:action"}
    agg, pandas_op = log.by_group["t:agg:action"], log.by_group["t:pandas:action"]
    # a two-partition scan feeding a two-partition shuffle: one job, two stages
    assert (agg.jobs, len(agg.stages), agg.tasks, agg.failed_tasks) == (1, 2, 4, 0)
    assert agg.shuffle_write_bytes > 0 and agg.shuffle_read_bytes > 0
    assert agg.python == {} and agg.python_init_ms == []
    assert (pandas_op.jobs, len(pandas_op.stages), pandas_op.tasks) == (1, 1, 2)
    assert pandas_op.python["run_ms"] >= 0 and pandas_op.python["sent_bytes"] > 0
    assert pandas_op.python["returned_bytes"] > pandas_op.python["sent_bytes"]
    assert len(pandas_op.python_init_ms) == 2
