"""The event-log fold: jobs, stages and tasks land on the right span.

The log is written here, line by line, in the JSON shape Spark 4.1's
``EventLoggingListener`` writes (the fields the fold reads, with Spark's
own key names and units), so the test needs no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

from perfbench.trace import Span, busy_seconds, fold_events, layer_totals, read_events


def _job(job_id, group, stages, t_ms):
    props = {"spark.app.id": "local-1"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": t_ms,
        "Stage IDs": stages,
        "Properties": props,
    }


def _stage_done(stage_id):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage_id}}


def _task(stage_id, launch_ms, finish_ms, *, run_ms, cpu_ns, py_run_ms=0, shuffle_w=0):
    acc = []
    if py_run_ms:
        acc = [
            {"ID": 7, "Name": "time to run Python workers", "Update": str(py_run_ms)},
            {"ID": 8, "Name": "time to start Python workers", "Update": "5"},
            {"ID": 9, "Name": "data sent to Python workers", "Update": "1000"},
        ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Type": "ShuffleMapTask",
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Accumulables": acc},
        "Task Metrics": {
            "Executor Deserialize Time": 2,
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Fetch Wait Time": 3, "Remote Bytes Read": 0, "Local Bytes Read": 40},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_fold_attributes_jobs_by_group_and_by_time(tmp_path):
    # span a: 1000-2000 ms, with a child span b: 1200-1500 ms; span c:
    # 3000-4000 ms holds a job that carries another group (a streaming run
    # id) and one that carries none.
    spans = [
        Span("queries.build", "r:1", "r:0", "r", 1.2, 1.5),
        Span("queries.exec", "r:0", None, "r", 1.0, 2.0),
        Span("streaming.cdc", "r:2", None, "r", 3.0, 4.0),
    ]
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        _job(0, "r:1", [0], 1250),
        _task(0, 1260, 1400, run_ms=140, cpu_ns=100_000_000, py_run_ms=90),
        _stage_done(0),
        _job(1, "r:0", [1, 2], 1600),
        _task(1, 1600, 1700, run_ms=100, cpu_ns=50_000_000, shuffle_w=64),
        _task(1, 1650, 1800, run_ms=150, cpu_ns=60_000_000, shuffle_w=64),
        _stage_done(1),
        _task(2, 1800, 1900, run_ms=100, cpu_ns=10_000_000),
        _stage_done(2),
        _job(2, "stream-run-id", [3], 3100),
        _task(3, 3100, 3300, run_ms=200, cpu_ns=1),
        _stage_done(3),
        _job(3, None, [4], 3500),
        _task(4, 3500, 3600, run_ms=100, cpu_ns=1),
        _stage_done(4),
        _job(4, None, [5], 9000),  # outside every span: unattributed
        _task(5, 9000, 9100, run_ms=100, cpu_ns=1),
    ]
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    _write_log(log_dir / "local-1", events)

    stats = fold_events(read_events(str(log_dir)), spans, {"stream-run-id": "r:2"})

    build, execs, cdc = stats["r:1"], stats["r:0"], stats["r:2"]
    assert (build.jobs, build.stages, build.tasks) == (1, 1, 1)
    assert build.python_run_s == 0.09 and build.python_bytes_sent == 1000
    assert (execs.jobs, execs.stages, execs.tasks) == (1, 2, 3)
    assert execs.run_s == 0.35 and abs(execs.cpu_s - 0.12) < 1e-9
    assert execs.shuffle_write_bytes == 128 and execs.shuffle_read_bytes == 120
    assert (cdc.jobs, cdc.tasks) == (2, 2)
    assert set(stats) == {"r:0", "r:1", "r:2"}

    tot = layer_totals(spans, stats, {"queries.build", "queries.exec"})
    assert tot.spans == 2 and tot.stats.tasks == 4 and tot.tasks_per_stage == 4 / 3
    # exec span 1.0-2.0 s: tasks busy 1.6-1.9 s -> 0.7 s idle; build span
    # 1.2-1.5 s: busy 1.26-1.4 s -> 0.16 s idle
    assert abs(tot.sched_wait_s - (0.7 + 0.16)) < 1e-9


def test_busy_seconds_merges_and_clips():
    iv = [(0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (10.0, 11.0)]
    assert busy_seconds(iv, 0.0, 5.0) == 3.0
    assert busy_seconds(iv, 1.5, 3.5) == 1.0
    assert busy_seconds([], 0.0, 1.0) == 0.0
