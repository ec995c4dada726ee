import glob
import json
import time

import pytest

import tracing


def _task(stage, run_ms, gc_ms=0, sread=0, swrite=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sread},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": swrite},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


def test_fold_synthetic_log(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1000,
            "Stage IDs": [0, 1, 2],
            "Properties": {"spark.jobGroup.id": "span-3"},
        },
        _task(0, 100, gc_ms=10, swrite=50),
        _task(0, 200, swrite=70),
        _task(1, 300, sread=120, spill=5),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [3]},
        _task(3, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3100},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    j0, j1 = tracing.fold_event_log(str(log))
    assert (j0.group, j0.start, j0.end) == ("span-3", 1.0, 2.5)
    assert (len(j0.stages), j0.tasks) == (2, 3)  # stage 2 was skipped
    assert j0.executor_run_s == pytest.approx(0.6) and j0.gc_s == pytest.approx(0.01)
    assert (j0.shuffle_write_bytes, j0.shuffle_read_bytes, j0.spill_bytes) == (120, 120, 5)
    assert (j1.group, len(j1.stages), j1.tasks) == (None, 1, 1)
    tot = tracing.engine_totals([j0, j1], (0.5, 3.5))
    assert tot["jobs"] == 2 and tot["stages"] == 3 and tot["tasks"] == 4
    assert tot["driver_s"] == pytest.approx(3.0 - 1.5 - 0.1)


def test_union_and_self_time():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    t = tracing.Tracer()
    with t.span("outer") as outer:
        with t.span("a"):
            time.sleep(0.02)
        with t.span("b"):
            time.sleep(0.02)
    assert [s.parent for s in t.spans] == [None, outer.id, outer.id]
    covered = sum(s.end - s.start for s in t.spans[1:])
    assert t.self_time(outer) == pytest.approx(outer.end - outer.start - covered)
    assert t.to_json()[0]["self_s"] == pytest.approx(t.self_time(outer))


def test_attribution_by_group_then_by_time():
    t = tracing.Tracer()
    with t.span("a") as a:
        with t.span("b") as b:
            time.sleep(0.01)
    grouped = tracing.Job(0, b.group, a.start)  # group wins over time
    timed = tracing.Job(1, "other", b.start + 0.001)  # innermost open span
    outside = tracing.Job(2, None, a.end + 10)
    owned = tracing.attribute_jobs(t, [grouped, timed, outside])
    assert [j.id for j in owned[b.id]] == [0, 1]
    assert tracing.span_jobs(t, owned, a) == owned[b.id]


def test_wrappers_capture_and_restore():
    import types

    mod = types.SimpleNamespace(f=lambda x, y=1: x + y)
    original = mod.f
    t = tracing.Tracer()
    with t.instrument([(mod, "f", "mod.f", True)]):
        assert mod.f(2, y=3) == 5
    assert mod.f is original
    (s, args, out) = t.captured[0]
    assert (s.name, args, out) == ("mod.f", [2, 3], 5)


def test_fold_real_event_log(tmp_path):
    """One plain job (1 stage, 4 tasks) and one shuffle job (2 stages,
    4 + 2 tasks) in job groups: the fold must count them exactly."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-fold-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + str(tmp_path))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        if spark.sparkContext.getConf().get("spark.eventLog.dir") != "file://" + str(tmp_path):
            pytest.skip("a session without this event log already exists in this process")
        sc = spark.sparkContext
        t = tracing.Tracer(sc)
        with t.span("plain") as plain:
            assert sc.parallelize(range(8), 4).map(lambda x: x * 2).count() == 8
        with t.span("shuffle") as shuffle:
            pairs = sc.parallelize([(i % 3, 1) for i in range(12)], 4)
            assert len(pairs.reduceByKey(lambda a, b: a + b, 2).collect()) == 3
    finally:
        spark.stop()
    (log,) = glob.glob(str(tmp_path / "*"))
    jobs = tracing.fold_event_log(log)
    owned = tracing.attribute_jobs(t, jobs)
    (j1,) = owned[plain.id]
    (j2,) = owned[shuffle.id]
    assert (len(j1.stages), j1.tasks) == (1, 4)
    assert (len(j2.stages), j2.tasks) == (2, 6)
    assert j2.shuffle_write_bytes > 0 and j2.shuffle_read_bytes > 0
