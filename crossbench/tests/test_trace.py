import json

import pytest

from crossbench.trace import (
    EventLog,
    Job,
    Span,
    StageAttempt,
    Tracer,
    covered_by_at_least,
    parse_event_log,
    profile,
    self_time,
    union_length,
    work_in,
)


def test_union_and_overlap():
    ivs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert union_length(ivs) == 4.0
    assert covered_by_at_least(ivs, 2) == 1.0
    assert covered_by_at_least(ivs, 3) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),  # overlaps a: covered time counts once
        Span("c", 2.0, 3.0, 1),  # grandchild: already inside a
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 1.0)
    first = profile(spans).splitlines()[1].split()
    assert first[0] == "op" and float(first[3]) == pytest.approx(5.0)


def test_tracer_nests_and_disabled_records_nothing():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_jobs_are_attributed_by_submission_time():
    # a caller span with a child; two jobs submitted concurrently by
    # worker threads while only the caller's span is open, one job in
    # the child, one after everything
    spans = [
        Span("commit", 100.0, 110.0, None),
        Span("commit.write", 101.0, 103.0, 0),
    ]
    log = EventLog(
        jobs=[
            Job(0, 101.5, 102.0),
            Job(1, 104.0, 108.0),
            Job(2, 104.001, 107.0),
            Job(3, 111.0, 112.0),
        ],
        stages=[StageAttempt(0, 0, 104.0, tasks=4, cpu_s=1.5)],
    )
    assert work_in(log, [spans[1]]).jobs == 1
    w = work_in(log, [spans[0]])
    assert w.jobs == 3 and w.tasks == 4 and w.task_cpu_s == 1.5
    assert w.overlap_s == pytest.approx(2.999)  # jobs 1 and 2 overlap
    assert w.driver_gap_s == pytest.approx(10.0 - 0.5 - 4.0)


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1001}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Info": {"Failed": False},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 1,
         "Task Info": {"Failed": True}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500,
         "Job Result": {"Result": "JobSucceeded"}},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = parse_event_log(str(p))
    assert [(j.submit, j.end) for j in log.jobs] == [(1.0, 1.5)]
    s0, s1 = log.stages
    assert (s0.tasks, s0.cpu_s, s0.spill_bytes, s0.shuffle_write_bytes) == (1, 2.0, 5, 7)
    assert (s1.attempt, s1.failed_tasks) == (1, 1)


def test_run_concurrently_jobs_land_in_the_callers_span(tmp_path):
    """End to end with Spark: jobs that parallel.run_concurrently submits
    from its worker threads are attributed to the span of the caller."""
    from pyspark.sql import SparkSession

    from crossbar_data_process_spark.parallel import run_concurrently

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("crossbench-attribution-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(tmp_path))
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    tr = Tracer(True)
    try:
        with tr.span("before"):
            spark.range(10).collect()
        with tr.span("caller"):
            run_concurrently(
                [
                    lambda: spark.range(100).collect(),
                    lambda: spark.range(200).collect(),
                ]
            )
        with tr.span("after"):
            spark.range(10).collect()
    finally:
        spark.stop()
    (path,) = list(tmp_path.iterdir())
    log = parse_event_log(str(path))
    jobs = {sp.name: work_in(log, [sp]).jobs for sp in tr.spans}
    assert jobs == {"before": 1, "caller": 2, "after": 1}
