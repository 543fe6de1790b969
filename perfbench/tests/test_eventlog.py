"""The event-log reader attributes jobs, stages and tasks to spans and epochs."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog


def _job(job_id, stages, **props):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _stage(stage_id, **props):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage_id}, "Properties": props}


def _task(stage_id, cpu_ns=0, gc_ms=0, shuffle=0, spilled=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
        "Memory Bytes Spilled": spilled, "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Output Metrics": {"Records Written": written},
    }}


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


A = {eventlog.GROUP: "perfbench:a"}
B = {eventlog.GROUP: "perfbench:b"}


@pytest.fixture
def rolling_log(tmp_path):
    """A rolling log split over two files, plus the status marker Spark writes."""
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _write(d / "events_1_local-1", [
        {"Event": "SparkListenerLogStart"},
        _job(0, [0, 1], **A), _stage(0, **A), _stage(1, **A),
        _task(0, cpu_ns=2_000_000_000, gc_ms=500, shuffle=eventlog.MB),
        _task(0, cpu_ns=1_000_000_000),
        _task(1, written=7),
        # a job with no group: left out
        _job(1, [2]), _stage(2), _task(2, cpu_ns=9_000_000_000),
    ])
    _write(d / "events_2_local-1", [
        # group b reuses stage 1 (skipped) and runs stage 3
        _job(2, [1, 3], **B), _stage(3, **B),
        _task(3, cpu_ns=500_000_000, spilled=2 * eventlog.MB),
        # two micro-batches, the second with two jobs
        _job(3, [4], **{eventlog.BATCH: "0"}), _stage(4, **{eventlog.BATCH: "0"}),
        _task(4), _task(4),
        _job(4, [5], **{eventlog.BATCH: "1"}), _stage(5, **{eventlog.BATCH: "1"}),
        _task(5),
        _job(5, [6], **{eventlog.BATCH: "1"}), _stage(6, **{eventlog.BATCH: "1"}),
        _task(6, cpu_ns=250_000_000),
    ])
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def test_tasks_go_to_the_span_of_their_stage(rolling_log):
    work = eventlog.work_by(str(rolling_log), eventlog.GROUP)
    assert set(work) == {"perfbench:a", "perfbench:b"}
    a, b = work["perfbench:a"], work["perfbench:b"]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 3)
    assert a.exec_cpu_s == pytest.approx(3.0)
    assert a.gc_s == pytest.approx(0.5)
    assert a.shuffle_write_mb == pytest.approx(1.0)
    assert a.records_written == 7
    # the reused stage stays with the span that ran it
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)
    assert b.spill_mb == pytest.approx(2.0)


def test_jobs_go_to_their_micro_batch(rolling_log):
    work = eventlog.work_by(str(rolling_log), eventlog.BATCH)
    assert set(work) == {"0", "1"}
    assert (work["0"].jobs, work["0"].tasks) == (1, 2)
    assert (work["1"].jobs, work["1"].stages, work["1"].tasks) == (2, 2, 2)
    assert work["1"].exec_cpu_s == pytest.approx(0.25)


def test_rolling_files_are_read_in_order(rolling_log):
    names = [p.rsplit("/", 1)[1] for p in eventlog.log_files(str(rolling_log))]
    assert names == ["events_1_local-1", "events_2_local-1"]
