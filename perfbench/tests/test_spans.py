"""Spans time the call and its materialization and own their Spark jobs."""

from __future__ import annotations

import time

import pytest

from perfbench import eventlog, harness
from perfbench.spans import Tracer, group_id


@pytest.fixture(scope="module")
def traced():
    work = harness.Work("test-spans", 0)
    spark = harness.start_session(work, trace=True)
    try:
        tracer = Tracer(spark)
        t0 = time.perf_counter()
        with tracer.span("blocking.profiles") as s:
            df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
            time.sleep(0.2)  # stands in for eager work inside the call
            s.materialize(df)
        with tracer.span("sources.write"):
            df.write.parquet(work.path("out"))
        wall = time.perf_counter() - t0
        harness.stop_session(spark)
        yield tracer, wall, work.path("eventlog")
    finally:
        work.close()


def test_construct_and_run_cover_the_wall_time(traced):
    tracer, wall, _ = traced
    first = tracer.spans[0]
    assert first.construct_s >= 0.2
    assert first.run_s > 0
    assert tracer.spans[1].run_s == 0.0
    assert tracer.total_s() == pytest.approx(tracer.wall_s(), rel=1e-3)
    assert tracer.total_s() == pytest.approx(wall, rel=0.02)


def test_jobs_and_rows_are_attributed(traced):
    tracer, _, log_dir = traced
    work = eventlog.work_by(log_dir, eventlog.GROUP)
    assert work[group_id("blocking.profiles")].jobs >= 1
    assert work[group_id("sources.write")].records_written == 7
    values = tracer.metrics(log_dir)
    assert values["blocking.profiles.rows_out"] == 7
    assert values["sources.write.rows_out"] == 7
    assert values["cli.report.jobs"] == 0  # a span that did not run
