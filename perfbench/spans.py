"""Spans around calls into the engine, taken from outside it.

A span owns one Spark job group for its whole life, so the event log
attributes every job, stage and task it starts to it. The span times two
parts:

- ``construct_s``: the engine call itself, which includes any job the call
  runs eagerly (probes, convergence checks, writes);
- ``run_s``: one materialization of the call's output, a ``noop`` write with
  an ``Observation`` counting the rows, so counting adds no job.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import eventlog
from .metrics import SPAN_FIELDS, SPANS


def group_id(name: str) -> str:
    return f"perfbench:{name}"


@dataclass
class Span:
    name: str
    construct_s: float = 0.0
    run_s: float = 0.0
    rows_out: int | None = None
    _t0: float = 0.0
    _run_t0: float | None = None
    _end: float = 0.0

    def materialize(self, df: DataFrame) -> None:
        """Run ``df`` once; its rows become the span's ``rows_out``."""
        self._run_t0 = time.perf_counter()
        self.construct_s = self._run_t0 - self._t0
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        self.rows_out = int(obs.get["n"])


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if name not in SPANS:
            raise ValueError(f"unknown span {name}")
        s = Span(name)
        self.sc.setJobGroup(group_id(name), name)
        s._t0 = time.perf_counter()
        try:
            yield s
        finally:
            s._end = time.perf_counter()
            if s._run_t0 is None:
                s.construct_s = s._end - s._t0
            else:
                s.run_s = s._end - s._run_t0
            self.sc.setLocalProperty(eventlog.GROUP, None)
            self.spans.append(s)

    def total_s(self) -> float:
        return sum(s.construct_s + s.run_s for s in self.spans)

    def wall_s(self) -> float:
        """Wall time from the first span's start to the last span's end."""
        return self.spans[-1]._end - self.spans[0]._t0 if self.spans else 0.0

    def metrics(self, log_dir: str) -> dict[str, float]:
        """Every span field for every name in ``SPANS``.

        A span the workload did not run reads 0 in every field. Spans
        without a materialized output count the rows their jobs wrote.
        """
        work = eventlog.work_by(log_dir, eventlog.GROUP)
        out = {f"{n}.{f}": 0.0 for n in SPANS for f in SPAN_FIELDS}
        for s in self.spans:
            w = work.get(group_id(s.name), eventlog.Work())
            rows = s.rows_out if s.rows_out is not None else w.records_written
            vals = {
                "construct_s": s.construct_s,
                "run_s": s.run_s,
                "jobs": w.jobs,
                "stages": w.stages,
                "tasks": w.tasks,
                "exec_cpu_s": w.exec_cpu_s,
                "gc_s": w.gc_s,
                "shuffle_write_mb": w.shuffle_write_mb,
                "spill_mb": w.spill_mb,
                "rows_out": rows,
            }
            for f, v in vals.items():
                out[f"{s.name}.{f}"] = v
        return out
