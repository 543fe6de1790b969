"""Read a Spark event log and sum task work per job property.

The benchmark turns the event log on only in traced runs, with
``spark.eventLog.compress=false`` so the JSON lines can be read without a
codec. Spark 4 writes a rolling log (``eventlog_v2_<app>/events_<n>_<app>``);
a single plain file is read the same way.

Attribution: every job, stage and task is keyed by one property of the job
that ran it. Spans set ``spark.jobGroup.id``; Structured Streaming sets
``streaming.sql.batchId`` on every job of a micro-batch. A stage carries its
job's properties on ``SparkListenerStageSubmitted``, and a task points at its
stage, so no timing heuristic is needed.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass

GROUP = "spark.jobGroup.id"
BATCH = "streaming.sql.batchId"

MB = 1024 * 1024


@dataclass
class Work:
    """Task work of the jobs that share one property value."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    records_written: int = 0


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order."""

    def part(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = []
    for root, _, names in os.walk(log_dir):
        files += [
            os.path.join(root, n) for n in names
            if not n.startswith(".") and not n.startswith("appstatus")
        ]
    return sorted(files, key=lambda p: (os.path.dirname(p), part(p)))


def events(log_dir: str):
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def work_by(log_dir: str, prop: str) -> dict[str, Work]:
    """Sum jobs, stages and task metrics per value of job property ``prop``.

    Jobs without the property are left out.
    """
    out: dict[str, Work] = {}
    stage_key: dict[int, str] = {}
    for e in events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            key = (e.get("Properties") or {}).get(prop)
            if key is not None:
                out.setdefault(key, Work()).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            key = (e.get("Properties") or {}).get(prop)
            sid = e["Stage Info"]["Stage ID"]
            if key is not None and sid not in stage_key:
                stage_key[sid] = key
                out.setdefault(key, Work()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if key is None or not m:
                continue
            w = out[key]
            w.tasks += 1
            w.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            w.gc_s += m.get("JVM GC Time", 0) / 1e3
            w.shuffle_write_mb += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            )
            w.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
            w.records_written += m.get("Output Metrics", {}).get("Records Written", 0)
    return out
