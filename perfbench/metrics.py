"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` lists the same names; ``tests/test_metrics.py`` keeps the
two in step.
"""

from __future__ import annotations

# end-to-end, measured with tracing off; every workload prints all of them
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "convs_per_s": "1/s",
}

# spans of the layer-by-layer replay, in call order
SPANS = (
    "blocking.profiles",
    "blocking.blocks",
    "pairs.candidates",
    "scoring.score",
    "clustering.cc",
    "resolve.entities",
    "sources.write",
    "cli.report",
)

SPAN_FIELDS = {
    "construct_s": "s",
    "run_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
}

EXTRA = {
    "session.peak_rss_mb": "MB",
    "pairs.match_ratio": "ratio",
    "pairs.dropped_blocks": "count",
    "trace.total_s": "s",
}

STREAMING = {
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.jobs_per_epoch": "count",
    "streaming.tasks_per_epoch": "count",
    "streaming.exec_cpu_s": "s",
    "streaming.registry_rows": "count",
    "streaming.registry_hit_ratio": "ratio",
}

PER_LAYER = {
    **{f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()},
    **EXTRA,
    **STREAMING,
}


def emit(values: dict[str, float], units: dict[str, str]) -> dict:
    """``{name: {"value", "unit"}}`` for every name in ``units``.

    Raises ``KeyError`` when a name has no value, so a workload cannot drop
    a metric silently.
    """
    return {n: {"value": values[n], "unit": u} for n, u in units.items()}
