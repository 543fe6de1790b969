"""Workload ``stream-incremental``: ``streaming.incremental.incremental_linkage``.

Input: ``data.synth.synth_transcripts(seed=<seed>)`` staged as parquet files
of ``PER_FILE`` base conversations each. A ``_vN`` variant goes in the file
after its base's file (variants of the last file's bases stay in it); a
``_d1`` distractor stays with its base. The stream reads the files as a
closed loop: ``maxFilesPerTrigger=1``, and each micro-batch starts after the
previous one commits. Variants resolve from the growing registry by
signature; every ``COMPACT_EVERY`` epochs the registry is compacted.

The first ``WARM_FILES`` epochs warm the JVM and are counted in ``setup_s``:
the first three ran slower while the JIT compiled. The measured epochs follow
in the same query. Their number covers ``--seconds`` at ``EPOCH_NOMINAL_S``
a batch, and is at least ``MIN_MEASURED``. The first compaction comes after
``COMPACT_EVERY`` = 8 epochs, so it falls among the measured ones only when
``--seconds`` is above 20. The last staged file also holds its own bases'
variants, so its epoch runs ~20% more jobs than the others.

Traced run: the same stream with the event log on (jobs are attributed to
epochs by ``streaming.sql.batchId``), then one more file linked by a replay
of ``link_batch``'s calls and the epoch's writes, one span each, against the
registry the stream left behind.
"""

from __future__ import annotations

import glob
import math
import os
import time

from . import checks
from .harness import Work, jvm_peak_rss_mb, median, tail_percentile
from .metrics import END_TO_END, PER_LAYER, emit

PER_FILE = 25
WARM_FILES = 3
MIN_MEASURED = 3
EPOCH_NOMINAL_S = 5.0
STREAM_TIMEOUT_S = 150


def _n_measured(seconds: float) -> int:
    return max(MIN_MEASURED, math.ceil(seconds / EPOCH_NOMINAL_S))


def _stage(spark, seed: int, n_files: int, stage_dir: str, extra_file: str) -> dict:
    """Write files ``0..n_files-1`` to ``stage_dir`` and one more to
    ``extra_file``; return ``{conv_id: file}``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from addressparser_spark.data.synth import synth_transcripts

    pdf = synth_transcripts(spark, n_convs=(n_files + 1) * PER_FILE, seed=seed).toPandas()
    base_file = pdf["conv_id"].str.slice(5, 13).astype(int) // PER_FILE
    variant = pdf["conv_id"].str.contains(checks.VARIANT)
    pdf["file"] = (base_file + variant).clip(upper=n_files - 1).where(
        base_file < n_files, n_files
    )
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    os.makedirs(stage_dir)
    for k, g in pdf.groupby("file"):
        path = extra_file if k == n_files else os.path.join(stage_dir, f"part-{k:05d}.parquet")
        table = pa.Table.from_pandas(g.drop(columns=["file"]), schema=schema,
                                     preserve_index=False)
        pq.write_table(table, path)
        os.utime(path, (1_000_000_000 + k, 1_000_000_000 + k))  # read in file order
    return dict(zip(pdf["conv_id"], pdf["file"].astype(int)))


def _expected_entity(conv: str, file_of: dict) -> str:
    """Ground truth for the staged stream: a variant shares its base's entity
    unless it is a ``_v3`` truncation (its own signature) that arrives in a
    later batch than its base; a ``_d1`` distractor is always its own."""
    base = checks.truth_cluster(conv)
    if base != conv and (not conv.endswith("_v3") or file_of[conv] == file_of[base]):
        return base
    return conv


def _registry_dirs(registry_dir: str) -> list[str]:
    """Live base snapshot plus deltas, per the layout in ``streaming.incremental``."""
    dirs = []
    cur = os.path.join(registry_dir, "_CURRENT")
    if os.path.isfile(cur):
        with open(cur) as f:
            dirs.append(os.path.join(registry_dir, f.read().strip()))
    return dirs + sorted(glob.glob(os.path.join(registry_dir, "delta_epoch=*")))


class _Run:
    """Setup plus one streaming query over the staged files."""

    def __init__(self, spark, work: Work, seed: int, seconds: float, session_s: float):
        from addressparser_spark.streaming.incremental import incremental_linkage

        self.n_files = WARM_FILES + _n_measured(seconds)
        t0 = time.perf_counter()
        self.file_of = _stage(spark, seed, self.n_files, work.path("stage"),
                              work.path("extra.parquet"))
        self.stage_s = time.perf_counter() - t0
        self.extra_file = work.path("extra.parquet")
        self.out_dir, self.registry_dir = work.path("resolved"), work.path("registry")
        q = incremental_linkage(spark, work.path("stage"), self.out_dir,
                                self.registry_dir, work.path("checkpoint"))
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"stream did not finish in {STREAM_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = sorted(
            (p for p in q.recentProgress if p["numInputRows"] > 0),
            key=lambda p: p["batchId"],
        )
        if [p["batchId"] for p in progress] != list(range(self.n_files)):
            raise RuntimeError("stream did not run one epoch per staged file")
        self.warm = progress[:WARM_FILES]
        self.measured = progress[WARM_FILES:]
        self.epoch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in self.measured]
        self.setup_s = (
            session_s + self.stage_s
            + sum(p["durationMs"]["triggerExecution"] / 1e3 for p in self.warm)
        )
        self.rows = checks.read_rows(self.out_dir, "conv_id", "entity_id", "epoch")

    def check(self) -> tuple[bool, dict]:
        staged = {c for c, f in self.file_of.items() if f < self.n_files}
        assign = {c: e for c, e, _ in self.rows}
        want = {c: _expected_entity(c, self.file_of) for c in staged}
        ok = (
            len(self.rows) == len(assign)
            and set(assign) == staged
            and checks.pairwise_f1(assign, want)["f1"] == 1.0
        )
        return ok, {"convs": len(staged), "entities": len(set(assign.values())),
                    "expected_entities": len(set(want.values())),
                    "epochs": len(self.warm) + len(self.measured)}

    def measured_convs(self) -> int:
        return sum(1 for f in self.file_of.values() if WARM_FILES <= f < self.n_files)

    def hit_ratios(self) -> list[float]:
        """Per measured epoch: share of its conversations whose entity an
        earlier epoch already registered."""
        by_epoch: dict[int, list[str]] = {}
        for _, e, k in self.rows:
            by_epoch.setdefault(int(k), []).append(e)
        seen: set[str] = set()
        out = []
        for k in sorted(by_epoch):
            if k >= WARM_FILES:
                out.append(sum(e in seen for e in by_epoch[k]) / len(by_epoch[k]))
            seen.update(by_epoch[k])
        return out


def measure(spark, work: Work, seed: int, seconds: float, session_s: float) -> dict:
    run = _Run(spark, work, seed, seconds, session_s)
    ok, detail = run.check()
    tail = tail_percentile(run.epoch_s)
    values = {
        "setup_s": run.setup_s,
        "op_p50_s": median(run.epoch_s),
        "convs_per_s": run.measured_convs() / sum(run.epoch_s),
    }
    return {
        "correct": ok,
        "attempted": len(run.measured),
        "failed": 0 if ok else len(run.measured),
        "metrics": emit(values, END_TO_END),
        "detail": {
            **detail, "epoch_s": run.epoch_s, "stage_s": run.stage_s,
            "warm_epoch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in run.warm],
            "epoch_tail": (
                {"percentile": tail[0], "value_s": tail[1]} if tail
                else f"none: {len(run.epoch_s)} epochs leave fewer than 10 above any percentile"
            ),
        },
    }


def replay(spark, tracer, batch_file: str, registry_dir: str, out: str) -> dict:
    """``streaming.incremental.link_batch`` and the epoch's writes, one span each."""
    from pyspark.sql import functions as F

    from addressparser_spark.operators import blocking, scoring
    from addressparser_spark.operators import pairs as pairs_op
    from addressparser_spark.operators.clustering import (
        assign_clusters,
        connected_components,
    )
    from addressparser_spark.operators.resolve import registry_additions, resolve_entities

    registry = spark.read.parquet(*_registry_dirs(registry_dir)).dropDuplicates(["entity_id"])
    batch = spark.read.parquet(batch_file)
    with tracer.span("blocking.profiles") as s:
        profiles = blocking.conv_profiles(blocking.normalize_turns(batch)).cache()
        s.materialize(profiles)
    with tracer.span("blocking.blocks") as s:
        blocks = blocking.block_table(profiles)
        s.materialize(blocks)
    with tracer.span("pairs.candidates") as s:
        cand = pairs_op.candidate_pairs(blocks)
        s.materialize(cand)
    with tracer.span("scoring.score") as s:
        scored = scoring.score_pairs(cand, profiles, with_jw=False, broadcast_profiles=True)
        s.materialize(scored)
    with tracer.span("clustering.cc") as s:
        clusters = assign_clusters(
            profiles, connected_components(scoring.matched_edges(scored))
        )
        s.materialize(clusters)
    with tracer.span("resolve.entities") as s:
        resolved = resolve_entities(clusters, profiles, registry)
        additions = registry_additions(resolved, profiles, registry)
        s.materialize(resolved)
    with tracer.span("sources.write"):
        resolved.write.mode("overwrite").parquet(os.path.join(out, "resolved"))
        additions.write.mode("overwrite").parquet(os.path.join(out, "delta"))

    # outside every span
    n_cand = cand.count()
    matches = scored.filter(F.col("verdict").isin(*scoring.MATCH_VERDICTS)).count()
    dropped = pairs_op.capped_blocks(blocks)[1].count()
    spark.catalog.clearCache()
    return {"pairs.match_ratio": matches / n_cand if n_cand else 0.0,
            "pairs.dropped_blocks": dropped}


def trace(spark, work: Work, seed: int, seconds: float, session_s: float):
    """Traced run; returns ``finish(log_dir) -> result`` (see ``run.py``)."""
    from .spans import Tracer

    run = _Run(spark, work, seed, seconds, session_s)
    ok, detail = run.check()
    tracer = Tracer(spark)
    extra = replay(spark, tracer, run.extra_file, run.registry_dir, work.path("replay"))
    registry_rows = len({
        e for d in _registry_dirs(run.registry_dir)
        for (e,) in checks.read_rows(d, "entity_id")
    })
    hits = run.hit_ratios()
    peak_rss_mb = jvm_peak_rss_mb(spark)

    def finish(log_dir: str) -> dict:
        from . import eventlog

        per_batch = eventlog.work_by(log_dir, eventlog.BATCH)
        epochs = [per_batch.get(str(p["batchId"]), eventlog.Work()) for p in run.measured]
        values = tracer.metrics(log_dir)
        values.update(extra)
        values["trace.total_s"] = tracer.total_s()
        values["session.peak_rss_mb"] = peak_rss_mb
        values.update({
            "streaming.add_batch_s": median(
                [p["durationMs"]["addBatch"] / 1e3 for p in run.measured]),
            "streaming.wal_commit_s": median(
                [p["durationMs"]["walCommit"] / 1e3 for p in run.measured]),
            "streaming.jobs_per_epoch": median([w.jobs for w in epochs]),
            "streaming.tasks_per_epoch": median([w.tasks for w in epochs]),
            "streaming.exec_cpu_s": median([w.exec_cpu_s for w in epochs]),
            "streaming.registry_rows": registry_rows,
            "streaming.registry_hit_ratio": median(hits),
        })
        return {
            "correct": ok,
            "attempted": len(run.measured),
            "failed": 0 if ok else len(run.measured),
            "metrics": emit(values, PER_LAYER),
            "detail": {**detail, "epoch_s": run.epoch_s, "hit_ratios": hits,
                       "trace_total_s": tracer.total_s(), "trace_wall_s": tracer.wall_s(),
                       "epoch_jobs": [w.jobs for w in epochs]},
        }

    return finish
