"""Workload ``link-volume``: repeated ``cli link`` calls on one input.

Input: ``data.synth.synth_transcripts(n_convs=N_BASE, seed=<seed>)`` written
to parquet during setup; the engine sees only that parquet. Each measured
call links it into a fresh output directory, as a user running ``cli link``
does.

Untraced run: setup (session, input written once, ``WARM_CALLS`` untimed
``cli link`` calls), then one measured ``cli link`` call, and more while
another call of median length still ends within ``--seconds``. The session
cache is cleared before every call, outside the timed region, so each call
starts from the state a new ``cli link`` process would have.

Traced run: the same setup and one more untimed call, the untraced
reference, then a replay of ``cli link``'s calls one span at a time (see
``spans``). The replay must write the cluster map the untraced calls wrote.
"""

from __future__ import annotations

import contextlib
import io
import os
import time

from . import checks
from .harness import Work, jvm_peak_rss_mb, median, timed
from .metrics import END_TO_END, PER_LAYER, STREAMING, emit

N_BASE = 400  # base conversations; variants and distractors make 667 in all
# the call after the cold one still ran 10-40% slower than the next while
# the JIT compiled, and varied most from run to run, so two calls warm up
WARM_CALLS = 2
RESCORE_SAMPLE = 200


def _write_input(spark, seed: int, path: str) -> None:
    from addressparser_spark.data.synth import synth_transcripts

    synth_transcripts(spark, n_convs=N_BASE, seed=seed).write.mode("overwrite").parquet(path)


def _link(src: str, out: str) -> None:
    from addressparser_spark import cli

    with contextlib.redirect_stdout(io.StringIO()):  # cli prints its metrics
        cli.main(["link", "--input", src, "--output", out])


def _check(out: str, want_md5: str | None) -> tuple[bool, dict]:
    clusters = os.path.join(out, "clusters")
    assign = dict(checks.read_rows(clusters, "conv_id", "cluster_id"))
    f1 = checks.pairwise_f1(assign, {c: checks.truth_cluster(c) for c in assign})
    md5 = checks.cluster_map_md5(clusters)
    ok = f1["f1"] == 1.0 and (want_md5 is None or md5 == want_md5)
    return ok, {"f1": f1["f1"], "fp": f1["fp"], "fn": f1["fn"], "md5": md5,
                "convs": len(assign)}


def _setup(spark, work: Work, seed: int, session_s: float,
           warm_calls: int = WARM_CALLS) -> tuple[str, float, dict]:
    src = work.path("input")
    t0 = time.perf_counter()
    _write_input(spark, seed, src)
    write_s = time.perf_counter() - t0
    warm: list[float] = []
    for i in range(warm_calls):
        spark.catalog.clearCache()
        out = work.path(f"out_warm{i}")
        with timed(warm):
            _link(src, out)
        ok, info = _check(out, info["md5"] if i else None)
        if not ok:
            raise RuntimeError(f"warm-up link failed its check: {info}")
    setup_s = session_s + write_s + sum(warm)
    return src, setup_s, {"session_s": session_s, "input_write_s": write_s,
                          "warm_link_s": warm, **info}


def measure(spark, work: Work, seed: int, seconds: float, session_s: float) -> dict:
    src, setup_s, detail = _setup(spark, work, seed, session_s)
    want_md5 = detail["md5"]
    times: list[float] = []
    failed = 0
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() + median(times) <= t_end:
        spark.catalog.clearCache()
        out = work.path(f"out{len(times)}")
        with timed(times):
            _link(src, out)
        ok, _ = _check(out, want_md5)
        failed += not ok
    values = {
        "setup_s": setup_s,
        "op_p50_s": median(times),
        "convs_per_s": detail["convs"] * len(times) / sum(times),
    }
    return {
        "correct": failed == 0,
        "attempted": len(times),
        "failed": failed,
        "metrics": emit(values, END_TO_END),
        "detail": {**detail, "link_s": times, "setup_s": setup_s},
    }


def replay(spark, tracer, src: str, out: str) -> dict:
    """``cli link``'s calls (``plans.pipeline.run_linkage`` inlined), one span each."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from addressparser_spark.operators import blocking, scoring
    from addressparser_spark.operators import pairs as pairs_op
    from addressparser_spark.operators.resolve import (
        cascade_registry_additions,
        resolve_cascade,
    )
    from addressparser_spark.plans import pipeline
    from addressparser_spark.sources.registry_writer import registry_writer
    from addressparser_spark.sources.tables import TableStore

    store = TableStore(spark, out)
    obs_pairs, obs_scored = Observation("pairs"), Observation("scored")
    with tracer.span("blocking.profiles") as s:
        turns = blocking.normalize_turns(spark.read.parquet(src))
        profiles = blocking.conv_profiles(turns).cache()
        s.materialize(profiles)
    with tracer.span("blocking.blocks") as s:
        blocks = blocking.block_table(profiles)
        _, dropped = pairs_op.capped_blocks(blocks)
        s.materialize(blocks)
    with tracer.span("pairs.candidates") as s:
        cand = pipeline.heavy_pairs(
            profiles, blocking.NUM_HASHES, blocking.ROWS_PER_BAND,
            pairs_op.MAX_BLOCK_SIZE, blocks=blocks,
        )
        cand = cand.observe(obs_pairs, F.count(F.lit(1)).alias("candidates")).cache()
        s.materialize(cand)
    with tracer.span("scoring.score") as s:
        scored = scoring.score_pairs(cand, profiles, with_jw=True)
        scored = scored.observe(
            obs_scored,
            F.sum(F.when(F.col("verdict").isin(*scoring.MATCH_VERDICTS), 1)
                  .otherwise(0)).alias("matches"),
        ).cache()
        s.materialize(scored)
    with tracer.span("clustering.cc") as s:
        clusters = pipeline.funnel_clusters_from(
            profiles, scoring.matched_edges(scored),
            checkpoint_dir=os.path.join(out, "cc_checkpoints"),
        )
        s.materialize(clusters)
    with tracer.span("resolve.entities") as s:
        writer = registry_writer(spark, store)
        registry = writer.read()
        resolved = resolve_cascade(clusters, profiles, registry).cache()
        s.materialize(resolved)
    with tracer.span("sources.write"):
        store.write("clusters", clusters)
        store.write("resolved", resolved)
        writer.merge(cascade_registry_additions(resolved, profiles, registry))
    with tracer.span("cli.report"):
        store.write("dropped_blocks", dropped)
        clusters.select("cluster_id").distinct().count()
        resolved.groupBy("resolve_stage").agg(F.count(F.lit(1)).alias("n")).collect()
        resolved.unpersist()
        pipeline.partition_histogram(profiles)
        n_dropped = dropped.count()

    # outside every span: the pure-Python re-score of a sample of pairs
    sample = [
        r.asDict() for r in scored.orderBy(F.xxhash64("conv_a", "conv_b"))
        .limit(RESCORE_SAMPLE).collect()
    ]
    ids = {r["conv_a"] for r in sample} | {r["conv_b"] for r in sample}
    prof = {
        r["conv_id"]: (r["sh_hash"], r["concat_text"])
        for r in profiles.filter(F.col("conv_id").isin(*ids))
        .select("conv_id", "sh_hash", "concat_text").collect()
    }
    candidates = obs_pairs.get["candidates"]
    spark.catalog.clearCache()
    return {
        "pairs.match_ratio": obs_scored.get["matches"] / candidates if candidates else 0.0,
        "pairs.dropped_blocks": n_dropped,
        "rescored": len(sample),
        "rescore_max_error": checks.rescore_max_error(sample, prof),
    }


def trace(spark, work: Work, seed: int, seconds: float, session_s: float):
    """Traced run; returns ``finish(log_dir) -> result``.

    ``finish`` runs after the session stops and the event log is closed.
    The replay runs once whatever ``seconds`` says.
    """
    from .spans import Tracer

    src, setup_s, detail = _setup(spark, work, seed, session_s, WARM_CALLS + 1)
    spark.catalog.clearCache()
    tracer = Tracer(spark)
    extra = replay(spark, tracer, src, work.path("out_traced"))
    ok_traced, traced = _check(work.path("out_traced"), detail["md5"])
    rescore_ok = extra["rescore_max_error"] <= 1e-6 and extra["rescored"] > 0
    detail.update(
        link_s=detail["warm_link_s"][-1], trace_total_s=tracer.total_s(),
        trace_wall_s=tracer.wall_s(), traced_md5=traced["md5"], traced_f1=traced["f1"],
        rescored=extra["rescored"], rescore_max_error=extra["rescore_max_error"],
    )
    failed = (not ok_traced) + (not rescore_ok)
    peak_rss_mb = jvm_peak_rss_mb(spark)

    def finish(log_dir: str) -> dict:
        values = tracer.metrics(log_dir)
        values.update({k: extra[k] for k in ("pairs.match_ratio", "pairs.dropped_blocks")})
        values["trace.total_s"] = tracer.total_s()
        values["session.peak_rss_mb"] = peak_rss_mb
        values.update({k: 0.0 for k in STREAMING})  # no micro-batches here
        return {
            "correct": failed == 0,
            "attempted": 2,
            "failed": failed,
            "metrics": emit(values, PER_LAYER),
            "detail": detail,
        }

    return finish
