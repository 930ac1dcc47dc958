"""Workload registry and the two measurement modes (timed and traced)."""

from __future__ import annotations

import argparse
import os
import time
from pathlib import Path

from pyspark.sql import SparkSession

import harness
from harness import Loop, Tracer, median, run_for

# The first execution pays JIT, code generation and Python worker start-up;
# the JIT keeps speeding the next ones up for about ten more executions, but
# by the fourth the walls are within about 30 % of where they settle.
WARMUP_EXECUTIONS = 3

# Every per-layer metric with its unit. A traced run reports all of them; a
# layer its workload does not run reads 0.
PER_LAYER_UNITS = {
    "sources.documents.media_refs.s": "s",
    "sources.documents.media_refs.rows": "count",
    "plans.flagship.tile_zone_partials.s": "s",
    "plans.flagship.tile_zone_partials.rows": "count",
    "plans.flagship.tile_zone_partials.hit_ratio": "ratio",
    "geometry.points_in_geometry.mpoints_per_s": "Mpoint/s",
    "plans.flagship.doc_zonal_stats.s": "s",
    "plans.flagship.doc_zonal_stats.join_agg_self_s": "s",
    "plans.flagship.doc_zonal_stats.rows_out": "count",
    "tiles.raster_build.s": "s",
    "sources.io.read_raster.s": "s",
    "sources.io.write_raster.s": "s",
    "sources.io.write_raster.bytes": "bytes",
    "sources.io.write_raster.files": "count",
    "sources.io.store_bytes_per_cell": "bytes/cell",
    "operators.stencils.blur.s": "s",
    "operators.stencils.extrapolate.s": "s",
    "operators.stencils.dilate.s": "s",
    "operators.stencils.halo_shuffle_bytes": "bytes",
    "operators.resample.resample.s": "s",
    "functions.text.doc_annotations.s": "s",
    "functions.dedup.minhash_candidate_pairs.s": "s",
    "functions.dedup.minhash_candidate_pairs.rows": "count",
    "functions.dedup.verified_near_dup_edges.s": "s",
    "functions.dedup.verified_near_dup_edges.rows": "count",
    "functions.dedup.verify_ratio": "ratio",
    "functions.dedup.connected_components.s": "s",
    "functions.dedup.connected_components.rounds": "count",
    "functions.dedup.fuzzy_dedup_assign.s": "s",
    "plans.datapipe.curate_corpus.s": "s",
    "plans.datapipe.curate_corpus.kept_rows": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
    "spark.storage_bytes_after": "bytes",
    "trace.query_s_p50": "s",
    "trace.untraced_query_s_p50": "s",
    "trace.overhead_ratio": "ratio",
}


def make(name: str, spark: SparkSession, seed: int, work: Path):
    if name == "zonal_docs":
        from zonal_docs import ZonalDocs as cls
    else:
        from curate_text import CurateText as cls
    return cls(spark, seed, work)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _execute(loop: Loop, wl) -> None:
    """One timed execution, then a full GC outside the timed region."""
    loop.run_once(wl.execute)
    harness.full_gc(wl.spark)


def measure(wl, args: argparse.Namespace, session_s: float, setup_reps: int, work_root: Path):
    """Build and persist the inputs ``setup_reps`` times, run the warm-up
    executions, then the timed or the traced loop for ``args.seconds``.
    Returns (summary, result line)."""
    spark = wl.spark
    build_s: list[float] = []
    oracle_s = 0.0
    for rep in range(setup_reps):
        t0 = time.perf_counter()
        wl.setup(rep)
        build_s.append(time.perf_counter() - t0)
        if rep == 0:
            t0 = time.perf_counter()
            wl.build_oracle()  # the benchmark's own checker: not set-up work
            oracle_s = time.perf_counter() - t0
    warm = Loop()
    for _ in range(WARMUP_EXECUTIONS):
        _execute(warm, wl)
    setup_s = session_s + median(build_s) + sum(warm.walls + warm.failed_walls)

    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": harness.n_cpus(),
        "input_rows": wl.input_rows,
        "session_s": session_s,
        "input_build_s": build_s,
        "oracle_s": oracle_s,
        "warmup_walls_s": warm.walls,
    }
    steal0, total0 = harness.cpu_times()
    if args.trace:
        metrics, timed = _traced(wl, args, work_root, summary)
    else:
        timed = Loop()
        run_for(args.seconds, lambda: _execute(timed, wl))
        p50 = timed.p50()
        metrics = {
            "rows_per_s": _metric(wl.input_rows / p50, "rows/s"),
            "query_s_p50": _metric(p50, "s"),
            "setup_s": _metric(setup_s, "s"),
            "jvm_peak_rss_mb": _metric(harness.vm_hwm_mb(harness.jvm_pid(spark)), "MiB"),
        }
        summary["walls_s"] = timed.walls
        summary["steal_shares"] = [round(v, 4) for v in timed.steals]
        summary["query_s_p50_samples"] = len(timed.walls)
        summary.update(wl.summary())
    steal1, total1 = harness.cpu_times()
    summary["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    attempted = warm.attempted + timed.attempted
    failed = warm.failed + timed.failed
    summary["failed_ops_ratio"] = failed / attempted
    summary["errors"] = [e.strip().splitlines()[-1] for e in warm.errors + timed.errors]
    summary["metrics"] = {k: f"{v['value']:.6g} {v['unit']}" for k, v in metrics.items()}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return summary, line


def _traced(wl, args, work_root: Path, summary: dict):
    """Traced loop: per iteration one untraced execution, one traced
    execution, then one call per layer (each its own span). The medians over
    iterations are the per-layer metrics."""
    tracer = Tracer(wl.spark, run_id=f"{wl.name}-{args.seed}-{os.getpid()}")
    untraced, traced = Loop(), Loop()
    layer: dict[str, list[float]] = {}
    executions = []
    storage_after: list[float] = []

    def step():
        _execute(untraced, wl)
        with tracer.span(f"{wl.name}.execution") as s:
            traced.run_once(wl.execute)
        harness.full_gc(wl.spark)
        executions.append(s)
        storage_after.append(tracer.storage_bytes())
        with tracer.span(f"{wl.name}.layers"):
            for k, v in wl.trace_layers(tracer).items():
                layer.setdefault(k, []).append(v)

    run_for(args.seconds, step)
    tracer.attach_stage_counters()
    values = {k: median(v) for k, v in layer.items()}
    if getattr(wl, "build_s", None):
        values["tiles.raster_build.s"] = median(wl.build_s)
    for k in harness.STAGE_FIELDS:
        values[k] = median([tracer.subtree_spark(s)[k] for s in executions])
    values["spark.storage_bytes_after"] = storage_after[-1]
    q_traced = traced.p50()
    q_untraced = untraced.p50()
    values["trace.query_s_p50"] = q_traced
    values["trace.untraced_query_s_p50"] = q_untraced
    values["trace.overhead_ratio"] = q_traced / q_untraced
    metrics = {k: _metric(values.get(k, 0.0), u) for k, u in PER_LAYER_UNITS.items()}
    summary["walls_s"] = traced.walls
    summary["untraced_walls_s"] = untraced.walls
    summary["storage_bytes_after"] = storage_after
    trace_path = work_root / "traces" / f"{tracer.run_id}.json"
    tracer.dump(trace_path, {"workload": wl.name, "seed": args.seed, "metrics": values})
    summary["trace_file"] = str(trace_path.relative_to(work_root.parent))
    loop = Loop(attempted=untraced.attempted + traced.attempted,
                failed=untraced.failed + traced.failed,
                errors=untraced.errors + traced.errors)
    return metrics, loop
