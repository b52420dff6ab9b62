"""Metric assembly: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced run. Names and units here are the ones
BENCHMARK.json lists.

Every workload prints every metric. Shares (``*_frac``) and counts are
normalised by the timed operations of the run, so runs of different
length compare; a layer a workload does not exercise reads 0.
Two layers get no shares or counts: ``index.builder``, whose public
functions only build lazy plans that no timed operation calls (its one
metric, ``assign_doc_ids_s``, is timed in churn's set-up), and
``index.codec``, whose functions run only inside worker kernels, where no
driver span sees them (its one metric is ``bytes_per_posting``).
"""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict

from spans import (
    BENCH,
    LAYERS,
    attribute_jobs,
    jobs_within,
    outermost,
    python_stages,
    read_event_log,
    split_op,
    task_skew,
)
from workloads import SHAPES

END_TO_END = {
    "setup_s": "s",
    "query_gmean_ref_ms": "ms",
    "bulk_gmean_ref_s": "s",
    "index_bytes_per_text_byte": "ratio",
}

SHARE_LAYERS = [layer for layer in LAYERS if layer not in ("index.builder", "index.codec")]
PER_LAYER: dict[str, str] = {}
for _layer in SHARE_LAYERS + [BENCH]:
    PER_LAYER[f"{_layer}.self_frac"] = "ratio"
    PER_LAYER[f"{_layer}.spark_frac"] = "ratio"
    if _layer != BENCH:
        PER_LAYER[f"{_layer}.calls_per_op"] = "count"
    PER_LAYER[f"{_layer}.jobs_per_op"] = "count"
    PER_LAYER[f"{_layer}.tasks_per_op"] = "count"
PER_LAYER.update({
    "session.start_s": "s",
    "index.builder.assign_doc_ids_s": "s",
    "index.segments.build_s": "s",
    "index.segments.tasks": "count",
    "index.segments.shuffle_write_bytes": "bytes",
    "index.segments.spill_bytes": "bytes",
    "index.segments.index_bytes": "bytes",
    "index.codec.bytes_per_posting": "bytes",
    "index.placement.encode_task_skew": "ratio",
    "index.placement.kernel_task_skew": "ratio",
    "index.incremental.jobs_per_upsert": "count",
    "index.incremental.tasks_per_upsert": "count",
    "index.incremental.bytes_written_per_upsert": "bytes",
    "index.incremental.parts": "count",
    "index.incremental.tombstones": "count",
    "search.wand.load_index_s": "s",
    "search.wand.kernel_run_ms_per_query": "ms",
    "search.wand.sched_delay_ms": "ms",
    "search.wand.python_bytes_in_per_query": "bytes",
    "search.wand.python_bytes_out_per_query": "bytes",
    **{f"search.api.{s}.p50_ratio": "ratio" for s in SHAPES},
    "spark.peak_rss_mb": "MB",
    "spark.jvm_gc_ms": "ms",
    "spark.failed_tasks": "count",
    "spark.persisted_rdds_growth": "count",
    "trace_overhead_frac": "ratio",
    "trace.layer_frac": "ratio",
})

WRITE_OPS = ("upsert", "delete", "load")


def _with_units(values: dict[str, float], units: dict[str, str]) -> dict:
    if set(values) != set(units):
        raise KeyError(f"metrics differ from the declared set: {set(values) ^ set(units)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def end_to_end(run, result: dict, setup_s: float) -> dict:
    """Operation timings at reference host speed (``Run.host_slowdown``);
    the measured ones are in the facts line."""
    slowdown = run.host_slowdown()
    return _with_units({
        "setup_s": setup_s,
        "query_gmean_ref_ms": result["query_gmean_ms"] / slowdown,
        "bulk_gmean_ref_s": result["bulk_gmean_s"] / slowdown,
        "index_bytes_per_text_byte": result["index_bytes"] / run.inputs.text_bytes,
    }, END_TO_END)


def per_layer(run, result: dict, tracer, eventlog_dir: str,
              session_start_s: float, gc_ms: int, peak_rss_mb: float) -> dict:
    tracer.uninstall()
    overhead = tracer.overhead_per_call()
    (path,) = glob.glob(os.path.join(eventlog_dir, "*"))
    jobs, tasks = read_event_log(path)
    spans = tracer.spans
    attribute_jobs(jobs, spans, tracer.ops)

    timed = [o for o in tracer.ops if o.timed]
    wall = sum(o.end - o.start for o in timed)
    n_ops = len(timed)
    queries = [o for o in timed if o.kind not in WRITE_OPS]
    driver: dict[str, float] = defaultdict(float)
    spark: dict[str, float] = defaultdict(float)
    for o in timed:
        d, s = split_op(o, spans, jobs)
        for k, v in d.items():
            driver[k] += v
        for k, v in s.items():
            spark[k] += v

    def in_ops(t: float, ops) -> bool:
        return any(o.start <= t < o.end for o in ops)

    timed_spans = [s for s in spans if s.layer != BENCH and in_ops(s.start, timed)]
    timed_jobs = [j for j in jobs if in_ops(j.submit, timed)]

    def job_tasks(js):
        return [t for j in js for sid in j.stages for t in tasks.get(sid, [])]

    m: dict[str, float] = {}
    for layer in SHARE_LAYERS + [BENCH]:
        own = [j for j in timed_jobs if j.layer == layer]
        m[f"{layer}.self_frac"] = driver[layer] / wall
        m[f"{layer}.spark_frac"] = spark[layer] / wall
        if layer != BENCH:
            m[f"{layer}.calls_per_op"] = sum(s.layer == layer for s in timed_spans) / n_ops
        m[f"{layer}.jobs_per_op"] = len(own) / n_ops
        m[f"{layer}.tasks_per_op"] = len(job_tasks(own)) / n_ops

    # set-up: the index builds that precede the first operation
    first_op = min(o.start for o in tracer.ops)
    builds = [s for s in outermost(spans, "index.segments") if s.end <= first_op]
    build_tasks = job_tasks(jobs_within(jobs, builds))
    encode = python_stages(jobs_within(jobs, builds), tasks)
    m.update({
        "session.start_s": session_start_s,
        "index.builder.assign_doc_ids_s": result.get("assign_doc_ids_s", 0.0),
        "index.segments.build_s": sum(s.end - s.start for s in builds),
        "index.segments.tasks": len(build_tasks),
        "index.segments.shuffle_write_bytes": sum(t.shuffle_write for t in build_tasks),
        "index.segments.spill_bytes": sum(t.spill for t in build_tasks),
        "index.segments.index_bytes": result["index_bytes"],
        "index.codec.bytes_per_posting": result["segment_bytes"] / run.inputs.n_postings,
        "index.placement.encode_task_skew": task_skew(
            max(encode, key=lambda ts: sum(t.run_s for t in ts))) if encode else 1.0,
    })

    search_jobs = [j for j in timed_jobs if j.layer.startswith("search.")]
    kernels = python_stages(search_jobs, tasks)
    search_tasks = job_tasks(search_jobs)
    n_q = max(len(queries), 1)
    m.update({
        "index.placement.kernel_task_skew": (
            statistics.median(task_skew(ts) for ts in kernels) if kernels else 1.0),
        "search.wand.load_index_s": statistics.mean(
            s.end - s.start for s in spans if s.name == "load_index"),
        "search.wand.kernel_run_ms_per_query":
            sum(t.run_s for ts in kernels for t in ts) * 1e3 / n_q,
        "search.wand.sched_delay_ms": statistics.mean(
            (t.finish - t.launch - t.run_s) * 1e3 for t in search_tasks)
            if search_tasks else 0.0,
        "search.wand.python_bytes_in_per_query":
            sum(t.py_in for ts in kernels for t in ts) / n_q,
        "search.wand.python_bytes_out_per_query":
            sum(t.py_out for ts in kernels for t in ts) / n_q,
    })

    upserts = [o for o in timed if o.kind == "upsert"]
    upsert_jobs = [j for j in jobs if in_ops(j.submit, upserts)]
    n_up = max(len(upserts), 1)
    m.update({
        "index.incremental.jobs_per_upsert": len(upsert_jobs) / n_up,
        "index.incremental.tasks_per_upsert": len(job_tasks(upsert_jobs)) / n_up,
        "index.incremental.bytes_written_per_upsert": result.get("upsert_bytes", 0),
        "index.incremental.parts": result.get("parts", 0),
        "index.incremental.tombstones": result.get("tombstones", 0),
    })

    shape_p50 = result.get("shape_p50_s", {})
    all_p50 = result["extra"]["query_p50_ms"] / 1e3
    m.update({f"search.api.{s}.p50_ratio": shape_p50[s] / all_p50 if s in shape_p50 else 0.0
              for s in SHAPES})
    m.update({
        "spark.peak_rss_mb": peak_rss_mb,
        "spark.jvm_gc_ms": gc_ms,
        "spark.failed_tasks": sum(t.failed for ts in tasks.values() for t in ts),
        "spark.persisted_rdds_growth": run.rdd_growth,
        "trace_overhead_frac": overhead * len(timed_spans) / wall,
        # the rest is the benchmark's own code and jobs no package span covers
        "trace.layer_frac": 1 - (driver[BENCH] + spark[BENCH]) / wall,
    })
    return _with_units(m, PER_LAYER)
