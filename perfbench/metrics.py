"""The formulas that fill the per-layer metrics from spans.

The metric names and units are the ``per_layer`` list of ``BENCHMARK.json``;
every traced run prints all of them, and a layer the workload does not
enter reports 0 (no work was attributed to it).
"""

from __future__ import annotations

import os
import re
import statistics
import sys

import bench
from spans import (
    Span, Tracer, busy_union, jobs_of, node_count, node_metric, rows_into,
    stage_sum, stages_of,
)

LEAVES = list(bench.HEADLINE)


PYTHON_NODE = re.compile(r"Arrow|Pandas|Python")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def flatten(tracer: Tracer, roots: list[Span]) -> list[Span]:
    out, seen = [], set()
    for root in roots:
        for s in tracer.subtree(root.idx):
            if id(s) not in seen:
                seen.add(id(s))
                out.append(s)
    return out


def pipeline_layer(spans: list[Span], wall: float) -> dict:
    jobs = jobs_of(spans)
    return {
        "pipeline.jobs": len(jobs),
        "pipeline.no_job_s": max(0.0, wall - busy_union(jobs)),
    }


def checkpoint_layer(tracer: Tracer, spans: list[Span], rep, n_shards: int) -> dict:
    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    skipped = rep.skipped
    units = len(skipped.get("row_rules", [])) + len(skipped.get("audio", []))
    units += 1 if "constraints" in skipped else 0
    return {
        "checkpoint.write.s": sum(s.wall for s in named("checkpoint.write")),
        "checkpoint.write.files": node_metric(
            flatten(tracer, named("checkpoint.write")), lambda n: True,
            "number of written files"),
        "checkpoint.read.s": sum(s.wall for s in named("checkpoint.read")),
        "checkpoint.manifest.s": sum(s.wall for s in named("checkpoint.manifest")),
        "checkpoint.shards_skipped_frac": units / (2 * n_shards + 1),
    }


def audio_layer(tracer: Tracer, roots: list[Span]) -> dict:
    spans = flatten(tracer, roots)
    py = PYTHON_NODE.search

    def ms(metric: str) -> float:
        return node_metric(spans, py, metric) / 1000.0

    return {
        "audio.python_run_s": ms("time to run Python workers"),
        "audio.python_start_s": ms("time to start Python workers")
        + ms("time to initialize Python workers"),
        "audio.bytes_to_python": node_metric(spans, py, "data sent to Python workers"),
        "audio.rows_in": rows_into(spans, py),
        "audio.scan_rows": node_metric(
            spans, lambda n: n.startswith("Scan parquet"), "number of output rows"),
    }


def constraints_layer(tracer: Tracer, roots: list[Span]) -> dict:
    spans = flatten(tracer, roots)
    stages = stages_of(tracer, spans)
    reduce = [s for s in stages if s.metrics["shuffleReadBytes"] > 0]
    skew = 0.0
    if reduce:
        durations = tracer.task_durations(
            max(reduce, key=lambda s: s.metrics["executorRunTime"]))
        med = statistics.median(durations) if durations else 0.0
        skew = max(durations) / med if med > 0 else 0.0
    return {
        "constraints.shuffle_bytes": stage_sum(stages, "shuffleWriteBytes"),
        "constraints.exchanges": node_count(spans, lambda n: n.endswith("Exchange")),
        "constraints.jobs": len(jobs_of(spans)),
        "constraints.reduce_skew": skew,
    }


def engine_layer(tracer: Tracer, roots: list[Span]) -> dict:
    spans = flatten(tracer, roots)
    return {
        "engine.codegen_s": sum(r.codegen_ns for r in roots) / 1e9,
        "engine.rows_in": stage_sum(stages_of(tracer, spans), "inputRecords"),
    }


def drift_layer(tracer: Tracer, roots: list[Span]) -> dict:
    return {
        "drift.s": sum(r.wall for r in roots),
        "drift.jobs": len(jobs_of(flatten(tracer, roots))),
    }


def spark_layer(tracer: Tracer, spans: list[Span], wall: float, cores: int) -> dict:
    stages = stages_of(tracer, spans)
    task_s = stage_sum(stages, "executorRunTime") / 1000.0
    return {
        "spark.task_s": task_s,
        "spark.cpu_s": stage_sum(stages, "executorCpuTime") / 1e9,
        "spark.gc_s": stage_sum(stages, "jvmGcTime") / 1000.0,
        "spark.shuffle_write_bytes": stage_sum(stages, "shuffleWriteBytes"),
        "spark.spill_bytes": stage_sum(stages, "diskBytesSpilled"),
        "spark.input_bytes": stage_sum(stages, "inputBytes"),
        "spark.jobs": len(jobs_of(spans)),
        "spark.tasks": stage_sum(stages, "numCompleteTasks"),
        "spark.busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
    }
