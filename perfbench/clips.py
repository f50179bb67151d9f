"""``clips_fresh``: the production validation run over a bucketed clips table.

Set-up writes the synthetic ``clips`` and ``clips_ref`` tables (the
program's own generator, every ``clip_id`` prefixed with the seed so bucket
and hot-key placement move with it) as bucketed parquet and builds the drift
baseline, and ends with one untimed pipeline run.  Each iteration runs
``run_pipeline`` against a fresh checkpoint directory and forces
``violations.count()`` and ``shard_verdicts.count()``.

The traced run compares a traced iteration with the untraced ones around
it, then measures the resume path: an untimed prime run over all shards but
four (chosen by the seed), then a traced run over every shard against a
copy of that checkpoint.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import tempfile
import time

import metrics as M
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
FULL = {"n": 12000, "shards": 64, "samples": 2048}
SMOKE = {"n": 3000, "shards": 16, "samples": 512}
MIN_ITERS = 1
RESUME_LEFT_OUT = 4


def expected(size: dict) -> dict:
    with open(os.path.join(HERE, "expected_clips.json")) as fh:
        return json.load(fh)[f"{size['n']}x{size['shards']}x{size['samples']}"]


def setup(spark, work: str, seed: int, size: dict):
    """Materialize both tables and the drift baseline."""
    from pyspark.sql import functions as F

    import bench
    from valor_spark.operators import drift as D
    from valor_spark.sources import synthetic as S

    base = os.path.join(work, "clips")
    shutil.rmtree(base, ignore_errors=True)
    prefix = F.lit(f"s{seed}_")
    gen = dict(n=size["n"], n_shards=size["shards"], max_samples=size["samples"])
    for table, df, sub in (
        ("clips_src", S.clips(spark, **gen), "clips_b"),
        ("ref_src", S.clips_ref(spark, **gen), "ref_b"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            df.withColumn("clip_id", F.concat(prefix, F.col("clip_id")))
            .repartition(bench.N_BUCKETS, "clip_id")
            .write.bucketBy(bench.N_BUCKETS, "clip_id")
            .sortBy("clip_id")
            .option("path", os.path.join(base, sub))
            .mode("overwrite")
            .saveAsTable(table)
        )
    clips, ref = spark.table("clips_src"), spark.table("ref_src")
    ok = clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
    baseline = D.baseline_from(
        ok, numeric_cols={"dur_ms": (0.0, 1001.0, 20)}, categorical_cols=["sr_hz"]
    ).cache()
    baseline.count()
    return clips, ref, baseline, M.dir_bytes(base)


def verdict_rows(rep, with_fingerprint: bool = False) -> list:
    cols = ["shard", "rows", "violations", "passed"] + (
        ["fingerprint"] if with_fingerprint else []
    )
    return sorted(tuple(r) for r in rep.shard_verdicts.select(*cols).collect())


class Runner:
    """One pipeline run per call; checkpoints live under ``work``."""

    def __init__(self, spark, work: str, clips, ref, baseline):
        self.spark, self.work = spark, work
        self.clips, self.ref, self.baseline = clips, ref, baseline

    def run(self, clips=None, ckpt: str | None = None):
        from valor_spark.plans.pipeline import run_pipeline

        ckpt = ckpt or tempfile.mkdtemp(prefix="ckpt_", dir=self.work)
        t0 = time.perf_counter()
        rep = run_pipeline(
            self.spark, clips if clips is not None else self.clips, self.ref,
            self.baseline, checkpoint_dir=ckpt,
        )
        n_vio = rep.violations.count()
        rep.shard_verdicts.count()
        return time.perf_counter() - t0, rep, n_vio, ckpt


def warm_up(spark, work: str, state) -> None:
    """The untimed pipeline run that ends set-up.  The first run in a process
    pays JIT and first-use costs (2-4 s more than the runs after it on the
    4-core box), so set-up carries them and wall_s measures warm runs."""
    _, rep, _, ckpt = Runner(spark, work, *state).run()
    rep.release()
    shutil.rmtree(ckpt, ignore_errors=True)


def check(exp: dict, n_vio: int, verdicts: list) -> bool:
    return n_vio == exp["violations"] and [list(v) for v in verdicts] == exp["verdicts"]


def measure(spark, work: str, seconds: float, size: dict, state) -> dict:
    """Untraced iterations; returns walls plus the output-check tally."""
    runner = Runner(spark, work, *state)
    exp = expected(size)
    walls, attempted, failed = [], 0, 0
    t_start = time.perf_counter()
    while attempted < MIN_ITERS or time.perf_counter() - t_start < seconds:
        attempted += 1
        try:
            wall, rep, n_vio, ckpt = runner.run()
        except Exception as exc:  # noqa: BLE001 - a failed run is counted, not fatal
            M.log(f"clips_fresh iteration failed: {exc!r}")
            failed += 1
            continue
        walls.append(wall)
        failed += 0 if check(exp, n_vio, verdict_rows(rep)) else 1
        rep.release()
        shutil.rmtree(ckpt, ignore_errors=True)
    return {"walls": walls, "attempted": attempted, "failed": failed}


# ---- traced run ------------------------------------------------------------
def install(tracer: Tracer) -> None:
    """Wrap the layers the clips pipeline calls into."""
    import inspect

    from valor_spark.operators import audio, constraints, drift
    from valor_spark.plans import checkpoint, engine, pipeline

    def stage_phase(fn):
        sig = inspect.signature(fn)

        def before(args, kwargs):
            stage = sig.bind(*args, **kwargs).arguments.get("stage")
            if stage:
                tracer.phase(f"pipeline.{stage}", within="pipeline.run")
        return before

    man = checkpoint.RunManifest
    for attr, name in (
        ("shard_rows_fingerprints", "checkpoint.manifest"),
        ("stage_done_for", "checkpoint.manifest"),
        ("mark_global", "checkpoint.manifest"),
        ("append", "checkpoint.manifest"),
        ("records", "checkpoint.manifest"),
        ("write_violations", "checkpoint.write"),
        ("read_violations", "checkpoint.read"),
    ):
        after = tracer.snapshot if attr == "write_violations" else None
        tracer.wrap(man, attr, name, before=stage_phase(getattr(man, attr)), after=after)
    tracer.wrap(pipeline, "run_pipeline", "pipeline.run")
    tracer.wrap(
        pipeline, "shard_fingerprint_frame", "pipeline.shard_fingerprint_frame",
        before=lambda a, k: tracer.phase("pipeline.intake", within="pipeline.run"),
    )
    tracer.wrap(
        pipeline, "clips_row_rules", "pipeline.clips_row_rules",
        before=lambda a, k: tracer.phase("pipeline.row_rules", within="pipeline.run"),
    )
    tracer.wrap(
        drift, "drift_report", "drift.drift_report",
        before=lambda a, k: tracer.phase("pipeline.drift", within="pipeline.run"),
        after=lambda: tracer.phase("pipeline.verdicts", within="pipeline.run"),
    )
    tracer.wrap(engine, "validate", "engine.validate")
    tracer.wrap(engine.ValidationResult, "violations", "engine.violations")
    for module, layer in ((constraints, "constraints"), (audio, "audio"), (drift, "drift")):
        tracer.wrap_module(module, layer)


def pipeline_metrics(tracer: Tracer, root: int, rep, wall: float, cores: int,
                     n_shards: int) -> dict:
    spans = tracer.subtree(root)

    def phase(stage: str) -> list:
        return [s for s in spans if s.phase and s.name == f"pipeline.{stage}"]

    out = {f"pipeline.{k}.s": rep.stage_wall_s.get(k, 0.0)
           for k in ("row_rules", "constraints", "audio", "drift", "verdicts")}
    out.update(M.pipeline_layer(spans, wall))
    out.update(M.checkpoint_layer(tracer, spans, rep, n_shards))
    out.update(M.audio_layer(tracer, phase("audio")))
    out.update(M.constraints_layer(tracer, phase("constraints")))
    out.update(M.engine_layer(tracer, phase("row_rules")))
    out.update(M.drift_layer(tracer, phase("drift")))
    out.update(M.spark_layer(tracer, spans, wall, cores))
    return out


def traced(spark, work: str, seed: int, size: dict, state, cores: int) -> dict:
    """A traced fresh run between two untraced ones, then one traced resume
    run over all shards against a prime checkpoint of all but a few."""
    from pyspark.sql import functions as F

    runner = Runner(spark, work, *state)
    exp = expected(size)
    tracer = Tracer(spark)

    def traced_run(ckpt: str | None = None):
        install(tracer)
        root = len(tracer.spans)
        with tracer.span("iteration"):
            wall, rep, n_vio, ckpt = runner.run(ckpt=ckpt)
        tracer.uninstall()
        tracer.collect()
        return wall, rep, n_vio, ckpt, pipeline_metrics(
            tracer, root, rep, wall, cores, size["shards"])

    # untraced runs on both sides of the traced one, so the warm-up trend
    # from one run to the next cancels out of trace_overhead_frac
    failed = 0
    fresh = {"traced": [], "plain": []}
    for name in ("plain", "traced", "plain"):
        if name == "traced":
            wall, rep, n_vio, ckpt, values = traced_run()
        else:
            wall, rep, n_vio, ckpt = runner.run()
        fresh[name].append(wall)
        verdicts = verdict_rows(rep, with_fingerprint=True)
        failed += 0 if check(exp, n_vio, [v[:4] for v in verdicts]) else 1
        rep.release()
        shutil.rmtree(ckpt, ignore_errors=True)

    left_out = random.Random(seed).sample(range(size["shards"]), RESUME_LEFT_OUT)
    _, rep, _, prime = runner.run(clips=state[0].filter(~F.col("shard").isin(left_out)))
    rep.release()
    ckpt = os.path.join(work, "ckpt_resume")
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.copytree(prime, ckpt)
    wall, rep, _, _, m = traced_run(ckpt)
    failed += 0 if verdict_rows(rep, with_fingerprint=True) == verdicts else 1
    rep.release()
    for path in (prime, ckpt):
        shutil.rmtree(path, ignore_errors=True)
    tracer.dump(os.path.join(work, "spans_clips_fresh.jsonl"))

    values.update({
        "resume.wall_s": wall,
        "resume.audio.s": m["pipeline.audio.s"],
        "resume.audio.rows_in": m["audio.rows_in"],
        "resume.audio.scan_rows": m["audio.scan_rows"],
        "resume.constraints.s": m["pipeline.constraints.s"],
        "resume.checkpoint.read.s": m["checkpoint.read.s"],
        "resume.checkpoint.shards_skipped_frac": m["checkpoint.shards_skipped_frac"],
        "resume.jobs": m["pipeline.jobs"],
        "pipeline.clips_per_s": size["n"] / fresh["traced"][0],
        "trace_overhead_frac": fresh["traced"][0] / statistics.mean(fresh["plain"]) - 1.0,
    })
    return {"values": values, "attempted": 4, "failed": failed}
