"""Benchmark entry point for valor-spark.

Run from the repository root::

    python3 perfbench/run.py --workload clips_fresh --seed 1 --seconds 20 --trace 0

Workloads are listed in ``BENCHMARK.json`` (why each exists is recorded in
``perfbench/METHOD.json``).  ``--trace 0`` prints the end-to-end metrics
measured with no instrumentation; ``--trace 1`` prints the per-layer
metrics from a run that wraps the program's layers in spans.  ``--smoke``
shrinks every input so the harness can be checked in about a minute.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything the run
writes stays under ``perfbench/.work`` plus the program's own fixture cache.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = ("bench.py", "__spark_entry__.py", "tools/selfcheck.py", "valor_spark/__init__.py")
WORKLOADS = ("clips_fresh", "gate_leaves")
DRIVER_MEMORY = "2g"
# imported in every Python worker during set-up, so no timed task pays for it
WORKER_MODULES = (
    "numpy", "pandas", "pyarrow", "valor_spark.plans.engine",
    "valor_spark.operators.audio", "valor_spark.operators.audio_fp",
    "valor_spark.operators.bandwidth", "valor_spark.operators.dedup",
    "valor_spark.operators.defects", "valor_spark.operators.loudness",
    "valor_spark.operators.similarity", "valor_spark.operators.text",
)


def prepare_environment(work: str, traced: bool) -> None:
    """Keep Spark's scratch files, warehouse and temp files inside ``work``
    (``-XX:-UsePerfData`` stops the JVMs writing under the system temp dir).
    A traced run also keeps every job, stage and SQL execution in the
    status store, so the tracer never reads an evicted one."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if traced:
        confs += [f"{key}=100000" for key in (
            "spark.ui.retainedJobs", "spark.ui.retainedStages",
            "spark.sql.ui.retainedExecutions")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        ["--driver-memory", DRIVER_MEMORY]
        + [f"--conf {shlex.quote(c)}" for c in confs]
        + ["--driver-java-options", shlex.quote(f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
           "pyspark-shell"])
    sys.path[:0] = [ROOT]
    # selfcheck prepends its own checkout path at import; keep ours in charge
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__  # noqa: F401  (resolved from ROOT before selfcheck runs)
    import selfcheck  # noqa: F401
    sys.path[:] = saved


def warm_workers(spark) -> None:
    """Start the Python worker pool and import the operator modules in each
    worker, as bench.warm_python_workers does for numpy alone."""
    def imports(batches):
        import importlib

        for name in WORKER_MODULES:
            importlib.import_module(name)
        for pdf in batches:
            yield pdf.iloc[:0]

    n = spark.sparkContext.defaultParallelism * 4
    spark.range(n).repartition(n).mapInPandas(imports, "id long").write.format(
        "noop").mode("overwrite").save()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def environment(spark, cores: int, input_bytes: int) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "master": spark.sparkContext.master,
        "spark.task.cpus": conf.get("spark.task.cpus", "1"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() // (1 << 20),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "input_bytes": input_bytes,
    }


def run(args, work: str, cores: int) -> tuple[dict, dict]:
    import bench
    import clips
    import gate

    t0 = time.perf_counter()
    spark = bench.make_spark(f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        if args.workload == "clips_fresh":
            size = clips.SMOKE if args.smoke else clips.FULL
            *state, input_bytes = clips.setup(spark, work, args.seed, size)
            # the untimed pipeline run starts and warms the Python workers
            clips.warm_up(spark, work, state)
            setup_s = session_s + time.perf_counter() - t0
            if args.trace:
                out = clips.traced(spark, work, args.seed, size, state, cores)
            else:
                out = clips.measure(spark, work, args.seconds, size, state)
        else:
            state = gate.setup(spark, work)
            input_bytes = state["bytes"]
            warm_workers(spark)
            setup_s = session_s + time.perf_counter() - t0
            if args.trace:
                out = gate.traced(spark, args.seed, args.smoke, state, cores)
            else:
                out = gate.measure(spark, args.seed, args.seconds, args.smoke, state)
        env = environment(spark, cores, input_bytes)
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop(spark)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        values = dict.fromkeys(units, 0.0)
        values.update(out["values"])
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(out["walls"]),
            "jvm_peak_rss_mb": rss,
        }
        env["wall_samples_s"] = out["walls"]
        env.update(out.get("samples", {}))
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    return env, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, harness check only")
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing next to the benchmark: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    prepare_environment(work, bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    env, result = run(args, work, cores)
    print(json.dumps({"environment": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
