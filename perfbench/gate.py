"""``gate_leaves``: the ``bench.HEADLINE`` leaves of ``__spark_entry__``.

The inputs are the reference tables in ``perfbench/gate_tables`` (the
program's deterministic scale-0.01 tables, committed as they are).  Set-up
builds the oracle fixtures through ``oracle_sql()`` and reads every table
once, the neutral warm-up ``bench.run_queries`` uses.  A sweep
runs every leaf once, in an order the seed shuffles, and collects its result
with ``toPandas()``.  After the sweep each result is compared with its
DuckDB ``oracle_sql()`` twin through ``tools/selfcheck.py``'s canonical hash;
the oracle's side is computed by the first run in a checkout and cached.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import metrics as M
from spans import Tracer

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gate_tables")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SMOKE_LEAVES = ["uniq_custkeys", "drift_all", "winnow_pairs"]
MIN_SWEEPS = 1
OVERHEAD_LEAVES = 8


def leaves(seed: int, smoke: bool) -> list[str]:
    names = list(SMOKE_LEAVES if smoke else M.LEAVES)
    random.Random(seed).shuffle(names)
    return names


def setup(spark, work: str):
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(TABLES_DIR, f"{t}.parquet")
        spark.read.parquet(path).limit(1).count()
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return {"dir": TABLES_DIR, "oracles": oracles, "con": con,
            "bytes": M.dir_bytes(TABLES_DIR), "work": work}


def answer(pdf) -> list:
    """``tools/selfcheck.py``'s comparison key: columns, rows, canonical hash
    (raises TypeError on unsortable cells)."""
    import selfcheck

    return [sorted(map(str, pdf.columns)), len(pdf),
            selfcheck.value_hash(selfcheck.canon_lines(pdf))]


def oracle_answer(state: dict, name: str) -> list:
    """The DuckDB oracle's key for ``name``, cached under ``.work`` by its SQL
    text: within one checkout the SQL and the tables it reads are fixed, so
    only the first run pays for the oracle queries."""
    sql = state["oracles"][name]
    path = os.path.join(state["work"], "oracle",
                        hashlib.sha256(sql.encode()).hexdigest() + ".json")
    if not os.path.exists(path):
        key = answer(state["con"].execute(sql).df())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(key, fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def oracle_ok(state: dict, name: str, pdf) -> bool:
    try:
        return answer(pdf) == oracle_answer(state, name)
    except TypeError:
        return False


def sweep(spark, state: dict, order: list[str], tracer: Tracer | None = None) -> dict:
    """One pass over ``order``; per-leaf walls and results (None = raised)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    walls, results, roots = {}, {}, {}
    for name in order:
        t0 = time.perf_counter()
        try:
            if tracer is None:
                results[name] = qs[name](spark, state["dir"]).toPandas()
            else:
                roots[name] = len(tracer.spans)
                with tracer.span(f"leaf.{name}"):
                    with tracer.span("leaf.build"):
                        df = qs[name](spark, state["dir"])
                    results[name] = df.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed leaf is counted, not fatal
            M.log(f"gate leaf {name} failed: {exc!r}")
            results[name] = None
        walls[name] = time.perf_counter() - t0
        if tracer is not None:
            tracer.collect()
    return {"walls": walls, "results": results, "roots": roots}


def failures(state: dict, results: dict) -> int:
    bad = 0
    for name, pdf in results.items():
        ok = pdf is not None and oracle_ok(state, name, pdf)
        if not ok:
            M.log(f"gate leaf {name}: output does not match its oracle")
        bad += 0 if ok else 1
    return bad


def measure(spark, seed: int, seconds: float, smoke: bool, state: dict) -> dict:
    order = leaves(seed, smoke)
    walls, leaf_walls, attempted, failed = [], [], 0, 0
    t_start = time.perf_counter()
    while len(walls) < MIN_SWEEPS or time.perf_counter() - t_start < seconds:
        out = sweep(spark, state, order)
        walls.append(sum(out["walls"].values()))
        leaf_walls.append(out["walls"])
        attempted += len(order)
        failed += failures(state, out["results"])
    return {"walls": walls, "attempted": attempted, "failed": failed,
            "samples": {"leaf_walls_s": leaf_walls}}


# ---- traced run ------------------------------------------------------------
LAYER_MODULES = {
    "audio": "valor_spark.operators.audio",
    "constraints": "valor_spark.operators.constraints",
    "drift": "valor_spark.operators.drift",
    "engine": "valor_spark.plans.engine",
    "dedup": "valor_spark.operators.dedup",
    "similarity": "valor_spark.operators.similarity",
    "text": "valor_spark.operators.text",
    "temporal": "valor_spark.operators.temporal",
}
# column statistics are the constraints layer's job even where the leaf
# inlines them instead of calling into operators.constraints
CONSTRAINT_LEAVES = {"col_stats"}


def install(tracer: Tracer) -> None:
    import importlib

    from valor_spark.plans import engine

    tracer.wrap(engine, "validate", "engine.validate")
    tracer.wrap(engine.ValidationResult, "violations", "engine.violations")
    for layer, module in LAYER_MODULES.items():
        tracer.wrap_module(importlib.import_module(module), layer)


def traced(spark, seed: int, smoke: bool, state: dict, cores: int) -> dict:
    """The measured sweep, traced; then the first ``OVERHEAD_LEAVES`` leaves
    again, warm, untraced and traced in alternating order, for the tracing
    overhead."""
    order = leaves(seed, smoke)
    tracer = Tracer(spark)
    install(tracer)
    out = sweep(spark, state, order, tracer)
    tracer.uninstall()
    sweep_wall = sum(out["walls"].values())
    plain = {"walls": {}, "results": {}}
    again = {"walls": {}, "results": {}}
    for i, name in enumerate(order[:OVERHEAD_LEAVES]):
        for on in ((False, True) if i % 2 == 0 else (True, False)):
            if on:
                install(tracer)
            one = sweep(spark, state, [name], tracer if on else None)
            tracer.uninstall()
            for key in ("walls", "results"):
                (again if on else plain)[key].update(one[key])

    roots = {name: tracer.spans[idx] for name, idx in out["roots"].items()}
    entered: dict[str, list] = {layer: [] for layer in LAYER_MODULES}
    for name, root in roots.items():
        for s in tracer.subtree(root.idx):
            layer = s.name.split(".")[0]
            if layer in entered and root not in entered[layer]:
                entered[layer].append(root)
    entered["constraints"] += [r for n, r in roots.items()
                               if n in CONSTRAINT_LEAVES and r not in entered["constraints"]]

    values = {}
    for name, root in roots.items():
        build = [s for s in tracer.subtree(root.idx) if s.name == "leaf.build"]
        values[f"leaf.{name}.s"] = out["walls"][name]
        values[f"leaf.{name}.build_jobs"] = len(
            [j for s in M.flatten(tracer, build) for j in s.jobs])
    values.update(M.audio_layer(tracer, entered["audio"]))
    values.update(M.constraints_layer(tracer, entered["constraints"]))
    values.update(M.engine_layer(tracer, entered["engine"]))
    values.update(M.drift_layer(tracer, entered["drift"]))
    values.update(M.spark_layer(tracer, M.flatten(tracer, list(roots.values())),
                                sweep_wall, cores))
    values["trace_overhead_frac"] = (
        sum(again["walls"].values()) / sum(plain["walls"].values()) - 1.0)
    tracer.dump(os.path.join(state["work"], "spans_gate_leaves.jsonl"))
    runs = (out, plain, again)
    failed = sum(failures(state, s["results"]) for s in runs)
    return {"values": values, "attempted": sum(len(s["results"]) for s in runs),
            "failed": failed}

