"""Spans around calls into valor_spark, attributed to Spark work by job group.

The tracer lives entirely in the benchmark: it replaces public functions of
the traced modules with thin wrappers (undone by :meth:`Tracer.uninstall`),
so the program itself carries no instrumentation.  Each span records name,
start, end and parent, and runs under its own Spark job group.  After a unit
of work the tracer reads, for every span, from Spark's own status store:

* the jobs of its group (``SparkStatusTracker.getJobIdsForGroup`` and
  ``AppStatusStore.job``) with their stages (``AppStatusStore.lastStageAttempt``);
* the SQL executions whose description is the group id, with every plan
  node's metrics (``SQLAppStatusStore.planGraph`` and ``executionMetrics``).

SQL metric values come from the live accumulator while its plan is still
referenced (exact), else from the status store's aggregated string.  A
``localCheckpoint`` registers an execution whose plan only runs inside a
later job; its metrics exist only on the live accumulators.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# stage fields read from the status store, in StageData accessor names
STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "numCompleteTasks",
)

# the SQL plan metrics the per-layer formulas use; others are not read
SQL_METRICS = frozenset({
    "number of output rows", "number of written files",
    "time to run Python workers", "time to start Python workers",
    "time to initialize Python workers", "data sent to Python workers",
})

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


@dataclass
class Stage:
    stage_id: int
    attempt: int
    metrics: dict


@dataclass
class Execution:
    exec_id: int
    # (node id, node name, {metric name: value}); edges child -> parent
    nodes: list
    edges: list


@dataclass
class Span:
    name: str
    idx: int
    start: float
    parent: int | None
    group: str
    phase: bool = False
    end: float | None = None
    codegen_ns: int = 0
    jobs: list = field(default_factory=list)  # (job id, submit s, end s, [stage ids])
    execs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


def _seq(java_seq) -> list:
    it = java_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _parse_metric(text: str, metric_type: str) -> int:
    """Value of a status-store metric string: ``1,234`` for sums, else the
    total of ``"total (min, med, max ...)\\n9.5 s (...)"`` or ``"32 ms"``."""
    if metric_type == "sum":
        return int(text.replace(",", "").split()[0])
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0
    value = float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)
    return int(value * 1e6) if metric_type == "nsTiming" else int(value)


class Tracer:
    """Span recorder plus status-store reader for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._accums = jvm.org.apache.spark.util.AccumulatorContext
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._collected = 0
        self._execs_seen = self._sql_store.executionsCount()
        self._pending: list[tuple[str, Execution]] = []
        self._keep: list = []
        self._stages: dict[int, Stage] = {}

    # ---- spans --------------------------------------------------------
    def _open(self, name: str, phase: bool = False) -> int:
        idx = len(self.spans)
        group = f"pb{idx}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, idx, time.perf_counter(), parent, group, phase))
        self.spans[idx].codegen_ns = -self._codegen.compileTime()
        self._stack.append(idx)
        self.sc.setJobGroup(group, group)
        return idx

    def _close(self, idx: int) -> None:
        while self._stack and self._stack[-1] != idx:
            self._close(self._stack[-1])
        self._stack.pop()
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.codegen_ns += self._codegen.compileTime()
        if self._stack:
            group = self.spans[self._stack[-1]].group
            self.sc.setJobGroup(group, group)
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)

    def phase(self, name: str, within: str) -> None:
        """Start phase ``name`` of the innermost ``within`` span, ending its
        previous phase.  A no-op anywhere else, so a phase mark reached
        from inside another wrapped call does not split that call."""
        if not self._stack:
            return
        top = self.spans[self._stack[-1]]
        if top.phase:
            if top.name == name:
                return
            self._close(self._stack[-1])
            top = self.spans[self._stack[-1]]
        if top.name == within:
            self._open(name, phase=True)

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    # ---- wrapping -----------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` (and every module-level alias of the same
        function under ``valor_spark`` and ``__spark_entry__``) with a span
        wrapper.  ``before(args, kwargs)`` / ``after()`` hook phase marks."""
        original = getattr(owner, attr)
        tracer = self
        layer = name.split(".")[0]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            cur = tracer.current()
            if cur is not None and not cur.phase and cur.name.split(".")[0] == layer:
                return original(*args, **kwargs)
            idx = tracer._open(name)
            try:
                result = original(*args, **kwargs)
                if hasattr(result, "_jdf"):
                    # keeps the plan, and so its SQL metric accumulators,
                    # reachable until the next collect()
                    tracer._keep.append(result)
                return result
            finally:
                tracer._close(idx)
                if after is not None:
                    after()

        targets = [(owner, attr)]
        if not inspect.isclass(owner):
            for mod_name, mod in list(sys.modules.items()):
                if mod is owner or not (
                    mod_name.startswith("valor_spark") or mod_name == "__spark_entry__"
                ):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is original:
                        targets.append((mod, key))
        wrapper.traced_original = original
        for obj, key in targets:
            self._patches.append((obj, key, original))
            setattr(obj, key, wrapper)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module`` as ``layer.<fn>``.
        Calls nested inside a span of the same layer are not re-wrapped."""
        for fname, fn in list(vars(module).items()):
            if fname.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__ or hasattr(fn, "traced_original"):
                continue
            self.wrap(module, fname, f"{layer}.{fname}")

    def uninstall(self) -> None:
        for obj, key, original in reversed(self._patches):
            setattr(obj, key, original)
        self._patches.clear()

    # ---- status store -------------------------------------------------
    def snapshot(self) -> None:
        """Read the SQL executions registered since the last read, while
        the plans of lazily executed ones are still referenced."""
        self._jsc.listenerBus().waitUntilEmpty()
        total = self._sql_store.executionsCount()
        if total > self._execs_seen:
            groups = {s.group for s in self.spans}
            for ex in _seq(self._sql_store.executionsList(self._execs_seen, total)):
                group = ex.description()
                if group in groups:
                    self._pending.append((group, self._read_execution(ex.executionId())))
            self._execs_seen = total

    def collect(self) -> None:
        """Attach jobs, stages and SQL executions to every span closed since
        the last call.  Call after a unit of work, outside timed regions."""
        self.snapshot()
        tracker = self._jsc.statusTracker()
        by_group = {}
        for idx in range(self._collected, len(self.spans)):
            span = self.spans[idx]
            by_group[span.group] = span
            for job_id in tracker.getJobIdsForGroup(span.group):
                job = self._store.job(int(job_id))
                sub, end = job.submissionTime(), job.completionTime()
                stage_ids = [int(s) for s in _seq(job.stageIds())]
                span.jobs.append((
                    int(job_id),
                    sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    end.get().getTime() / 1000.0 if end.isDefined() else 0.0,
                    stage_ids,
                ))
                for sid in stage_ids:
                    self._read_stage(sid)
        self._collected = len(self.spans)
        for group, execution in self._pending:
            if group in by_group:
                by_group[group].execs.append(execution)
        self._pending.clear()
        self._keep.clear()

    def _read_stage(self, sid: int) -> None:
        if sid in self._stages:
            return
        try:
            data = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted or never submitted
            return
        if str(data.status()) != "COMPLETE":
            return
        self._stages[sid] = Stage(
            sid, int(data.attemptId()),
            {f: int(getattr(data, f)()) for f in STAGE_FIELDS},
        )

    def _read_execution(self, exec_id: int) -> Execution:
        graph = self._sql_store.planGraph(exec_id)
        values = self._sql_store.executionMetrics(exec_id)
        nodes = []
        for node in _seq(graph.allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                if m.name() not in SQL_METRICS:
                    continue
                acc = self._accums.get(m.accumulatorId())
                if acc.isDefined():
                    value = max(0, int(acc.get().value()))
                else:
                    text = values.get(m.accumulatorId())
                    if not text.isDefined():
                        continue
                    value = _parse_metric(str(text.get()), m.metricType())
                metrics[m.name()] = metrics.get(m.name(), 0) + value
            nodes.append((int(node.id()), node.name(), metrics))
        edges = [(int(e.fromId()), int(e.toId())) for e in _seq(graph.edges())]
        return Execution(exec_id, nodes, edges)

    def stage(self, sid: int) -> Stage | None:
        return self._stages.get(sid)

    def task_durations(self, stage: Stage) -> list[float]:
        try:
            tasks = self._store.taskList(stage.stage_id, stage.attempt, 1 << 20)
        except Exception:  # noqa: BLE001 - stage evicted from the status store
            return []
        out = []
        for t in _seq(tasks):
            d = t.duration()
            if d.isDefined():
                out.append(float(d.get()))
        return out

    # ---- span-tree queries --------------------------------------------
    def subtree(self, root: int) -> list[Span]:
        """``root`` and every span opened under it (spans are appended in
        open order, so descendants follow their ancestor)."""
        out = [self.spans[root]]
        inside = {root}
        for idx in range(root + 1, len(self.spans)):
            if self.spans[idx].parent in inside:
                inside.add(idx)
                out.append(self.spans[idx])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "group": s.group,
                    "jobs": [j[0] for j in s.jobs],
                    "execs": [e.exec_id for e in s.execs],
                }) + "\n")


# ---- aggregation over spans ----------------------------------------------
def jobs_of(spans: list[Span]) -> list[tuple]:
    return [j for s in spans for j in s.jobs]


def stages_of(tracer: Tracer, spans: list[Span]) -> list[Stage]:
    seen: dict[int, Stage] = {}
    for _, _, _, sids in jobs_of(spans):
        for sid in sids:
            st = tracer.stage(sid)
            if st is not None:
                seen[sid] = st
    return list(seen.values())


def stage_sum(stages: list[Stage], key: str) -> int:
    return sum(s.metrics[key] for s in stages)


def busy_union(jobs: list[tuple]) -> float:
    """Seconds covered by at least one job interval."""
    intervals = sorted((a, b) for _, a, b, _ in jobs if b >= a > 0)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in intervals:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def node_metric(spans: list[Span], node_pred, metric: str) -> int:
    return sum(
        m.get(metric, 0)
        for s in spans for ex in s.execs for _, name, m in ex.nodes
        if node_pred(name)
    )


def node_count(spans: list[Span], node_pred) -> int:
    return sum(
        1 for s in spans for ex in s.execs for _, name, _ in ex.nodes if node_pred(name)
    )


def rows_into(spans: list[Span], node_pred) -> int:
    """Rows flowing into matching nodes: the ``number of output rows`` of
    the nearest descendant that reports it, along each input edge."""
    total = 0
    for s in spans:
        for ex in s.execs:
            by_id = {nid: (name, m) for nid, name, m in ex.nodes}
            children: dict[int, list[int]] = {}
            for child, parent in ex.edges:
                children.setdefault(parent, []).append(child)
            for nid, name, _ in ex.nodes:
                if not node_pred(name):
                    continue
                todo = list(children.get(nid, []))
                while todo:
                    c = todo.pop()
                    cm = by_id.get(c, ("", {}))[1]
                    if "number of output rows" in cm:
                        total += cm["number of output rows"]
                    else:
                        todo.extend(children.get(c, []))
    return total
