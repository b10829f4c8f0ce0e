"""Traced-run instrumentation, installed from the benchmark's own files.

At runtime the public functions of the engine modules the benchmark
measures are wrapped with timing shims (no source edits); each call
becomes a span (name, start, end, parent, op id) kept in memory and
written out when the run ends. Spark's own counters are read per op from
``SparkContext.statusTracker()`` and from the SQL status store, whose
byte metrics reuse the accumulator-dedup logic of ``tools/shuffle_audit``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

#: Span name → the function or methods the shim wraps. Names are
#: ``<layer>.<what>``; a per-layer metric over a span is named after it
#: plus a unit suffix (``dml.merge`` → ``dml.merge_ms``).
CLASS_SHIMS = {
    "catalog.register": ("mesin_spark.catalog", "Catalog", ("register_dir",)),
    "context.execute": ("mesin_spark.context", "ExecutionContext", ("execute",)),
    "dml.insert": ("mesin_spark.dml", "ManagedTable", ("insert_values", "insert_select")),
    "dml.update": ("mesin_spark.dml", "ManagedTable", ("update",)),
    "dml.delete": ("mesin_spark.dml", "ManagedTable", ("delete",)),
    "dml.merge": ("mesin_spark.dml", "ManagedTable", ("merge",)),
}
FUNCTION_SHIMS = {
    "session.start": ("mesin_spark.session", "get_session"),
    "context.normalize": ("mesin_spark.context", "normalize_dialect"),
    "sql_dml.dispatch": ("mesin_spark.sql_dml", "dispatch"),
}
#: Every public function defined in these modules becomes an ``ext.<m>`` span.
EXT_MODULES = ("dedup", "similarity", "text", "pipeline")
SPAN_NAMES = frozenset(CLASS_SHIMS) | frozenset(FUNCTION_SHIMS) | {f"ext.{m}" for m in EXT_MODULES}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Span recorder plus the shims that feed it.

    Spans nest by call order on the single client thread, so a span's
    children never overlap and its self time is its duration minus the sum
    of its direct children's durations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        #: seconds of shim bookkeeping inside timed calls, and of the
        #: per-op counter reads between ops: the in-run tracing overhead
        self.own_s = 0.0
        self.counters_s = 0.0

    # -- spans ---------------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, self.op))
        self._stack.append(idx)
        t1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            sp = self.spans[idx]
            sp.start, sp.end = t1, t2
            self.own_s += (t1 - t0) + (time.perf_counter() - t2)

    def _shim(self, orig, name: str):
        @functools.wraps(orig)
        def shim(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        return shim

    def install(self) -> None:
        """Wrap every shim target, for the rest of the process. Call before
        the engine is first used.

        A module-level function is replaced in every engine module that
        holds it, not only where it is defined: ``from mesin_spark.ext.text
        import tokens`` in ``ext.dedup`` then calls the shim too, so the
        attribution does not depend on which module was imported first.
        Modules imported later read the shim from the defining module."""
        import importlib

        shims = {}  # id(original function) -> shim
        for name, (mod, attr) in FUNCTION_SHIMS.items():
            fn = getattr(importlib.import_module(mod), attr)
            shims[id(fn)] = self._shim(fn, name)
        for short in EXT_MODULES:
            mod = importlib.import_module(f"mesin_spark.ext.{short}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                shims[id(fn)] = self._shim(fn, f"ext.{short}")
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("mesin_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in shims and inspect.isfunction(value):
                    setattr(mod, attr, shims[id(value)])
        for name, (mod, cls, attrs) in CLASS_SHIMS.items():
            owner = getattr(importlib.import_module(mod), cls)
            for attr in attrs:
                setattr(owner, attr, self._shim(getattr(owner, attr), name))

    # -- aggregation -----------------------------------------------------------
    def self_times(self) -> list[float]:
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def per_op(self, self_time_prefixes: tuple[str, ...]) -> dict[int, dict[str, float]]:
        """op id → span name → seconds. Names starting with one of
        ``self_time_prefixes`` sum self time, the others total time."""
        own = self.self_times()
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s, o in zip(self.spans, own):
            if s.op is None:
                continue
            use_self = s.name.startswith(self_time_prefixes)
            out[s.op][s.name] += o if use_self else s.end - s.start
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op}) + "\n")


class SparkCounters:
    """Per-op Spark counters: jobs/stages/tasks from the status tracker
    (each op runs under its own job group) and scan/shuffle/spill bytes,
    files read and scan rows from the SQL status store."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._first_exec = 0
        self._group = ""

    def _next_exec_id(self) -> int:
        execs = self.store.executionsList()
        return execs.apply(execs.size() - 1).executionId() + 1 if execs.size() else 0

    def begin(self, op: int) -> None:
        c0 = time.perf_counter()
        self._group = f"perfbench-op-{op}"
        self._first_exec = self._next_exec_id()
        self.sc.setJobGroup(self._group, self._group)
        self.tracer.counters_s += time.perf_counter() - c0

    def end(self) -> dict[str, float]:
        c0 = time.perf_counter()
        try:
            return self._read()
        finally:
            self.tracer.counters_s += time.perf_counter() - c0

    def _read(self) -> dict[str, float]:
        from tools.shuffle_audit import execution_metric_totals

        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        totals = execution_metric_totals(self.store, self._first_exec)
        files, rows = self._scan_counts()
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "scan_bytes": totals["scan"],
            "shuffle_bytes": totals["shuffle"],
            "spill_bytes": totals["spill"],
            "files_read": files,
            "scan_rows": rows,
        }

    def _scan_counts(self) -> tuple[float, float]:
        """Files read and rows output by scan nodes, over the op's SQL
        executions. Each accumulator is counted once (the same dedup rule
        as ``execution_metric_totals``: a reused plan node lists it again)."""
        seen: dict[int, tuple[str, float]] = {}
        execs = self.store.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid < self._first_exec:
                continue
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            it = nodes.iterator()
            while it.hasNext():
                node = it.next()
                if not node.name().startswith("Scan"):
                    continue
                mit = node.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    kind = {"number of files read": "files", "number of output rows": "rows"}.get(m.name())
                    v = values.get(m.accumulatorId())
                    if kind is None or not v.isDefined():
                        continue
                    n = float(v.get().split("\n")[0].replace(",", "").split()[0] or 0)
                    seen[m.accumulatorId()] = (kind, max(n, seen.get(m.accumulatorId(), (kind, 0.0))[1]))
        files = sum(n for k, n in seen.values() if k == "files")
        rows = sum(n for k, n in seen.values() if k == "rows")
        return files, rows
