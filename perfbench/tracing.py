"""Layer-boundary spans and Spark status-store counters for traced runs.

``Tracer.install`` wraps the public functions of each layer by patching
module attributes: the layer's own modules, its package re-exports, and
the ``plans`` modules that bound a layer function at import.  Calls one
library module makes into another through a name bound at import are not
seen; the spans are the layer boundaries the registry crosses.

A span records its name, layer, start, end, parent and run id, plus the
Spark job counter at entry and exit, so jobs a call starts are counted
exactly, without waiting on the listener bus.  Spans stay in memory until
``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import time

PKG = "compss_python_spark"

LAYERS = {
    "sources": (f"{PKG}.sources",),
    "operators": (f"{PKG}.operators",),
    "functions": (f"{PKG}.functions",),
    "llm": (f"{PKG}.llm",),
    "ml": (f"{PKG}.ml",),
    "graph": (f"{PKG}.graph",),
    "caching": (f"{PKG}.caching", f"{PKG}.width"),
}

# Counters that must repeat exactly between passes over the same data.
EXACT = (
    "plans.eager_jobs",
    "sources.bytes_written_mb",
    "sources.files_written",
    "caching.leaked_rdds",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_mb",
    "exec.shuffle_joins",
    "exec.broadcast_joins",
)

MB = 1024 * 1024


def _modules(root: str):
    mod = importlib.import_module(root)
    yield mod
    for info in pkgutil.iter_modules(getattr(mod, "__path__", ())):
        yield importlib.import_module(f"{root}.{info.name}")


class Span:
    __slots__ = ("name", "layer", "kind", "start", "end", "parent", "jobs0", "jobs1", "path")

    def __init__(self, name, layer, kind, parent, jobs0):
        self.name, self.layer, self.kind, self.parent = name, layer, kind, parent
        self.start, self.end = time.perf_counter(), None
        self.jobs0, self.jobs1, self.path = jobs0, None, None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.on = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    # -- spans -------------------------------------------------------------
    def open(self, name: str, layer: str, kind: str = "") -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, layer, kind, parent, self.next_job_id())
        self._stack.append(len(self.spans))
        self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.jobs1 = self.next_job_id()
        span.end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = ""):
        if not self.on:
            yield None
            return
        span = self.open(name, layer, kind)
        try:
            yield span
        finally:
            self.close(span)

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, fn, layer: str):
        kind = ""
        path_arg = None
        if layer == "sources":
            kind = "write" if fn.__name__.startswith(("write", "compact")) else "read"
            params = inspect.signature(fn).parameters
            if kind == "write" and "path" in params:
                path_arg = list(params).index("path")
        name = f"{fn.__module__.removeprefix(PKG + '.')}.{fn.__qualname__}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            span = tracer.open(name, layer, kind)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)
                if path_arg is not None:
                    span.path = kwargs.get("path", args[path_arg] if len(args) > path_arg else None)

        return traced

    def install(self) -> int:
        """Patch every layer's public functions; returns how many."""
        wrapped: dict[int, object] = {}
        owners: dict[str, str] = {}
        for layer, roots in LAYERS.items():
            for root in roots:
                for mod in _modules(root):
                    owners[mod.__name__] = layer
        for layer, roots in LAYERS.items():
            for root in roots:
                for mod in _modules(root):
                    for attr, obj in list(vars(mod).items()):
                        if attr.startswith("_") or not inspect.isfunction(obj):
                            continue
                        if owners.get(obj.__module__) != layer:
                            continue
                        if id(obj) not in wrapped:
                            wrapped[id(obj)] = (obj, self._wrap(obj, layer))
                        setattr(mod, attr, wrapped[id(obj)][1])
        for mod in _modules(f"{PKG}.plans"):
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped and wrapped[id(obj)][0] is obj:
                    setattr(mod, attr, wrapped[id(obj)][1])
        return len(wrapped)

    # -- reduction ---------------------------------------------------------
    def layer_totals(self, lo: int, hi: int) -> dict[str, float]:
        """Per-layer counts and self times over spans ``[lo, hi)``.

        Self time and self jobs are a span's own minus what its child spans
        cover; a call counts for a layer when its parent is another layer."""
        spans = self.spans
        child_s = [0.0] * (hi - lo)
        child_jobs = [0] * (hi - lo)
        for s in spans[lo:hi]:
            if s.parent is not None and s.parent >= lo:
                child_s[s.parent - lo] += s.end - s.start
                child_jobs[s.parent - lo] += s.jobs1 - s.jobs0
        out: dict[str, float] = {"plans.build_s": 0.0, "plans.action_s": 0.0, "plans.eager_jobs": 0}
        for layer in LAYERS:
            out.update({f"{layer}.calls": 0, f"{layer}.call_s": 0.0, f"{layer}.eager_jobs": 0})
        out.update({"sources.read_call_s": 0.0, "sources.write_call_s": 0.0})

        def add(key, v):
            out[key] += v

        for i, s in enumerate(spans[lo:hi]):
            dur, jobs = s.end - s.start, s.jobs1 - s.jobs0
            if s.layer == "plans":
                if s.kind in ("build", "action"):
                    add(f"plans.{s.kind}_s", dur)
                if s.kind == "build":
                    add("plans.eager_jobs", jobs)
                continue
            if s.layer not in LAYERS:
                continue
            parent = spans[s.parent] if s.parent is not None else None
            if parent is None or parent.layer != s.layer:
                add(f"{s.layer}.calls", 1)
            add(f"{s.layer}.call_s", dur - child_s[i])
            add(f"{s.layer}.eager_jobs", jobs - child_jobs[i])
            if s.kind:
                add(f"sources.{s.kind}_call_s", dur - child_s[i])
        return out

    def written_paths(self, lo: int, hi: int) -> set[str]:
        return {s.path for s in self.spans[lo:hi] if s.path}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "run": self.run_id, "id": i, "parent": s.parent, "name": s.name,
                    "layer": s.layer, "start": s.start, "end": s.end,
                    "jobs": s.jobs1 - s.jobs0,
                }) + "\n")


class StatusStore:
    """Reads task, stage and job counters from Spark's status store, and
    join strategies from its SQL status store.

    The stores keep only the last ``spark.ui.retainedJobs`` jobs,
    ``retainedStages`` stages and ``spark.sql.ui.retainedExecutions`` SQL
    executions (1000 each), so callers diff by id: pass the range a pass
    started and read it before 1000 more are created."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._conv = self._gw.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = self._jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def _executions(self) -> list:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        return self._list(self.sql_store.executionsList())

    def last_execution_id(self) -> int:
        return max((e.executionId() for e in self._executions()), default=-1)

    def joins(self, exec_lo: int) -> dict:
        """Join operators in the final (post-AQE) physical plans of the SQL
        executions after ``exec_lo``: shuffled (sort-merge, shuffled hash)
        against broadcast (hash, nested loop)."""
        shuffled = broadcast = 0
        for e in self._executions():
            eid = e.executionId()
            if eid <= exec_lo:
                continue
            for node in self._list(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                if name.startswith(("SortMergeJoin", "ShuffledHashJoin")):
                    shuffled += 1
                elif name.startswith(("BroadcastHashJoin", "BroadcastNestedLoopJoin")):
                    broadcast += 1
        return {"exec.shuffle_joins": shuffled, "exec.broadcast_joins": broadcast}

    def counters(self, job_lo: int, job_hi: int, t0_ms: float, t1_ms: float, cores: int) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        stage_ids: set[int] = set()
        intervals = []
        missing = 0
        for jid in range(job_lo, job_hi):
            try:
                job = self.store.job(jid)
            except Exception:  # noqa: BLE001 — evicted from the store (or never posted)
                missing += 1
                continue
            stage_ids.update(self._list(job.stageIds()))
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
        gw = self._gw
        stages = self._list(self.store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        ))
        c = dict.fromkeys(
            ("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_w", "shuffle_r",
             "fetch_ms", "spill", "input"), 0
        )
        for st in stages:
            sid = st.stageId()
            if sid not in stage_ids or st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["run_ms"] += st.executorRunTime()
            c["cpu_ns"] += st.executorCpuTime()
            c["gc_ms"] += st.jvmGcTime()
            c["shuffle_w"] += st.shuffleWriteBytes()
            c["shuffle_r"] += st.shuffleReadBytes()
            c["fetch_ms"] += st.shuffleFetchWaitTime()
            c["spill"] += st.diskBytesSpilled()
            c["input"] += st.inputBytes()
        # Union of job intervals inside the pass: the rest is driver-only.
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(a, t0_ms), min(b, t1_ms)) for a, b in intervals):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        wall_s = (t1_ms - t0_ms) / 1000
        run_s = c["run_ms"] / 1000
        return {
            "exec.jobs": job_hi - job_lo,
            "exec.stages": c["stages"],
            "exec.tasks": c["tasks"],
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": c["cpu_ns"] / 1e9,
            "exec.gc_s": c["gc_ms"] / 1000,
            "exec.shuffle_write_mb": c["shuffle_w"] / MB,
            "exec.shuffle_read_mb": c["shuffle_r"] / MB,
            "exec.shuffle_fetch_wait_s": c["fetch_ms"] / 1000,
            "exec.spill_mb": c["spill"] / MB,
            "exec.input_mb": c["input"] / MB,
            "exec.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "exec.driver_only_s": max(0.0, wall_s - busy / 1000),
            "exec.missing_jobs": missing,
        }
