"""Spans around calls into the engine's layers, and the counters read for them.

The tracer wraps public functions of the package from outside: it replaces
module attributes before ``lfb_data_warehouse_spark.plans`` is imported, so
``from ..operators.x import f`` inside the plans binds the wrapper. Each
span records (id, layer, name, start, end, parent, pass) in memory; while a
span is open, the Spark jobs its thread starts carry the span's own job
group, so jobs are attributed to the innermost span that launched them.
After a traced pass, :meth:`Tracer.collect` drains Spark's listener bus and
reads jobs from ``statusTracker()``, stage metrics from the app status
store, and SQL executions from the SQL status store.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import time

# (layer, module, functions to wrap; None = every public function)
WRAPPED = (
    ("session", "lfb_data_warehouse_spark.session", ("get_spark",)),
    ("sources", "lfb_data_warehouse_spark.sources.testdata", ("load_table",)),
    ("sources", "lfb_data_warehouse_spark.sources.io", ("write_parquet",)),
    ("operators", "lfb_data_warehouse_spark.operators.dedup", None),
    ("operators", "lfb_data_warehouse_spark.operators.graph", None),
    ("operators", "lfb_data_warehouse_spark.operators.similarity", None),
    ("operators", "lfb_data_warehouse_spark.operators.multimodal", None),
)


class Span:
    __slots__ = ("id", "layer", "name", "start", "end", "parent", "pass_id",
                 "children", "jobs", "group")

    def __init__(self, sid, layer, name, parent, pass_id):
        self.id, self.layer, self.name = sid, layer, name
        self.parent, self.pass_id = parent, pass_id
        self.start = time.time()
        self.end = None
        self.children: list[Span] = []
        self.jobs: list[int] = []  # jobs launched by this span itself
        self.group = f"perfbench-{sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def all_jobs(self) -> list[int]:
        out = list(self.jobs)
        for c in self.children:
            out.extend(c.all_jobs())
        return out

    def record(self) -> dict:
        return {"id": self.id, "layer": self.layer, "name": self.name,
                "start": self.start, "end": self.end,
                "parent": self.parent.id if self.parent else None,
                "pass": self.pass_id, "jobs": self.jobs}


class Tracer:
    """In-memory span recorder; recording is on only while ``enabled``."""

    def __init__(self):
        self.enabled = False
        self.pass_id = None
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # -- spans ---------------------------------------------------------
    def open(self, layer: str, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), layer, name, parent, self.pass_id)
        self.spans.append(span)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        if self.sc is not None:
            self.sc.setJobGroup(span.group, f"{layer}:{name}")
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        self._stack.pop()
        if self.sc is not None:
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(outer.group, f"{outer.layer}:{outer.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        span = self.open(layer, name)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Replace the public functions of the traced modules with
        wrappers. Must run before ``lfb_data_warehouse_spark.plans`` is
        imported."""
        import importlib
        import sys

        if "lfb_data_warehouse_spark.plans" in sys.modules:
            raise RuntimeError("install the tracer before importing plans")
        for layer, modname, names in WRAPPED:
            mod = importlib.import_module(modname)
            if names is None:
                names = [
                    n for n, f in vars(mod).items()
                    if not n.startswith("_") and inspect.isfunction(f)
                    and f.__module__ == modname
                ]
            for n in names:
                setattr(mod, n, self.wrap(layer, getattr(mod, n)))

    # -- counters ------------------------------------------------------
    def collect(self, spark, spans: list[Span]) -> None:
        """Fill ``span.jobs`` for every span; call after the pass ended."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = spark.sparkContext.statusTracker()
        for s in spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))

    @staticmethod
    def stage_metrics(spark, jobs: list[int]) -> dict:
        """Sum the app status store's stage data over the given jobs'
        stages that ran (skipped stages carry no tasks)."""
        sc = spark.sparkContext
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(("stages", "tasks", "task_s", "cpu_s", "gc_s",
                           "shuffle_write_mb", "spill_mb", "failed_tasks"), 0.0)
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += sd.numCompleteTasks()
            m["task_s"] += sd.executorRunTime() / 1e3
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            m["spill_mb"] += sd.diskBytesSpilled() / 1e6
            m["failed_tasks"] += sd.numFailedTasks()
        return m

    @staticmethod
    def sql_execution_times(spark, since: float) -> list[float]:
        """Submission times (epoch seconds) of SQL executions submitted
        at or after ``since``, from the SQL status store."""
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out = []
        it = execs.iterator()
        while it.hasNext():
            t = it.next().submissionTime() / 1e3
            if t >= since:
                out.append(t)
        return out

