"""Spans around the benchmark's calls into the engine, each charged with
the Spark work of its own job group.

A span records name, layer (the engine module called), start, end, parent
and run id. Spans stay in memory; the caller writes them out when the run
ends. On close, a span reads the stage metrics of the jobs that ran under
its job group from Spark's status store. Nested spans set their own group,
so a parent is charged only for work its children did not claim. If the
status APIs are missing, the span records `stage_metrics: None` and the run
goes on.

With tracing off, `Tracer.call` is a plain call: no job groups, no spans,
and only the materialization the pass itself asks for.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: str
    name: str
    layer: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    metrics_s: float = 0.0  # tracing's own cost: reading stage metrics
    stage_metrics: dict | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


def _stage_metrics(sc, group: str) -> dict | None:
    """Sum the stage metrics of every job in `group`; None when Spark's
    status APIs are unavailable."""
    try:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        out = {
            "task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
            "stages": 0, "tasks": 0, "failed_tasks": 0,
            "max_task_s": 0.0, "median_task_s": 0.0,
        }
        stage_ids = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, empty)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_s"] += sd.executorRunTime() / 1e3
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["spill_mb"] += sd.diskBytesSpilled() / 2**20
                out["output_mb"] += sd.outputBytes() / 2**20
                tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
                times = [
                    tasks.apply(k).taskMetrics().get().executorRunTime() / 1e3
                    for k in range(tasks.size())
                    if tasks.apply(k).taskMetrics().isDefined()
                ]
                if times:
                    out["max_task_s"] += max(times)
                    out["median_task_s"] += statistics.median(times)
        return out
    except Exception:  # status store API moved: metrics absent, run goes on
        return None


class Tracer:
    """Opens spans when enabled; `call` is a plain call when disabled."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}-{len(self.spans)}", name=name, layer=layer,
            run_id=self.run_id, parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        prev = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
        sc.setJobGroup(s.id, f"{layer}.{name}", False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(_GROUP, prev[0])
            sc.setLocalProperty(_DESC, prev[1])
            s.stage_metrics = _stage_metrics(sc, s.id)
            s.metrics_s = time.perf_counter() - s.end
            if parent is not None:
                parent.child_s += s.wall_s + s.metrics_s

    def call(self, layer: str, fn, *args, out=None, **kwargs):
        """Call `fn`. `out` picks the DataFrames of the result that the pass
        materializes (persist + count) whether tracing or not. When tracing,
        the call runs in its own span and a DataFrame result is materialized
        there as well, so its work is charged to `layer`."""
        with self.span(layer, fn.__name__):
            res = fn(*args, **kwargs)
            if out is not None:
                dfs = out(res)
            elif self.enabled and isinstance(res, DataFrame):
                dfs = [res]
            else:
                dfs = []
            for df in dfs:
                df.persist().count()
        return res

    def reset(self) -> None:
        self.spans = []


class TracedCatalog:
    """A plans.catalog Catalog whose reads and writes go through
    `Tracer.call`, so the engine's own catalog calls (PageRank checkpoints,
    metrics appends) get `plans.catalog` spans too."""

    def __init__(self, catalog, tracer: Tracer):
        self._catalog = catalog
        self._tracer = tracer

    def __getattr__(self, name: str):
        attr = getattr(self._catalog, name)
        if name in ("read", "overwrite", "append"):
            return functools.partial(self._tracer.call, "plans.catalog", attr)
        return attr


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """Per-layer sums over `spans`: self time plus the span's own stage
    metrics (children set their own job groups, so nothing counts twice).
    The time spent reading stage metrics is charged to layer `trace`."""
    out: dict[str, dict] = {"trace": {"self_s": 0.0, "calls": 0}}
    for s in spans:
        t = out.setdefault(s.layer, {"self_s": 0.0, "calls": 0})
        t["self_s"] += s.self_s
        t["calls"] += 1
        out["trace"]["self_s"] += s.metrics_s
        for k, v in (s.stage_metrics or {}).items():
            t[k] = t.get(k, 0) + v
    return out
