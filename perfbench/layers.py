"""Layer spans and the traced run's Spark counters.

:class:`Spans` times the benchmark's own calls into each package module
(``with spans("sink.write_partitioned"): ...``). Untraced, a span is two
``perf_counter`` reads. Traced, each span also runs under its own Spark job
group, and :class:`SparkCounters` reads Spark's status APIs after every op:
the jobs of each span (``statusTracker``), the stages of those jobs (the
app status store's stage data and task-time quantiles) and the driver
executor's cumulative task counters (``executorSummary("driver")``) as
before/after deltas. Everything stays in memory until the run ends; the
time spent in the tracer itself is kept as ``overhead_s``.
"""

from __future__ import annotations

import itertools
from collections import defaultdict
from contextlib import contextmanager
from time import perf_counter

_GROUP_IDS = itertools.count()


class Spans:
    def __init__(self, sc=None):
        self.sc = sc  # a SparkContext when tracing, else None
        self.times: dict[str, list[float]] = defaultdict(list)
        self.groups: list[tuple[str, str]] = []  # (layer, job group) of the current op
        self.overhead_s = 0.0

    @contextmanager
    def __call__(self, layer: str):
        if self.sc is not None:
            t = perf_counter()
            group = f"perfbench-{next(_GROUP_IDS)}"
            self.sc.setJobGroup(group, layer)
            self.groups.append((layer, group))
            self.overhead_s += perf_counter() - t
        t0 = perf_counter()
        try:
            yield
        finally:
            self.times[layer].append(perf_counter() - t0)


#: Cumulative task counters of the driver executor (local mode runs every
#: task there), read before and after each op.
_EXECUTOR_FIELDS = {
    "tasks": "totalTasks",
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "input_bytes": "totalInputBytes",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
    "failed_tasks": "failedTasks",
}


class SparkCounters:
    """Per-op Spark execution counters, attributed through the spans' job groups."""

    def __init__(self, spark, spans: Spans):
        self.sc = spark.sparkContext
        self.spans = spans
        self.store = self.sc._jsc.sc().statusStore()
        self.quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0
        self._before: dict | None = None

    def _executor(self) -> dict:
        e = self.store.executorSummary("driver")
        return {k: getattr(e, m)() for k, m in _EXECUTOR_FIELDS.items()}

    def begin(self) -> None:
        t = perf_counter()
        self.spans.groups.clear()
        self._before = self._executor()
        self.spans.overhead_s += perf_counter() - t

    def end(self) -> dict:
        t = perf_counter()
        after = self._executor()
        rec = {k: after[k] - self._before[k] for k in _EXECUTOR_FIELDS}
        tracker = self.sc.statusTracker()
        jobs_by_layer: dict[str, int] = defaultdict(int)
        stage_ids: set[int] = set()
        for layer, group in self.spans.groups:
            for job in tracker.getJobIdsForGroup(group):
                jobs_by_layer[layer] += 1
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
        rec["jobs_by_layer"] = dict(jobs_by_layer)
        rec["jobs"] = sum(jobs_by_layer.values())
        rec["stages"] = rec["one_task_stages"] = rec["spill_bytes"] = 0
        rec["task_ratios"] = []
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # evicted from the store, or never submitted
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            rec["stages"] += 1
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.numTasks() == 1:
                rec["one_task_stages"] += 1
                continue
            summary = self.store.taskSummary(sid, sd.attemptId(), self.quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    rec["task_ratios"].append(top / med)
        self.spans.overhead_s += perf_counter() - t
        return rec
