"""Spans around the benchmark's calls into the engine, and Spark counters
read from outside the engine.

Tracing is opt-in (`--trace 1`). A traced call runs under its own Spark
job group; when it returns, the listener bus is drained and the status
store is read for every job of that group:

    sc.statusTracker().getJobIdsForGroup(group)        -> job ids
    sc.statusTracker().getJobInfo(job).stageIds()      -> stage ids
    sc._jsc.sc().statusStore().lastStageAttempt(stage) -> stage metrics

This works with `spark.ui.enabled=false`. Counters are read right after
each call, before the store's retention limits can evict its stages.
Garbage-collection time is read from the JVM's collector beans around
the call.
"""

from __future__ import annotations

import itertools
import time
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_b", "spill_b", "input_b", "output_b",
    "empty_tasks",
)


class Tracer:
    """Times calls; with `enabled=True` it also reads their Spark counters."""

    def __init__(self, spark: Any, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self._groups = itertools.count(1)

    def call(
        self,
        name: str,
        fn: Callable[[], Any],
        count_empty_tasks: bool = False,
    ) -> tuple[Any, float, dict[str, float]]:
        """Run fn(); returns (result, seconds, counters)."""
        counters: dict[str, float] = {}
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0, counters
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._groups)}"
        sc.setJobGroup(group, name)
        gc0 = jvm_gc_s(self.spark)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            seconds = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counters = read_group(self.spark, group, count_empty_tasks)
        counters["gc_s"] = jvm_gc_s(self.spark) - gc0
        return out, seconds, counters


def read_group(spark: Any, group: str, count_empty_tasks: bool) -> dict[str, float]:
    """Sum the status-store metrics of every stage run by a job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(COUNTERS, 0.0)
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_write_b"] += sd.shuffleWriteBytes()
            out["spill_b"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
            out["input_b"] += sd.inputBytes()
            out["output_b"] += sd.outputBytes()
            if count_empty_tasks:
                out["empty_tasks"] += _empty_tasks(store, sid, sd.attemptId())
    return out


def jvm_gc_s(spark: Any) -> float:
    """Total collection time of the JVM's garbage collectors; in local
    mode the driver and the executors share this JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _empty_tasks(store: Any, stage_id: int, attempt: int) -> int:
    """Tasks of a stage that read no input and no shuffle records."""
    tasks = store.taskList(stage_id, attempt, 1 << 20)
    empty = 0
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isEmpty():
            continue
        m = m.get()
        if m.inputMetrics().recordsRead() == 0 and m.shuffleReadMetrics().recordsRead() == 0:
            empty += 1
    return empty


def add(total: dict[str, float], counters: dict[str, float]) -> None:
    for k, v in counters.items():
        total[k] = total.get(k, 0.0) + v
