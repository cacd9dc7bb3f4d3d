"""What a call cost, read from Spark's status store: the one definition
behind the cost budgets in tests/ and the probe CLI (scripts/qprobe.py).

`trace(spark, fn)` runs `fn()` under its own job group, drains the
listener bus, and reads every job of that group:

    sc.statusTracker().getJobIdsForGroup(group)        -> job ids
    sc.statusTracker().getJobInfo(job).stageIds        -> stage ids
    sc._jsc.sc().statusStore().lastStageAttempt(stage) -> stage metrics
    statusStore().operationGraphForStage(stage)        -> operator names

This works with `spark.ui.enabled=false`. Counters are read right after
the call, before the store's retention limits can evict its stages. A
stage that several jobs share (a reused shuffle) is counted once;
skipped and failed stages are not counted. Under AQE each query stage
is submitted as its own job, so `jobs` counts query stages too.

perfbench/ keeps its own reader (perfbench/spans.py): the benchmark
reads its counters from outside the engine by design.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError


@dataclass
class Trace:
    """The cost of one call. `stages` holds, per completed stage, its
    task count and the operator names of its operation graph (e.g.
    "Window", "MapInPandas")."""

    result: Any = None
    wall_s: float = 0.0
    jobs: int = 0
    stages: list[tuple[int, list[str]]] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    gc_s: float = 0.0

    def counters(self) -> dict[str, float]:
        """The load-insensitive and timing counters as one flat dict."""
        return {
            "jobs": self.jobs,
            "stages": len(self.stages),
            "tasks": sum(t for t, _ in self.stages),
            "run_s": round(self.run_s, 3),
            "cpu_s": round(self.cpu_s, 3),
            "shuffle_write_b": self.shuffle_write_b,
            "spill_b": self.spill_b,
            "gc_s": round(self.gc_s, 3),
            "wall_s": round(self.wall_s, 3),
        }


def trace(spark: Any, fn: Callable[[], Any]) -> Trace:
    """Run `fn()` under its own job group and return its Trace (the
    call's return value in `result`). The job group is cleared after
    the call, also when it raises."""
    sc = spark.sparkContext
    group = f"vgs-trace-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    gc0 = _jvm_gc_s(sc)
    t0 = time.perf_counter()
    try:
        out = Trace(result=fn())
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    out.wall_s = wall
    out.gc_s = _jvm_gc_s(sc) - gc0
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    seen: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job)
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
            out.stages.append((sd.numCompleteTasks(), _operator_names(store, sid)))
            out.run_s += sd.executorRunTime() / 1e3
            out.cpu_s += sd.executorCpuTime() / 1e9
            out.shuffle_write_b += sd.shuffleWriteBytes()
            out.spill_b += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
    return out


def _operator_names(store: Any, stage_id: int) -> list[str]:
    names, todo = [], [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        names.append(c.name())
        it = c.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    return names


def _jvm_gc_s(sc: Any) -> float:
    """Total collection time of the JVM's garbage collectors; in local
    mode the driver and the executors share this JVM."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3
