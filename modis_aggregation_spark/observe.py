"""Engine counters of one operation, and SQL metrics of one executed plan.

``measure`` runs its body under a Spark job group and then sums the
stages of that group's jobs from Spark's status store (which is kept with
the UI disabled too). The store is fed by an asynchronous event bus, so
the read is repeated until two reads agree and no job of the group is
still running. Only stages with an id above the highest id in the store
when the scope opened count: that leaves out stages an earlier operation
computed, and jobs an earlier scope with the same label ran. Stages a job
skipped (its shuffle output already existed) do not count either.

``plan_nodes`` and ``plan_metric`` read one DataFrame's executed physical
plan instead: the per-operator SQL metrics Spark fills in when that plan
runs (``collect()``/``toArrow()`` run the DataFrame's own plan, ``count()``
runs a new one) or, under AQE, when the walk asks for the final plan.

    with measure(spark, "daily_grid") as m:
        rows = df.collect()
    m["jobs"], m["shuffle_records"]
    plan_metric(df, "ShuffleExchangeExec", "shuffleRecordsWritten")
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_bytes", "shuffle_records", "spill_memory_bytes", "spill_disk_bytes",
    "peak_execution_memory_bytes",
)

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPERTIES = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)
_SETTLE_POLL_S = 0.1
_SETTLE_TIMEOUT_S = 15.0


def _scala_seq(seq) -> Iterator:
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _empty_stage_args(sc) -> tuple:
    jvm = sc._gateway.jvm
    return jvm.java.util.ArrayList(), sc._gateway.new_array(jvm.double, 0)


def _max_stage_id(sc, store) -> int:
    """The highest stage id in the store (``stageList`` is newest first)."""
    statuses, quantiles = _empty_stage_args(sc)
    stages = store.stageList(statuses, False, False, quantiles, statuses)
    return int(stages.head().stageId()) if stages.nonEmpty() else -1


def _snapshot(sc, store, label: str, floor: int) -> tuple[dict, bool]:
    statuses, quantiles = _empty_stage_args(sc)
    out = dict.fromkeys(COUNTERS, 0)
    running, stage_ids = False, set()
    for job_id in sc.statusTracker().getJobIdsForGroup(label):
        job = store.job(job_id)
        ids = [int(s) for s in _scala_seq(job.stageIds())]
        if max(ids, default=-1) <= floor:
            continue
        out["jobs"] += 1
        running |= job.status().toString() == "RUNNING"
        stage_ids.update(s for s in ids if s > floor)
    for sid in sorted(stage_ids):
        attempts = [
            s for s in _scala_seq(store.stageData(sid, False, statuses, False, quantiles))
            if s.status().toString() != "SKIPPED"
        ]
        out["stages"] += bool(attempts)
        for s in attempts:
            out["tasks"] += int(s.numCompleteTasks())
            out["executor_run_ms"] += int(s.executorRunTime())
            out["executor_cpu_ms"] += int(s.executorCpuTime()) / 1e6
            out["gc_ms"] += int(s.jvmGcTime())
            out["shuffle_bytes"] += int(s.shuffleWriteBytes())
            out["shuffle_records"] += int(s.shuffleWriteRecords())
            out["spill_memory_bytes"] += int(s.memoryBytesSpilled())
            out["spill_disk_bytes"] += int(s.diskBytesSpilled())
            out["peak_execution_memory_bytes"] = max(
                out["peak_execution_memory_bytes"], int(s.peakExecutionMemory())
            )
    return out, running


@contextmanager
def measure(spark, label: str) -> Iterator[dict]:
    """Run the body under job group ``label``; when it ends, fill the
    yielded dict with the group's settled ``COUNTERS`` (CPU in ms, bytes
    and records summed over stages, peak execution memory the largest of
    any stage). A caller's own job group is restored on exit.

    Peak execution memory counts only Spark-managed memory: the on-heap
    buffers of an ``ObjectHashAggregate`` (``percentile``,
    ``collect_list``, typed aggregators) are not in it, so a scope whose
    plan runs one reads a peak that leaves them out, often 0."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    floor = _max_stage_id(sc, store)
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPERTIES}
    counters: dict = {}
    sc.setJobGroup(label, label)
    try:
        yield counters
    finally:
        for key, value in saved.items():
            sc.setLocalProperty(key, value)
    deadline = time.monotonic() + _SETTLE_TIMEOUT_S
    prev = None
    while True:
        cur, running = _snapshot(sc, store, label, floor)
        if (cur == prev and not running) or time.monotonic() > deadline:
            break
        prev = cur
        time.sleep(_SETTLE_POLL_S)
    counters.update(cur)


def plan_nodes(plan) -> Iterator:
    """Every node of an executed physical plan, given a DataFrame or a JVM
    plan node. Descends AQE's wrappers: a query stage's ``plan`` and an
    adaptive plan's ``finalPhysicalPlan``. An adaptive plan that has not
    run yet (the DataFrame was only ``count()``-ed, say) runs its query
    stages there, so its exchanges carry metrics."""
    if isinstance(plan, DataFrame):
        plan = plan._jdf.queryExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        yield node
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def plan_metric(df, node_class: str, metric: str) -> int:
    """Sum of SQL metric ``metric`` over the ``node_class`` nodes of
    ``df``'s executed plan, counting each plan node (by plan id) once."""
    total, seen = 0, set()
    for node in plan_nodes(df):
        if node.getClass().getSimpleName() != node_class or node.id() in seen:
            continue
        seen.add(node.id())
        value = node.metrics().get(metric)
        if value.isDefined():
            total += int(value.get().value())
    return total
