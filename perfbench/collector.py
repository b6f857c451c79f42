"""Per-operation engine counters read from Spark's status store.

Each operation runs under its own job group. Afterwards the collector
sums the stages of that group's jobs. The status store is fed by an
asynchronous event bus, so the read is repeated until two reads agree and
no job of the group is still running. Only stages with an id above the
highest id seen before the operation count, which keeps the sum right
when the store evicts old stages and leaves out stages that a job skipped
because an earlier job had computed them.

``scan_records`` are the input records of the stages that scan the
granule DataSource, told apart from other input (such as the generated
cell dimension) by the ``BatchScan modis_granules`` operator in the
stage's operation graph.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SCAN_OPERATOR = "BatchScan modis_granules"

COUNTERS = (
    "jobs", "stages", "tasks", "scan_records",
    "shuffle_bytes", "shuffle_records", "executor_run_ms", "executor_cpu_ms", "gc_ms",
)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._gateway.jvm
        self._store = sc._jsc.sc().statusStore()

    def _iter(self, seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def _stages(self):
        jvm = self._jvm
        return self._iter(self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ))

    def max_stage_id(self) -> int:
        return max((int(s.stageId()) for s in self._stages()), default=-1)

    def _scans(self, stage_id: int) -> bool:
        todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            cluster = todo.pop()
            if cluster.name() == SCAN_OPERATOR:
                return True
            todo.extend(self._iter(cluster.childClusters()))
        return False

    def _snapshot(self, group: str, floor: int) -> tuple[dict, bool]:
        ids, running, jobs = set(), False, 0
        for j in self._iter(self._store.jobsList(self._jvm.java.util.ArrayList())):
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            jobs += 1
            running |= j.status().toString() == "RUNNING"
            ids.update(int(s) for s in self._iter(j.stageIds()))
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = jobs
        seen = set()
        for s in self._stages():
            sid = int(s.stageId())
            if sid <= floor or sid not in ids or s.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            if self._scans(sid):
                out["scan_records"] += int(s.inputRecords())
            out["tasks"] += int(s.numCompleteTasks())
            out["shuffle_bytes"] += int(s.shuffleWriteBytes())
            out["shuffle_records"] += int(s.shuffleWriteRecords())
            out["executor_run_ms"] += int(s.executorRunTime())
            out["executor_cpu_ms"] += int(s.executorCpuTime()) / 1e6
            out["gc_ms"] += int(s.jvmGcTime())
        out["stages"] = len(seen)
        return out, running

    def read(self, group: str, floor: int, timeout_s: float = 15.0) -> dict:
        """Settled counters of ``group``'s stages with ids above ``floor``."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            cur, running = self._snapshot(group, floor)
            if (cur == prev and not running) or time.monotonic() > deadline:
                return cur
            prev = cur
            time.sleep(0.1)

    @contextmanager
    def scope(self, group: str):
        """Run the body under job group ``group``; fill the yielded dict
        with the group's counters when the body ends."""
        floor = self.max_stage_id()
        counters: dict = {}
        self._sc.setJobGroup(group, group)
        try:
            yield counters
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        counters.update(self.read(group, floor))
