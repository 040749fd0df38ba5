"""Spans around calls into the engine's layers, with the Spark work each
one caused read back from Spark's own status store.

A span sets a job group on the calling thread, so jobs submitted from
that thread carry it.  Jobs that layers submit from their own pool
threads carry no group; the span also claims the group-less jobs that
started inside its window.  That is exact when nothing else runs, which
is why the traced run calls each layer alone.

A span's CPU is the executors' JVM CPU from the status store plus the
CPU the Python workers used in its window, read from /proc: Spark's
``executorCpuTime`` does not see the Python side of a UDF.  Python CPU
cannot be tied to a job, so ``unattributed_cpu_s`` splits the span's
CPU by executor run time: the share run by jobs without the span's
group is the CPU no job group accounts for.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from procfs import python_worker_cpu_s


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []

    def _ungrouped_jobs(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, batch: int, parent: str | None = None):
        """Spans do not nest: ``parent`` only labels the span they belong
        to (e.g. the batch whose calls they time)."""
        gid = f"perfbench-{len(self.spans)}-{name}"
        rec = {"name": name, "batch": batch, "parent": parent, "group": gid}
        self.bus.waitUntilEmpty()
        before = self._ungrouped_jobs()
        py0 = python_worker_cpu_s(os.getpid())
        self.sc.setJobGroup(gid, name, False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
            self.bus.waitUntilEmpty()
            grouped = set(self.tracker.getJobIdsForGroup(gid))
            loose = self._ungrouped_jobs() - before
            rec["wall_s"] = rec["end"] - rec["start"]
            rec.update(self._stage_totals(grouped, loose))
            rec["py_cpu_s"] = python_worker_cpu_s(os.getpid()) - py0
            rec["cpu_s"] = rec["jvm_cpu_s"] + rec["py_cpu_s"]
            loose_share = 1 - rec["group_run_s"] / rec["run_s"] if rec["run_s"] else 0.0
            rec["unattributed_cpu_s"] = rec["cpu_s"] * loose_share
            self.spans.append(rec)

    def _stage_totals(self, grouped: set[int], loose: set[int]) -> dict:
        """Executor run time, JVM CPU, shuffle and spill summed over the distinct
        stages that ran for these jobs, and the task-time skew (max over
        median) of the stage that used the most executor time."""
        tot = {
            "jobs": len(grouped | loose), "stages": 0, "tasks": 0,
            "run_s": 0.0, "jvm_cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            "group_run_s": 0.0, "task_skew": 1.0,
        }
        seen: set[int] = set()
        heaviest = None
        for jobs, by_group in ((grouped, True), (loose, False)):
            for j in sorted(jobs):
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = self.store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    run = st.executorRunTime() / 1e3
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks()
                    tot["run_s"] += run
                    tot["jvm_cpu_s"] += st.executorCpuTime() / 1e9
                    if by_group:
                        tot["group_run_s"] += run
                    tot["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
                    tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                    if heaviest is None or run > heaviest[1]:
                        heaviest = (st, run)
        if heaviest is not None:
            tot["task_skew"] = self._skew(heaviest[0])
        return tot

    def _skew(self, st) -> float:
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self.store.taskSummary(st.stageId(), st.attemptId(), qs)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else 1.0

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
