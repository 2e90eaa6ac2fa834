"""Stage and job deltas from Spark's status store, read over Py4J.

``AppStatusStore`` keeps every stage (including ``SKIPPED`` ones) and job of
the application. Both lists come back newest first, and stage and job ids
only grow, so the work done between two points is "every stage and job with
an id above the mark" — a before/after delta. Job groups would be the other
way to attribute work, but they are thread-local, and ``run_checks`` /
``CheckResult.materialize`` submit from a ``ThreadPoolExecutor``; deltas are
exact because a benchmark process runs one workload on one driver thread.

Py4J details (pyspark 4.1): ``stageList`` takes all five arguments and
returns a Scala ``Seq`` (read with ``.apply(i)``); ``jobsList`` also returns
a ``Seq``. The listener bus is asynchronous, so every read first waits until
it is empty.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, fields

_MB = 1024.0 * 1024.0


@dataclass
class Counts:
    """Work done by the stages and jobs of one interval."""
    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0          # executor run time summed over tasks
    cpu_s: float = 0.0          # executor CPU time summed over tasks
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def __iadd__(self, other: "Counts") -> "Counts":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


@dataclass(frozen=True)
class Mark:
    stage: int
    job: int


class StatusStore:
    """Before/after deltas over the application's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        # finished stages never change again: read each one over Py4J once
        self._done: dict[tuple[int, int], Counts] = {}
        self.read_s = 0.0       # time spent in this collector (tracing cost)

    def _stage_list(self):
        lst = self._jvm.java.util.ArrayList
        return self._store.stageList(
            lst(), False, False, self._gateway.new_array(self._jvm.double, 0),
            lst())

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def mark(self) -> Mark:
        t0 = time.perf_counter()
        self._drain()
        stages = self._stage_list()
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        m = Mark(stages.apply(0).stageId() if stages.size() else -1,
                 jobs.apply(0).jobId() if jobs.size() else -1)
        self.read_s += time.perf_counter() - t0
        return m

    def since(self, mark: Mark) -> Counts:
        """Counts of every stage and job newer than ``mark``."""
        t0 = time.perf_counter()
        self._drain()
        total = Counts()
        stages = self._stage_list()
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= mark.stage:
                break
            total += self._stage_counts(st, sid)
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark.job:
                break
            total.jobs += 1
        self.read_s += time.perf_counter() - t0
        return total

    def _stage_counts(self, st, sid: int) -> Counts:
        key = (sid, st.attemptId())
        if key in self._done:
            return self._done[key]
        status = st.status().toString()
        if status == "SKIPPED":
            c = Counts(stages_skipped=1)
        else:
            c = Counts(
                stages=1,
                tasks=st.numCompleteTasks() + st.numFailedTasks(),
                failed_tasks=st.numFailedTasks(),
                run_s=st.executorRunTime() / 1e3,
                cpu_s=st.executorCpuTime() / 1e9,
                gc_s=st.jvmGcTime() / 1e3,
                input_mb=st.inputBytes() / _MB,
                shuffle_read_mb=st.shuffleReadBytes() / _MB,
                shuffle_write_mb=st.shuffleWriteBytes() / _MB,
                spill_mb=(st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB,
            )
        if status in ("COMPLETE", "SKIPPED", "FAILED"):
            self._done[key] = c
        return c
