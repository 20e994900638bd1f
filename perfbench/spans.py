"""Span recorder and Spark counter collector for the traced run.

A span wraps one call into a public function of the package: name,
start, end, parent span and run id. Spans live in memory and are
written out once, when the run ends.

Jobs are attributed to a span by the job-id window around the call
(the high-water mark before and after), not by job groups: threads the
package starts (the ingest's parallel table rewrites) do not inherit a
job group. Stage counters come from the JVM ``AppStatusStore`` over
py4j and the Arrow-boundary row counts from the SQL status store; both
are read after the call returns, so reading them is not inside any
span's own timing.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

_PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsInPandas", "AggregateInPandas", "PythonMapInArrow")

COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
            "slot_wait_s", "failed_tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "python_rows")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class SparkCounters:
    """Reads per-job stage metrics from a live session's status stores."""

    def __init__(self, spark, slots: int):
        self.spark = spark
        self.slots = slots
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()

    def high_water(self) -> int:
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    def executions(self) -> int:
        """SQL executions recorded so far; a call's own come after."""
        return self._sql.executionsCount()

    def _job_ids(self, lo: int, hi: int) -> list[int]:
        return [j for j in self._tracker.getJobIdsForGroup(None) if lo < j <= hi]

    def collect(self, lo: int, hi: int, first_execution: int = 0) -> dict[str, float]:
        """Counters summed over the jobs with ``lo < id <= hi``; Arrow
        rows from the SQL executions from ``first_execution`` on."""
        jobs = self._job_ids(lo, hi)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(jobs))
        stage_ids: set[int] = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never submitted, no record
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks() + st.numKilledTasks() + (
                1 if st.attemptId() > 0 else 0
            )
            run_s = st.executorRunTime() / 1000.0
            out["task_run_s"] += run_s
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["task_gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            t0, t1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if t0 is not None and t1 is not None:
                out["slot_wait_s"] += max(0.0, (t1 - t0) * self.slots - run_s)
        out["python_rows"] = float(self._python_rows(set(jobs), first_execution))
        return out

    def _python_rows(self, jobs: set[int], first_execution: int) -> int:
        """Rows out of Python/Arrow plan nodes, over the SQL executions
        whose jobs fall in the window."""
        if not jobs:
            return 0
        total = 0
        # scanning only the call's own executions keeps a span's cost
        # independent of how many spans came before it
        listed = self._sql.executionsList(first_execution, 2**31 - 1)
        for ex in _seq(listed):
            ex_jobs = {int(j) for j in _seq(ex.jobs().keys())}
            if not ex_jobs & jobs:
                continue
            accs = []
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                if any(p in node.name() for p in _PY_NODES):
                    accs += [m.accumulatorId() for m in _seq(node.metrics())
                             if m.name() == "number of output rows"]
            if not accs:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for a in accs:
                v = values.get(a)
                if v.isDefined():
                    total += int(str(v.get()).replace(",", "") or 0)
        return total


class Tracer:
    """In-memory span recorder with Spark counters per span."""

    def __init__(self, spark, slots: int):
        self.run_id = uuid.uuid4().hex[:12]
        self.counters = SparkCounters(spark, slots)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent reading counters

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        t_read = time.perf_counter()
        lo = self.counters.high_water()
        first_execution = self.counters.executions()
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_read
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["counters"] = self.counters.collect(lo, self.counters.high_water(), first_execution)
            self.overhead_s += time.perf_counter() - rec["end"]

    def total(self, name: str, key: str | None = None) -> float:
        """Summed duration (or counter ``key``) of every span called ``name``."""
        return sum(
            (s["end"] - s["start"]) if key is None else s["counters"][key]
            for s in self.spans
            if s["name"] == name
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)
