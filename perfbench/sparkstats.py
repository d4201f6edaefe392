"""Spark-layer counters read from the driver, with the UI off.

Three sources, all read outside the timed calls:

- the status stores (``statusStore().stageList`` / ``jobsList`` and the
  SQL store's ``executionsList``): jobs, stages, tasks, shuffle, spill, GC
  and executor run time of every job a call ran, and its actions (SQL
  executions), taken as the difference between two snapshots;
- a forced query's ``queryExecution().tracker().phases()``: Catalyst
  analysis, optimization and planning time;
- the executed plan: join operators by kind.
"""

from __future__ import annotations

import collections
import re
import resource

_JOIN_RE = re.compile(r"\b(BroadcastNestedLoopJoin|BroadcastHashJoin|SortMergeJoin|"
                      r"ShuffledHashJoin|CartesianProduct)\b")
_HASH_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


class StatusStore:
    """Snapshot and difference of the driver's job, stage and SQL
    execution records."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = sc._jsc.sc().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _jobs(self):
        return self._conv.asJava(self._store.jobsList(None))

    def _stages(self):
        lst = self._jvm.java.util.ArrayList
        return self._conv.asJava(
            self._store.stageList(lst(), False, False, self._no_quantiles, lst()))

    def _executions(self):
        return self._conv.asJava(self._sql.executionsList())

    def snapshot(self) -> tuple[int, int, int]:
        """Highest job, stage and SQL execution id seen so far."""
        jobs = [j.jobId() for j in self._jobs()]
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in self._executions()]
        return max(jobs, default=-1), max(stages, default=-1), max(execs, default=-1)

    def delta(self, snap: tuple[int, int, int]) -> dict:
        """Totals over the jobs, stages and SQL executions (one per
        DataFrame action) that started after ``snap``."""
        job0, stage0, exec0 = snap
        jobs = sum(1 for j in self._jobs() if j.jobId() > job0)
        actions = []
        for e in sorted(self._executions(), key=lambda e: e.executionId()):
            if e.executionId() > exec0:
                actions.append(_action(e.description(), e.physicalPlanDescription(),
                                       e.jobs().size()))
        out = dict(jobs=jobs, stages=0, tasks=0, shuffle_read_bytes=0,
                   shuffle_write_bytes=0, spill_bytes=0, gc_s=0.0,
                   executor_run_s=0.0, input_bytes=0, input_records=0)
        for s in self._stages():
            if s.stageId() <= stage0 or s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
        out["actions"] = actions
        return out


# a file write's plan argument line names its output dir; the noop
# data source is the blackhole sink
_WRITE_RE = re.compile(r"Arguments: file:[^,\s]*/([^/,\s]+), |(NoopWrite)")


def _action(description: str, plan: str, jobs: int) -> dict:
    """One SQL execution: its call (``save``, ``text``, ``count``...), the
    sink it wrote to when it is a write, whether it is a bare row count,
    and its job count."""
    m = _WRITE_RE.search(plan)
    return {"call": description.split(" at ", 1)[0],
            "write_to": (m.group(1) or "blackhole") if m else None,
            "count": m is None and "Functions [1]: [count(1)]" in plan,
            "jobs": jobs}


def by_sink(actions: list[dict]) -> dict[str, dict]:
    """Actions per sink: a write names its sink, and a row count that
    follows it (the per-sink ``count()``) belongs to the same sink. Other
    actions are left out."""
    out: dict[str, dict] = {}
    cur = None
    for a in actions:
        if a["write_to"] is not None:
            cur = a["write_to"]
        elif not (a["count"] and cur):
            continue
        rec = out.setdefault(cur, {"actions": 0, "jobs": 0, "counts": 0})
        rec["actions"] += 1
        rec["jobs"] += a["jobs"]
        rec["counts"] += a["count"]
    return out


def phases(df) -> dict[str, float]:
    """Catalyst phase seconds of a DataFrame whose action has run."""
    ph = df._jdf.queryExecution().tracker().phases()
    return {k: (ph.apply(k).durationMs() / 1000.0 if ph.contains(k) else 0.0)
            for k in ("analysis", "optimization", "planning")}


def join_counts(df) -> dict[str, int]:
    """Join operators in the executed (final adaptive) plan."""
    # an adaptive plan prints its final plan, then the initial one
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    kinds = collections.Counter(_JOIN_RE.findall(plan))
    return {"nested_loop": kinds["BroadcastNestedLoopJoin"] + kinds["CartesianProduct"],
            "hash": sum(kinds[k] for k in _HASH_JOINS)}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
