"""Work counters read from Spark's in-process status store.

The benchmark runs its work under job groups (one per pass, or one per
build and exec step of each query in a traced pass) and reads a group's
jobs and stages right after it finishes. The status store keeps only the
newest ``spark.ui.retainedJobs``/``retainedStages`` (1000 each by default)
and evicts the rest, so each read first checks that no job launched since
the previous read, and no stage of such a job, is gone. An evicted record
would silently undercount, so the check raises instead.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, fields


class EvictedError(RuntimeError):
    """A job or stage was evicted from the status store before it was read."""


@dataclass
class Work:
    """Counters summed over the jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    heaviest_stage: tuple[int, int] | None = None  # (stageId, attemptId)
    heaviest_run_ms: int = -1

    def __iadd__(self, other: "Work") -> "Work":
        for f in fields(self):
            if f.name.startswith("heaviest"):
                continue
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        if other.heaviest_run_ms > self.heaviest_run_ms:
            self.heaviest_stage = other.heaviest_stage
            self.heaviest_run_ms = other.heaviest_run_ms
        return self


def check_complete(jobs: list[dict], stages: list[dict], first_unread_job: int) -> None:
    """Raise EvictedError unless every job id from ``first_unread_job`` up to
    the newest is present, and every stage those jobs list is present."""
    ids = sorted(j["jobId"] for j in jobs if j["jobId"] >= first_unread_job)
    expected = list(range(first_unread_job, ids[-1] + 1)) if ids else []
    missing_jobs = sorted(set(expected) - set(ids))
    if missing_jobs:
        raise EvictedError(f"jobs evicted before they were read: {missing_jobs}")
    have = {s["stageId"] for s in stages}
    missing_stages = sorted(
        {sid for j in jobs if j["jobId"] >= first_unread_job for sid in j["stageIds"]}
        - have
    )
    if missing_stages:
        raise EvictedError(f"stages evicted before they were read: {missing_stages}")


def sum_work(jobs: list[dict], stages: list[dict], group: str) -> Work:
    """Counters of the jobs in ``group``. The store keeps one record per
    stage attempt, so a stage that several of its jobs list (skipped in all
    but one) is counted once."""
    mine = [j for j in jobs if j.get("jobGroup") == group]
    sids = {sid for j in mine for sid in j["stageIds"]}
    w = Work(jobs=len(mine))
    for s in stages:
        if s["stageId"] not in sids:
            continue
        w.tasks += s["numCompleteTasks"]
        w.executor_cpu_s += s["executorCpuTime"] / 1e9
        w.shuffle_write_bytes += s["shuffleWriteBytes"]
        w.input_bytes += s["inputBytes"]
        w.spill_bytes += s["diskBytesSpilled"]
        if s["status"] == "COMPLETE" and s["executorRunTime"] > w.heaviest_run_ms:
            w.heaviest_stage = (s["stageId"], s["attemptId"])
            w.heaviest_run_ms = s["executorRunTime"]
    return w


class StatusReader:
    """Reads job-group counters, GC time and storage from a live session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._no_statuses = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._skew_quantiles = sc._gateway.new_array(jvm.double, 2)
        self._skew_quantiles[0] = 0.5
        self._skew_quantiles[1] = 1.0
        self._first_unread_job = 1 + max((j["jobId"] for j in self._jobs()), default=-1)
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def read(self, *groups: str) -> list[Work]:
        """Counters of each group, after checking that nothing launched since
        the previous read was evicted."""
        jobs = self._jobs()
        stages = self._json(
            self._store.stageList(
                None, False, False, self._no_quantiles, self._no_statuses
            )
        )
        check_complete(jobs, stages, self._first_unread_job)
        if jobs:
            self._first_unread_job = max(j["jobId"] for j in jobs) + 1
        return [sum_work(jobs, stages, g) for g in groups]

    def task_skew(self, stage: tuple[int, int]) -> float | None:
        """Max over median task run time of one stage."""
        dist = self._json(self._store.taskSummary(stage[0], stage[1], self._skew_quantiles))
        if not dist:
            return None
        median, top = dist["executorRunTime"]
        return top / median if median > 0 else None

    def gc_s(self) -> float:
        """Cumulative GC time of the JVM, from its garbage-collector beans."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size())) / 1e3

    def storage_mb(self) -> float:
        """Block-manager storage (memory plus disk) held by the executors."""
        execs = self._json(self._store.executorList(True))
        return sum(e["memoryUsed"] + e["diskUsed"] for e in execs) / 1e6

    def tables_read(self, spark) -> set[tuple[str, str]]:
        """(scale directory, table) of each Parquet table named in the
        physical plans of every SQL execution so far."""
        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        found: set[tuple[str, str]] = set()
        for i in range(execs.size()):
            plan = execs.apply(i).physicalPlanDescription()
            found.update(re.findall(r"/([\w.]+)/(\w+)\.parquet", plan))
        return found
