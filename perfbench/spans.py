"""Spans recorded from the benchmark's side of each call into the engine.

``Tracer.span(name)`` always times its block. When tracing is on it also
records a span (name, start, end, parent, run id), sets a Spark job group
named after it, and attributes to it every Spark job submitted inside the
block, with those jobs' stages, tasks, executor time, shuffle and spill
from the UI's status REST API. Spans stay in memory and are written out
once, by ``write``, when the run ends. Nothing is added inside the engine.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

_MB = 1024 * 1024
# per-span Spark counters; every span carries all of them (0 without Spark)
SPARK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb",
    "executor_run_s", "executor_cpu_s",
)


class Tracer:
    def __init__(self, run_id: str, enabled: bool = False):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._stack: list[dict] = []
        self._spark = None
        self._api = None

    def attach(self, spark) -> None:
        """Attribute Spark jobs from here on (the session is made inside a
        traced span, so it cannot be passed at construction)."""
        if not self.enabled:
            return
        self._spark = spark
        sc = spark.sparkContext
        if sc.uiWebUrl:
            self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    @contextmanager
    def span(self, name: str):
        """Time the block; yield the span dict, whose ``dur_s`` is set on exit."""
        rec: dict = {"name": name, "dur_s": 0.0}
        if not self.enabled:
            t = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur_s"] = time.perf_counter() - t
            return
        o = time.perf_counter()
        rec.update(parent=self._stack[-1]["id"] if self._stack else None,
                   run_id=self.run_id, id=len(self.spans))
        self.spans.append(rec)
        self._stack.append(rec)
        first_job = None
        if self._spark is not None:
            self._settle()
            first_job = self._max_job_id() + 1
            self._spark.sparkContext.setJobGroup(f"{self.run_id}/{rec['id']}", name)
        self.overhead_s += time.perf_counter() - o
        rec["start"] = time.time()
        t = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t
            rec["end"] = time.time()
            o = time.perf_counter()
            self._stack.pop()
            if first_job is not None:
                self._settle()
                rec.update(self._spark_counts(first_job))
                if self._stack:
                    parent = self._stack[-1]
                    self._spark.sparkContext.setJobGroup(
                        f"{self.run_id}/{parent['id']}", parent["name"])
                else:
                    self._spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - o

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "overhead_s": self.overhead_s,
                       "spans": self.spans}, fh, indent=1)

    # -- Spark attribution ---------------------------------------------------

    def _get(self, route: str):
        with urllib.request.urlopen(f"{self._api}/{route}", timeout=30) as r:
            return json.load(r)

    def _settle(self, limit_s: float = 5.0) -> None:
        """Wait until the status store (which the REST API also reads) shows
        no running job, so the job-id boundary between spans is exact."""
        tracker = self._spark.sparkContext.statusTracker()
        deadline = time.time() + limit_s
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.01)

    def _max_job_id(self) -> int:
        if not self._api:
            return -1
        return max((j["jobId"] for j in self._get("jobs")), default=-1)

    def _spark_counts(self, first_job: int) -> dict:
        out = dict.fromkeys(SPARK_FIELDS, 0)
        if not self._api:
            return out
        jobs = [j for j in self._get("jobs") if j["jobId"] >= first_job]
        stage_ids = {s for j in jobs for s in j.get("stageIds", ())}
        stages = [
            s for s in self._get("stages")
            if s["stageId"] in stage_ids and s.get("status") in ("COMPLETE", "FAILED")
        ]
        out.update(
            jobs=len(jobs),
            stages=len(stages),
            tasks=sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in stages),
            failed_tasks=sum(s.get("numFailedTasks", 0) for s in stages),
            shuffle_write_mb=sum(s.get("shuffleWriteBytes", 0) for s in stages) / _MB,
            spill_mb=sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                         for s in stages) / _MB,
            executor_run_s=sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            executor_cpu_s=sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        )
        return out
