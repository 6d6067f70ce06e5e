"""Spans around the benchmark's calls into the repo, and Spark counters.

A span is (name, start, end, parent, workload, pass).  Spans live in
memory and are written as one JSON file when the run ends.  With tracing
off, ``Tracer.call`` is a plain call: no span, no job group, no counters.

Spark counters are read per job group: every traced call that can run
Spark jobs gets its own group, and after the call the group's jobs are
looked up with the public status tracker and their stages in the JVM
status store (which keeps working with the Spark UI disabled).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_DONE = ("COMPLETE", "FAILED")
GROUP_KEY = "spark.jobGroup.id"


def spark_counters(sc, group: str, wait_s: float = 5.0) -> dict:
    """Jobs, stages, tasks, executor time and shuffle bytes of *group*.

    The status store is filled by an asynchronous listener, so this polls
    until every job of the group has ended and each of their stages is
    either recorded as ended or was skipped."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + wait_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages, pending = {}, False
        for job in jobs:
            if job is None or job.status not in ("SUCCEEDED", "FAILED"):
                pending = True
                continue
            for sid in job.stageIds:
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # never submitted: a skipped stage
                    continue
                status = str(s.status())
                if status in STAGE_DONE:
                    stages[sid] = s
                elif status != "SKIPPED":
                    pending = True
        if not pending or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    ss = list(stages.values())
    return {
        "spark_jobs": len(jobs),
        "spark_stages": len(ss),
        "spark_tasks": sum(s.numCompleteTasks() for s in ss),
        "executor_run_s": sum(s.executorRunTime() for s in ss) / 1e3,
        "executor_cpu_s": sum(s.executorCpuTime() for s in ss) / 1e9,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in ss) / 1e6,
        "shuffle_read_mb": sum(s.shuffleReadBytes() for s in ss) / 1e6,
        "spill_mb": sum(s.diskBytesSpilled() for s in ss) / 1e6,
    }


class Tracer:
    def __init__(self, enabled: bool, workload: str, sc=None):
        self.enabled = enabled
        self.workload = workload
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: dict[str, dict] = {}
        self.pass_no: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark_group: bool = False):
        """Record a span; with *spark_group*, also the Spark counters of
        the jobs started inside it (kept in ``counters[name]``, last call
        wins)."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "pass": self.pass_no}
        self.spans.append(rec)
        self._stack.append(idx)
        group = f"{name}#{idx}"
        if spark_group:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, group)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark_group:
                self.sc.setLocalProperty(GROUP_KEY, prev)
                self.counters[name] = spark_counters(self.sc, group)

    def call(self, name: str, fn, *args, spark_group: bool = False, **kw):
        with self.span(name, spark_group=spark_group):
            return fn(*args, **kw)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans,
                       "spark_counters": self.counters}, f, indent=1)
