"""Span recording and Spark status readers for the traced run.

Spans are kept in memory and written out once, when the run ends. A
span records its name, start, end, the span that caused it and the
statement (trace id) it belongs to. Every reader here works from
outside the engine: it times calls into a layer's public functions,
or reads Spark's status tracker, status store and QueryExecution.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Any, Iterator, Optional


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace_id: Optional[str] = None, **attrs: Any) -> Iterator[Optional[dict]]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else None),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its direct children cover.

    Children of one span run one after another on one thread, so the
    covered time is the sum of their durations.
    """
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in spans}


# -- Spark readers -------------------------------------------------------

_DONE = ("SUCCEEDED", "FAILED")


def group_jobs(spark, group: str, settle_s: float = 5.0) -> list[int]:
    """Job ids of ``group``, after the listener bus has recorded their end.

    An action returns before the status listener processes its
    job-end event, so stage counters read too early are incomplete.
    """
    tracker = spark.sparkContext.statusTracker()
    deadline = time.perf_counter() + settle_s
    while True:
        ids = sorted(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in ids]
        if all(i is not None and i.status in _DONE for i in infos):
            return ids
        if time.perf_counter() > deadline:
            return ids
        time.sleep(0.005)


def exec_counters(spark, job_ids: list[int]) -> dict:
    """Job, stage and task counts plus byte and busy-time counters of
    the stages those jobs ran, read from Spark's status store.

    A stage listed by a job but skipped (its shuffle output reused) is
    not counted. A stage the store no longer holds makes its byte and
    time counters unavailable (``None``) rather than estimated.
    """
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
        "task_busy_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
    }
    seen: set[int] = set()
    available = True
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            available = False
            continue
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: the store evicted the stage
                available = False
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_busy_s"] += sd.executorRunTime() / 1000.0
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    if not available:
        for k in ("task_busy_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[k] = None
    return out


def catalyst_phases(df) -> dict:
    """Force the executed plan of ``df`` and return the analysis,
    optimization and planning durations (ms) its QueryExecution's
    tracker recorded. The later action reuses this QueryExecution,
    so the plan is not built twice."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else None
    return out


def cached_rdds(spark) -> tuple[int, int]:
    """Number of cached RDDs and the bytes they hold (memory plus
    disk), from the storage status the driver keeps."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), int(sum(i.memSize() + i.diskSize() for i in infos))
