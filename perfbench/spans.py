"""Span recorder and Spark-counter reader for the traced run.

A span records its name, start, end, parent span and run id. Spans are
kept in memory and written as one JSON file when the run ends. Each
span tags the Spark jobs it starts with its own job group, so the
engine counters of exactly those jobs can be read back from Spark's
status store when the span closes. That works with the UI disabled:
the status store is fed by the listener bus either way.

Only the benchmark's own files open spans, around calls into the
engine's public functions; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: per-stage counters summed over a span's jobs (peak memory is a max)
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "peak_exec_mem_mb",
)

_MB = 1024.0 * 1024.0


def spark_counters(sc, group: str) -> dict[str, float]:
    """Engine counters of every job in job group ``group``.

    Jobs come from ``statusTracker().getJobIdsForGroup``, their stages
    from the job info, and each stage's task metrics from the status
    store's ``lastStageAttempt``. Stages skipped because their output
    was reused are not counted.
    """
    # the status store is fed asynchronously; let it catch up first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], st.peakExecutionMemory() / _MB)
    return out


class Tracer:
    """In-memory span tree of one traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []

    def _group(self, span: dict) -> str:
        return f"{self.run_id}.{span['id']}"

    def _tag(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), span["name"])

    @contextmanager
    def span(self, name: str, part_of_op: bool = True, **attrs):
        """Open a span; jobs started inside it are attributed to it
        (and not to its parent). ``part_of_op=False`` marks a breakdown
        span that re-runs one layer over materialized input: it is
        reported as a layer metric but left out of the sum of spans
        that stands in for an op."""
        parent = self._open[-1] if self._open else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": None if parent is None else parent["id"],
            "run_id": self.run_id,
            "part_of_op": part_of_op,
            "attrs": attrs,
            "start": time.time(),
        }
        self.spans.append(span)
        self._open.append(span)
        self._tag(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._open.pop()
            self._tag(parent)
            span["spark"] = spark_counters(self.sc, self._group(span))

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def durations(self, name: str) -> list[float]:
        return [self.duration(s) for s in self.spans if s["name"] == name]

    def totals(self, skip: str = "") -> dict[str, float]:
        """Engine counters summed over every span but those named
        ``skip`` (each job belongs to exactly one span, the innermost
        one open when it started)."""
        out = dict.fromkeys(COUNTERS, 0.0)
        for s in self.spans:
            if s["name"] == skip:
                continue
            for k, v in s["spark"].items():
                out[k] = max(out[k], v) if k == "peak_exec_mem_mb" else out[k] + v
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh, indent=1)
