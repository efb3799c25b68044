"""Spans around each engine-layer call, joined with Spark stage counters.

Every span is timed. In a traced run each span also runs under its own
Spark job group; after the pass, ``Tracer.attach_counters`` reads all jobs
and stages from the live status store (populated even with the UI off) in
two bulk calls and charges each span the stages its group's jobs
submitted while the span was open. A stage id can also be listed by a
later job that reused its shuffle output; the time window keeps that work
charged once, to the call that ran it.
"""

from __future__ import annotations

import json
import time

# retention high enough that no stage of a run is evicted before it is read
# (one capped Louvain call alone runs hundreds of jobs and stages)
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


class EvictedStageError(RuntimeError):
    pass


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def stage_counters(stages: list[dict], start_ms: int, end_ms: int) -> dict:
    """Sum the counters of the stages submitted in [start_ms, end_ms]."""
    ran = [
        s
        for s in stages
        if s["submissionTime"] is not None and start_ms <= s["submissionTime"] <= end_ms
    ]
    busy = [(s["submissionTime"], s["completionTime"] or end_ms) for s in ran]

    def total(key: str) -> int:
        return sum(s[key] for s in ran)

    wall_ms = end_ms - start_ms
    return {
        "driver_gap_s": (wall_ms - _covered_ms(busy, start_ms, end_ms)) / 1e3,
        "stages": len(ran),
        "tasks": total("numCompleteTasks"),
        "executor_run_s": total("executorRunTime") / 1e3,
        "executor_cpu_s": total("executorCpuTime") / 1e9,
        "gc_s": total("jvmGcTime") / 1e3,
        "shuffle_read_mb": total("shuffleReadBytes") / 1e6,
        "shuffle_write_mb": total("shuffleWriteBytes") / 1e6,
        "spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / 1e6,
    }


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Given a Spark
    session, spans that carry a ``layer`` run under their own job group."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setJobGroup(f"{self.run_id}:idle", "idle")
        else:
            sc.setJobGroup(self._group(span_id), self.spans[span_id]["name"])

    def attach_counters(self) -> None:
        """Join every layer span with its job group's stage counters. Two
        status-store reads, each serialized to JSON inside the JVM."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stage_list = store.stageList(None, False, False, no_quantiles, None)
        stages: dict[int, list[dict]] = {}
        for s in json.loads(mapper.writeValueAsString(stage_list)):
            stages.setdefault(s["stageId"], []).append(s)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)

        for span in self.spans:
            if not span.get("layer"):
                continue
            group_jobs = by_group.get(self._group(span["id"]), [])
            ids = {i for j in group_jobs for i in j["stageIds"]}
            missing = ids - stages.keys()
            if missing:
                raise EvictedStageError(f"{span['name']}: stages {sorted(missing)} evicted")
            attempts = [a for i in ids for a in stages[i]]
            start_ms = int(span["start"] * 1e3)
            span["jobs"] = len(group_jobs)
            span.update(stage_counters(attempts, start_ms, int(span["end"] * 1e3) + 1))


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> dict:
        t = self.tracer
        self.record = {
            "name": self.name,
            "run_id": t.run_id,
            "id": len(t.spans),
            "parent": t._stack[-1] if t._stack else None,
            **self.attrs,
        }
        t.spans.append(self.record)
        t._stack.append(self.record["id"])
        if t.spark is not None:
            t._set_group(self.record["id"])
        self.record["start"] = time.time()
        self._t0 = time.monotonic()
        return self.record

    def __exit__(self, *exc) -> bool:
        t = self.tracer
        wall = time.monotonic() - self._t0
        self.record["end"] = self.record["start"] + wall
        self.record["wall_s"] = wall
        t._stack.pop()
        if t.spark is not None:
            t._set_group(t._stack[-1] if t._stack else None)
        return False
