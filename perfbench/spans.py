"""Outside-in spans around the engine's public calls, plus Spark deltas.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the engine: name, start, end, parent span and the op it
belongs to.  Spans live in memory and are written out at the end.

Spark work is attributed from the session's status store, which Spark
keeps even with the UI off.  Every stage and job carries a submission
time; each is charged to the innermost span whose interval holds that
time (the benchmark is one closed-loop client, so nothing else submits
work while a span is open).  Stages are fetched at op boundaries, so
the store's retention window (1000 stages by default) only has to
cover one op; a gap in stage ids means stages were evicted before they
were read, and every count of an affected span is then unknown (None),
never 0.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Spark counters summed per span: output name -> (stage field, scale)
STAGE_SUMS = {
    "task_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "spill_mb": ("memoryBytesSpilled", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "failed_tasks": ("numFailedTasks", 1),
}
COUNTS = ("jobs", "stages", "tasks", "stage_retries") + tuple(STAGE_SUMS)


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float  # epoch seconds (matches the JVM's submission times)
    end: float = 0.0
    counts: dict | None = field(default_factory=lambda: dict.fromkeys(COUNTS, 0))

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's wall time minus the part its direct children cover.

    Children of one parent never overlap (one client, one thread), so
    their walls add up."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.wall
    return [s.wall - c for s, c in zip(spans, covered)]


def attribute(spans: list[Span], items: list[dict], key: str, missing: set[int]) -> None:
    """Charge each stage/job in ``items`` to the innermost span whose
    interval holds its submission time.

    ``key`` is "stage" or "job"; ``missing`` holds span indexes whose
    stages fell out of the status store before they were read.  The
    innermost span is the latest-starting one that holds the time,
    because spans nest and never overlap otherwise."""
    order = sorted(range(len(spans)), key=lambda i: spans[i].start)
    for it in items:
        t = it["submitted"]
        owner = None
        for i in order:
            s = spans[i]
            if s.start > t:
                break
            if s.end >= t:
                owner = i
        if owner is None or owner in missing:
            continue
        c = spans[owner].counts
        if key == "job":
            c["jobs"] += 1
            continue
        c["stages"] += 1
        c["tasks"] += it["numCompleteTasks"] + it["numFailedTasks"]
        c["stage_retries"] += 1 if it["attemptId"] > 0 else 0
        for out, (src, scale) in STAGE_SUMS.items():
            c[out] += it[src] * scale


class StatusStore:
    """Read-only view of the Spark status store of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def stages(self) -> tuple[int | None, list[dict]]:
        """The lowest stage id the store still retains (skipped stages
        included), and every retained stage attempt that has run to
        completion or failure."""
        jvm = self._jvm
        raw = self._json(
            self._store.stageList(
                jvm.java.util.ArrayList(),
                False,
                False,
                self._sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        )
        out = []
        for s in raw:
            if s.get("submissionTime") is None or s["status"] in ("ACTIVE", "PENDING"):
                continue
            s["submitted"] = s["submissionTime"] / 1000.0
            out.append(s)
        return min((s["stageId"] for s in raw), default=None), out

    def jobs(self) -> list[dict]:
        raw = self._json(self._store.jobsList(self._jvm.java.util.ArrayList()))
        out = []
        for j in raw:
            if j.get("submissionTime") is None:
                continue
            j["submitted"] = j["submissionTime"] / 1000.0
            out.append(j)
        return out

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()


class Tracer:
    """Spans for one run; a disabled tracer records nothing.

    ``flush()`` reads the stages and jobs submitted since the last flush
    and charges them to the spans; call it between ops.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._store = StatusStore(spark) if enabled and spark is not None else None
        self._seen_stage = -1
        self._seen_job = -1
        self._flushed = 0  # spans before this index are fully attributed
        self.flush_s = 0.0

    @contextmanager
    def span(self, name: str, op: int):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, op, parent, time.time()))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def flush(self) -> None:
        """Attribute everything the store gained since the last flush."""
        if self._store is None or self._stack:
            return
        t0 = time.perf_counter()
        oldest, stages = self._store.stages()
        stages = [s for s in stages if s["stageId"] > self._seen_stage]
        jobs = [j for j in self._store.jobs() if j["jobId"] > self._seen_job]
        spans = self.spans[self._flushed :]
        missing: set[int] = set()
        # stage ids are dense and the store drops the oldest first: if the
        # oldest it still holds is past the next unread id, stages were lost
        if oldest is not None and oldest > self._seen_stage + 1:
            missing = set(range(len(spans)))
        if stages:
            self._seen_stage = max(s["stageId"] for s in stages)
        if jobs:
            self._seen_job = max(j["jobId"] for j in jobs)
        for i in missing:
            spans[i].counts = None
        attribute(spans, stages, "stage", missing)
        attribute(spans, jobs, "job", missing)
        self._flushed = len(self.spans)
        self.flush_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "counts": s.counts,
                        }
                    )
                    + "\n"
                )
