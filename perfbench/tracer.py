"""Span tracer and Spark stage scraper for the benchmark's traced mode.

A span is (name, start, end, parent, operation id). Spans live in memory
and are written once, as one JSON file, when the run ends; each span's
self time is its duration minus its children's. Spans that wrap Spark
work carry the stage totals of the jobs that ran inside them, read from
the Spark status REST API (which needs ``spark.ui.enabled=true``, so only
traced runs start the UI).

The untraced run uses :data:`NULL_TRACER`: the same calls, no bookkeeping.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    # REST StageData field -> (metric suffix, scale to the metric's unit)
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1.0),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1.0),
    "diskBytesSpilled": ("spill_bytes", 1.0),
    "inputBytes": ("input_bytes", 1.0),
    "numCompleteTasks": ("tasks", 1.0),
    "numFailedTasks": ("tasks_failed", 1.0),
}
EXEC_KEYS = tuple(k for k, _ in STAGE_FIELDS.values()) + (
    "jobs", "stages", "stages_skipped",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    op: int
    end: float = 0.0
    stages: dict[str, float] | None = None
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class StageScraper:
    """Job/stage totals between two marks, from the status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        # The first REST read starts the API's handlers (2-6 s); do it here,
        # outside any timed span.
        self.mark()

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.loads(r.read())

    def _drain(self) -> None:
        # The status store is fed by the asynchronous listener bus.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> tuple[int, int]:
        self._drain()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._drain()
        job0, stage0 = mark
        jobs = [j for j in self._get("/jobs") if j["jobId"] > job0]
        stages = [s for s in self._get("/stages") if s["stageId"] > stage0]
        out = {k: 0.0 for k in EXEC_KEYS}
        for s in stages:
            if s["status"] == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            for src, (dst, scale) in STAGE_FIELDS.items():
                out[dst] += s.get(src, 0) * scale
        out["jobs"] = float(len(jobs))
        return out


class Tracer:
    """In-memory span recorder; ``scraper`` attaches stage totals."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_op = 0
        self.scraper: StageScraper | None = None
        self.overhead_s = 0.0  # time spent in draining and REST reads

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    @contextmanager
    def span(self, name: str, op: int = 0, stages: bool = False):
        parent = self._stack[-1] if self._stack else None
        if parent is not None and not op:
            op = self.spans[parent].op
        mark = None
        if stages and self.scraper is not None:
            t = time.perf_counter()
            mark = self.scraper.mark()
            self.overhead_s += time.perf_counter() - t
        s = Span(name, time.perf_counter(), parent, op)
        idx = len(self.spans)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                t = time.perf_counter()
                s.stages = self.scraper.since(mark)
                self.overhead_s += time.perf_counter() - t

    def self_time(self, s: Span) -> float:
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": s.name,
                "op": s.op,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_time(s), 6),
                **({"stages": s.stages} if s.stages is not None else {}),
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=0)


class NullTracer:
    """Untraced mode: spans cost one context-manager entry and nothing else."""

    enabled = False

    def new_op(self) -> int:
        return 0

    @contextmanager
    def span(self, name: str, op: int = 0, stages: bool = False):
        yield


NULL_TRACER = NullTracer()
