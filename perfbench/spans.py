"""Spans, Spark job accounting and the streaming-phase listener.

Spans live in memory and are written out once, after the run. Each
span tags the Spark jobs it starts with its own job group
(``setJobGroup`` is thread-local), so after the timed region the
engine-side cost of every span can be read back from the status
store. Nothing here runs inside the package: spans wrap the calls the
benchmark makes into it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every call is a
    no-op, so untraced runs pay nothing but the ``with`` statement."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.hook_s = 0.0  # time spent inside the tracer's own hooks
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the body as a span, child of the enclosing span of this
        thread, and tag the Spark jobs it starts with its job group."""
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1]["id"] if stack else None,
               "name": name, "group": f"perfbench-{sid}", "attrs": attrs}
        stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.add_hook(rec["start"] - h0)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
            self.add_hook(time.perf_counter() - rec["end"])

    def record(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        """Add a span measured elsewhere (stream ticks and phases), with
        ``start`` and ``end`` in wall-clock seconds (``time.time()``)."""
        if not self.enabled:
            return None
        shift = time.perf_counter() - time.time()
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "parent": parent, "name": name, "group": None,
                               "start": start + shift, "end": end + shift, "attrs": attrs})
        return sid

    def add_hook(self, dt: float) -> None:
        with self._lock:
            self.hook_s += dt

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": with_self_time(self.spans), **extra}, f, default=str)


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self_s``: the span's duration minus the
    part of its interval covered by its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cursor, s["start"]), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
    return out


# ---- engine side -------------------------------------------------------------

_STAGE_DONE = ("COMPLETE", "FAILED")


class Engine:
    """Reads jobs and stages from the status store once the timed region
    is over; ``jobs()`` lists jobs submitted since ``mark()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.since_ms = 0

    def mark(self) -> None:
        self.since_ms = int(time.time() * 1000)

    def jobs(self) -> list[dict]:
        seq = self.store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined() or sub.get().getTime() < self.since_ms:
                continue
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            stages = j.stageIds()
            out.append({"job": j.jobId(), "group": group,
                        "stages": [stages.apply(k) for k in range(stages.size())]})
        return out

    def stage_totals(self, jobs: list[dict]) -> dict:
        """Stage metrics summed over the stages that ran for ``jobs``;
        skipped stages (reused shuffle output) count nothing."""
        tot = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        seen = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.store.lastStageAttempt(sid)
                if s.status().toString() not in _STAGE_DONE:
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numCompleteTasks()
                tot["executor_run_s"] += s.executorRunTime() / 1e3
                tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += s.shuffleReadBytes() / MB
                tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        return tot

    def cached(self) -> dict:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return {"cached_rdds": len(infos),
                "cached_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB}


class PhaseListener(StreamingQueryListener):
    """Keeps the ``durationMs`` phases and start time of every trigger
    that processed input. The time spent in each callback, idle triggers
    included, goes to ``hook`` as tracing cost."""

    def __init__(self, hook):
        super().__init__()
        self.hook = hook
        self.progress: dict[int, dict] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        t0 = time.perf_counter()
        p = event.progress
        if p.numInputRows > 0 and p.batchId not in self.progress:
            self.progress[p.batchId] = {"timestamp": p.timestamp, "durationMs": dict(p.durationMs)}
        self.hook(time.perf_counter() - t0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
