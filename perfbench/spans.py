"""Spans around the program's public layer functions, for the traced run.

``Tracer.patch`` replaces a function of a ``wikidatabots_spark`` module —
in its home module and in every loaded module that imported it by name —
with a wrapper that records a span (name, start, end, parent, thread) and
the engine counters (``EngineCounters``) at both of its boundaries.

With ``materialize=True`` a wrapper that gets a DataFrame back checkpoints
it eagerly inside the span, so the span covers the layer's execution and
not only its plan build, and the caller continues from the materialized
rows (its lineage is cut there). That extra work is the tracing overhead
the traced run reports.

Everything stays in memory until ``dump``.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession


class EngineCounters:
    """Cumulative engine counters read from Spark's own status store:
    executor totals (tasks, failed tasks, shuffle write, input bytes) and,
    per completed stage, executor CPU time, GC time and spill."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen: dict[tuple[int, int], tuple[float, float, float]] = {}
        self._floor = 0
        self._lock = threading.Lock()

    def read(self) -> dict[str, float]:
        with self._lock:
            exs = self._store.executorList(True)
            tasks = failed = shuffle_w = input_b = 0
            for i in range(exs.length()):
                e = exs.apply(i)
                tasks += e.totalTasks()
                failed += e.failedTasks()
                shuffle_w += e.totalShuffleWrite()
                input_b += e.totalInputBytes()
            lst = self._jvm.java.util.ArrayList
            # stages come newest first: scan down to the oldest stage that
            # was still running at the previous read, and no further
            stages = self._store.stageList(lst(), False, False, self._no_quantiles, lst())
            scanned, running = [], []
            for i in range(stages.length()):
                sd = stages.apply(i)
                sid = sd.stageId()
                if sid < self._floor:
                    break
                scanned.append(sid)
                status = sd.status().toString()
                key = (sid, sd.attemptId())
                if status in ("ACTIVE", "PENDING"):
                    running.append(sid)
                elif key not in self._seen:
                    spill = sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    self._seen[key] = (sd.executorCpuTime() / 1e9, sd.jvmGcTime() / 1000.0, float(spill))
            if scanned:
                self._floor = min(running) if running else max(scanned) + 1
            cpu = sum(v[0] for v in self._seen.values())
            gc = sum(v[1] for v in self._seen.values())
            spill = sum(v[2] for v in self._seen.values())
            jobs = self._store.jobsList(lst())
            max_job = jobs.apply(0).jobId() if jobs.length() else -1
        return {
            "tasks": float(tasks),
            "failed_tasks": float(failed),
            "gc_s": gc,
            "shuffle_write_bytes": float(shuffle_w),
            "input_bytes": float(input_b),
            "executor_cpu_s": cpu,
            "spill_bytes": spill,
            "jobs": float(max_job + 1),
        }

    def job_intervals(self) -> list[tuple[float, float]]:
        """(submitted, completed) epoch seconds of every finished job the
        status store still holds."""
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        out = []
        for i in range(jobs.length()):
            j = jobs.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
        return out


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] not covered by any of ``intervals``."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(end - start - covered, 0.0)


def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in b}


class Tracer:
    def __init__(self, counters: EngineCounters | None = None) -> None:
        self.counters = counters
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []
        self.last: dict[str, object] = {}  # span name -> latest wrapped result
        self.t0 = time.perf_counter()
        self.t0_epoch = time.time()  # span times + t0_epoch = epoch seconds

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str) -> _Span:
        return _Span(self, name)

    def _open(self, name: str) -> dict:
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "thread": threading.current_thread().name,
            "start": time.perf_counter() - self.t0,
        }
        if self.counters is not None:
            rec["_c0"] = self.counters.read()
        stack.append(sid)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter() - self.t0
        if self.counters is not None:
            rec["counters"] = delta(rec.pop("_c0"), self.counters.read())
        self._stack().pop()
        with self._lock:
            self.spans.append(rec)

    # -- patching ---------------------------------------------------------
    def patch(self, module, attr: str, name: str, materialize: bool = False) -> None:
        """Wrap ``module.attr`` everywhere it is bound in the program's
        loaded modules (home module and ``from … import`` copies)."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
                if materialize and isinstance(out, DataFrame) and not out.isStreaming:
                    out = out.localCheckpoint(eager=True)
                tracer.last[name] = out
                return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("wikidatabots_spark") and getattr(mod, attr, None) is orig:
                self._undo.append((mod, attr, orig))
                setattr(mod, attr, wrapper)

    def unpatch(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()

    # -- summaries --------------------------------------------------------
    def totals(self, within: str | None = None) -> dict[str, dict[str, float]]:
        """Per span name: count, inclusive seconds, self seconds (duration
        minus the part of it covered by same-thread child spans). With
        ``within``, only spans nested in a span of that name count."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self._within(within):
            dur = s["end"] - s["start"]
            ivs = sorted((c["start"], c["end"]) for c in children[s["id"]])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            agg = out[s["name"]]
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += max(dur - covered, 0.0)
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def counter_sum(self, name: str, key: str, within: str | None = None) -> float:
        return sum(s.get("counters", {}).get(key, 0.0) for s in self._within(within) if s["name"] == name)

    def _within(self, name: str | None) -> list[dict]:
        """The spans nested in a span called ``name`` (all spans if None)."""
        if name is None:
            return self.spans
        by_id = {s["id"]: s for s in self.spans}

        def nested(s: dict) -> bool:
            while s["parent"] is not None:
                s = by_id[s["parent"]]
                if s["name"] == name:
                    return True
            return False

        return [s for s in self.spans if nested(s)]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_time": self.totals(), **extra}, fh, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> _Span:
        self.rec = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc: object) -> None:
        self.tracer._close(self.rec)
