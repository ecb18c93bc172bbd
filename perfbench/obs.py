"""Measurement from outside the program: spans around public calls,
streaming progress from a ``StreamingQueryListener``, job/stage
metrics from the JVM status store, and process-tree RSS.

Nothing here reaches into the package's internals; every number is
read at a layer boundary the benchmark itself calls, or from Spark's
own monitoring surfaces.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import threading
import time
import uuid

from pyspark.sql.streaming import StreamingQueryListener


def pctl(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.

    With ``enabled`` false, :meth:`span` still times its body (the
    end-to-end numbers need the walls) but records nothing else.
    ``overhead_s`` accumulates the time spent inside tracing hooks.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if self.enabled:
                self.spans.append(rec)


class ProgressLog(StreamingQueryListener):
    """Micro-batch progress of the named queries, one dict per batch:
    ``name``, ``batch``, ``start``/``end`` (epoch seconds),
    ``rows`` and the ``durationMs`` phases."""

    def __init__(self, keep: set[str] | None, tracer: Tracer) -> None:
        super().__init__()
        self.keep = keep
        self.tracer = tracer
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        p = event.progress
        if self.keep is None or p.name in self.keep:
            start = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            dur = dict(p.durationMs)
            rec = {"name": p.name, "batch": p.batchId, "start": start,
                   "end": start + dur.get("triggerExecution", 0) / 1000.0,
                   "rows": p.numInputRows, "ms": dur}
            with self._lock:
                self.batches.append(rec)
        self.tracer.overhead_s += time.perf_counter() - t

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def of(self, name: str) -> list[dict]:
        with self._lock:
            return sorted((b for b in self.batches if b["name"] == name),
                          key=lambda b: b["batch"])


def attribute(batches: list[dict], cum_expected: list[int]) -> list[float | None]:
    """End time of the first batch whose cumulative input covers each
    item's cumulative expected rows (``None`` when never covered).

    ``batches`` are one query's progress records in batch order and
    ``cum_expected[i]`` the rows that query must have read once item
    ``i`` (and everything before it) went through.
    """
    out: list[float | None] = []
    seen, j = 0, 0
    for need in cum_expected:
        while seen < need and j < len(batches):
            seen += batches[j]["rows"]
            j += 1
        out.append(batches[j - 1]["end"] if seen >= need and j > 0 else
                   (0.0 if need == 0 else None))
    return out


# ------------------------------------------------------------ status store

def _ts(ms: int | None) -> float | None:
    """Jackson writes status-store dates as epoch milliseconds."""
    return None if ms is None else ms / 1000.0


def status_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage the JVM ``AppStatusStore`` holds, as plain
    dicts (one Jackson round trip each, not one py4j call per field)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())))
    for j in jobs:
        j["t0"], j["t1"] = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
    for s in stages:
        s["t0"], s["t1"] = _ts(s.get("submissionTime")), _ts(s.get("completionTime"))
    return jobs, stages


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def engine_stats(jobs: list[dict], stages: list[dict], t0: float, t1: float) -> dict:
    """Jobs submitted in ``[t0, t1]`` and their stages' task metrics.
    ``driver_gap_s`` is the part of the interval no such job covered."""
    sel = [j for j in jobs if j["t0"] is not None and t0 <= j["t0"] <= t1]
    stage_ids = {sid for j in sel for sid in j.get("stageIds", [])}
    st = [s for s in stages if s["stageId"] in stage_ids]
    busy = _union_s([(j["t0"], min(j["t1"] or t1, t1)) for j in sel])
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(sel),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in st) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
        "input_mb": sum(s.get("inputBytes", 0) for s in st) / mb,
        "shuffle_mb": sum(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in st) / mb,
        "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st) / mb,
        "busy_s": busy,
        "driver_gap_s": max(0.0, (t1 - t0) - busy),
    }


# ------------------------------------------------------------------ memory

def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak RSS (``VmHWM``) of ``pid`` and every live
    descendant: the driver JVM and its Python workers.  Read once, with
    no sampling thread competing with the run for the interpreter."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree(pid)) / 1024.0
