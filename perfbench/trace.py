"""Spans, Spark event-log parsing and the arithmetic that joins them.

Spans are recorded in the benchmark's own code around each call into a
layer of the package (no instrumentation inside the program).  Each span
carries its name, epoch start/end, parent span and operation id; they stay
in memory and are written out when the run ends.

Executor-side numbers come from Spark's JSON event log.  Jobs are tied to
spans by submission time, never by job group: the program launches jobs
from its own thread pools, whose threads do not inherit the caller's group.
Everything below except `Tracer` is a pure function of its arguments so the
tests can feed it small synthetic spans and event logs.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  `span()` nests through a stack, so the
    benchmark must call it from one thread (it does: one closed-loop
    client)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, kind: str | None = None, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None,
              "kind": kind if kind is not None else (parent or {}).get("kind"),
              "op": op if op is not None else (parent or {}).get("op"),
              "start": time.time(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()


# --------------------------------------------------------------- intervals

def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by `intervals` ((start, end) pairs), each first
    clipped to [lo, hi] when given.  Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(
                (sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"])
            - union_length(children.get(sp["id"], []), sp["start"], sp["end"])
            for sp in spans}


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int, int | None]:
    """Job id -> id of the innermost span open at the job's submission time
    (None when no span was open).  Innermost = latest-starting span that
    contains the instant, which is the deepest one for properly nested
    spans."""
    out = {}
    for jid, job in jobs.items():
        t = job["submit"]
        best = None
        for sp in spans:
            if sp["start"] <= t <= sp["end"] and (
                    best is None or sp["start"] >= best["start"]):
                best = sp
        out[jid] = best["id"] if best else None
    return out


def driver_gap(start: float, end: float, stage_intervals) -> float:
    """Wall time in [start, end] during which no Spark stage was running:
    time the driver spent on planning, metadata, Python and waiting."""
    return (end - start) - union_length(stage_intervals, start, end)


def tail_percentile(samples, min_beyond: int = 10,
                    grid=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest percentile in `grid` with at least `min_beyond` samples
    strictly above its nearest-rank position.  Returns (percentile, value,
    samples_beyond) or None when even the median has too few."""
    xs = sorted(samples)
    n = len(xs)
    for p in grid:
        idx = max(math.ceil(p / 100.0 * n) - 1, 0)
        beyond = n - (idx + 1)
        if n and beyond >= min_beyond:
            return p, xs[idx], beyond
    return None


# --------------------------------------------------------------- event log

# SQL metrics (task accumulables, milliseconds) -> stage key
_ACC = {"time to start Python workers": "python_boot_s",
        "scan time": "scan_s"}


def parse_event_log(lines) -> tuple[dict, dict]:
    """(jobs, stages) from the JSON lines of one Spark event log.

    jobs:   id -> {submit, end, stages}          (epoch seconds)
    stages: id -> {submit, end, tasks, run_s, cpu_s, gc_s,
                   shuffle_write_bytes, python_boot_s, scan_s}
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid):
        return stages.setdefault(sid, {
            "submit": None, "end": None, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "python_boot_s": 0.0, "scan_s": 0.0})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0,
                                  "end": None,
                                  "stages": list(ev.get("Stage IDs", []))}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind in ("SparkListenerStageSubmitted",
                      "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            st = stage(info["Stage ID"])
            if info.get("Submission Time") is not None:
                st["submit"] = info["Submission Time"] / 1000.0
            if info.get("Completion Time") is not None:
                st["end"] = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stage(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                          ).get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key and acc.get("Update") is not None:
                    st[key] += float(acc["Update"]) / 1000.0
    # a stage reused by a later job (skipped shuffle map stage) is listed
    # by both jobs but ran once: it belongs to the earliest job only
    claimed: set[int] = set()
    for jid in sorted(jobs):
        own = [s for s in jobs[jid]["stages"] if s not in claimed]
        claimed.update(own)
        jobs[jid]["stages"] = own
    return jobs, stages


def layer_of(name: str) -> str:
    """Span name -> layer: the package module a span wraps, i.e. the name
    up to an optional `:detail` suffix."""
    return name.split(":", 1)[0]


def executor_rollup(span_ids, job_span: dict, jobs: dict, stages: dict) -> dict:
    """Sum the executor-side numbers of every job attributed to one of
    `span_ids`.  Returns jobs, tasks, task run/CPU/GC seconds, Python
    worker boot seconds, scan seconds, shuffle bytes written, and
    the stage intervals (for driver gap)."""
    ids = set(span_ids)
    out = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "python_boot_s": 0.0, "scan_s": 0.0,
           "shuffle_write_bytes": 0, "stage_intervals": []}
    for jid, sid in job_span.items():
        if sid not in ids:
            continue
        out["jobs"] += 1
        for stid in jobs[jid]["stages"]:
            st = stages.get(stid)
            if st is None or st["tasks"] == 0:
                continue  # skipped stage: no task ran
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "python_boot_s",
                      "scan_s", "shuffle_write_bytes"):
                out[k] += st[k]
            if st["submit"] is not None and st["end"] is not None:
                out["stage_intervals"].append((st["submit"], st["end"]))
    return out
