"""Pure measurement helpers: percentiles, spans and event-log aggregation.
Nothing here touches Spark, so the tests run without a JVM."""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def ratio(num: float, den: float) -> float:
    """num / den, 0 when the base is 0 (an empty layer has no ratio)."""
    return num / den if den else 0.0


class Tracer:
    """In-memory spans (id, parent, name, start, end, attrs).  With
    ``enabled`` false, :meth:`span` only yields None and records nothing.
    ``on_enter`` is called with the innermost open span (None when none is
    open) whenever that changes, so Spark jobs can be tagged with it."""

    def __init__(self, enabled: bool, on_enter=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._on_enter = on_enter

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self._on_enter:
            self._on_enter(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._on_enter:
                self._on_enter(self.spans[self._stack[-1]] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def event_log_by_description(lines) -> dict[str, dict]:
    """Aggregate a Spark event log (JSON lines) per job description.

    Returns description -> {jobs, task_s, gc_s, shuffle_mib, spill_mib,
    max_task_ratio}; ``max_task_ratio`` is max / median task run time in
    the description's slowest stage (by summed task time)."""
    stage_desc: dict[int, str] = {}
    jobs: dict[str, int] = {}
    stage_tasks: dict[int, list] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            jobs[desc] = jobs.get(desc, 0) + 1
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            stage_tasks.setdefault(ev["Stage ID"], []).append((
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("JVM GC Time", 0) / 1000.0,
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0),
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            ))
    out = {d: {"jobs": n, "task_s": 0.0, "gc_s": 0.0, "shuffle_mib": 0.0,
               "spill_mib": 0.0, "max_task_ratio": 0.0, "_slowest": -1.0}
           for d, n in jobs.items()}
    for sid, tasks in stage_tasks.items():
        rec = out.get(stage_desc.get(sid))
        if rec is None:
            continue
        run = [t[0] for t in tasks]
        rec["task_s"] += sum(run)
        rec["gc_s"] += sum(t[1] for t in tasks)
        rec["shuffle_mib"] += sum(t[2] for t in tasks) / 2**20
        rec["spill_mib"] += sum(t[3] for t in tasks) / 2**20
        if sum(run) > rec["_slowest"]:
            rec["_slowest"] = sum(run)
            rec["max_task_ratio"] = ratio(max(run), median(run))
    for rec in out.values():
        del rec["_slowest"]
    return out
