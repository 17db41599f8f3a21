"""Span recording for the traced run.

The benchmark measures each layer from outside: at run time it wraps
the layer's public functions with recorders, so the engine itself is
never edited. Spans stay in memory and are written once at the end.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [s.end - s.start - union_length(kids.get(i, []))
            for i, s in enumerate(spans)]


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    op: str = "setup"
    enabled: bool = True
    bloom_kept: list[tuple[str, tuple]] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)

    def add(self, name: str, value: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn, after=None):
        """``fn`` recorded as span ``name``; ``after(result, args,
        kwargs)`` runs outside the span to count what the call did."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out
        return wrapper

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a recording wrapper, and every
        other binding of the same function object in the engine's
        modules (``from x import f`` copies the name)."""
        orig = getattr(owner, attr)
        raw = orig.__func__ if isinstance(orig, staticmethod) else orig
        wrapped = self.wrap(name, raw, after)
        if isinstance(owner, type):
            setattr(owner, attr, staticmethod(wrapped)
                    if isinstance(owner.__dict__.get(attr), staticmethod)
                    else wrapped)
            return
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("sleeper_spark")
                    and getattr(mod, attr, None) is raw):
                setattr(mod, attr, wrapped)

    def layer_self_s(self, ops: set[str]) -> dict[str, float]:
        """Seconds of self time per layer over spans of ``ops``."""
        out: dict[str, float] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            if s.op in ops:
                out[layer_of(s.name)] = out.get(layer_of(s.name), 0.0) + st
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans],
                       "counters": self.counters}, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        self.idx = len(self.tracer.spans)
        self.tracer.spans.append(Span(self.name, time.time(), 0.0,
                                      stack[-1] if stack else None,
                                      self.tracer.op))
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.tracer._local.stack.pop()
        self.tracer.spans[self.idx].end = time.time()
        return False


# ---------------------------------------------------------------------------
# Spark event log: jobs, tasks and timings per job group
# ---------------------------------------------------------------------------

def read_event_log(event_dir: str) -> dict[str, list[dict]]:
    """``{job_group: [{"start", "end", "tasks"}, ...]}`` (times in
    epoch seconds) from the one application log under ``event_dir``."""
    files = [p for p in glob.glob(os.path.join(event_dir, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    groups: dict[str, list[dict]] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    job = {"start": ev["Submission Time"] / 1000.0,
                           "end": None, "tasks": 0}
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                    if group:
                        groups.setdefault(group, []).append(job)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = (
                            ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid in jobs:
                        jobs[jid]["tasks"] += 1
    for g in groups.values():
        g[:] = [j for j in g if j["end"] is not None]
    return groups
