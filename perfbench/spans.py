"""Spans, layer wrappers, Spark event-log parsing and percentiles.

Tracing is done from outside the engine: :func:`wrap` replaces a public
function of an engine module with one that records a span around the call.
Every span also sets its own Spark job group, so the jobs a layer starts
can be counted from the event log afterwards.  Spans are kept in memory
and summarised when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"
GROUP_PREFIX = "pb-"


def percentile(values: list[float], p: float) -> float:
    """Linearly interpolated ``p``-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def reportable(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ten beyond the ``p``-th
    percentile, the rule for the highest percentile a run may report."""
    return n * (100.0 - p) / 100.0 >= 10.0


@dataclass
class Span:
    id: int
    name: str
    trace: str | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the time its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.duration - covered(children[s.id], s.start, s.end) for s in spans}


class Tracer:
    """In-memory span recorder.  The parent of a span is the innermost open
    span of the same thread; a span without a trace id inherits its
    parent's.  With a SparkContext, each span sets the job group
    ``pb-<span id>`` for its own duration and restores the caller's."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, trace: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = parent.trace
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, name, trace, parent.id if parent else None, 0.0)
        if self.sc is not None:
            span.attrs["_prev_group"] = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"{GROUP_PREFIX}{sid}")
        stack.append(span)
        span.start = time.perf_counter()
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().remove(span)
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, span.attrs.pop("_prev_group"))
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        s = self.open(name, trace)
        try:
            yield s
        except BaseException:
            s.attrs["failed"] = True
            raise
        finally:
            self.close(s)


def wrap(tracer: Tracer, owner, attr: str, name: str, trace_of=None, package: str | None = None) -> None:
    """Replace ``owner.attr`` with a traced wrapper.

    ``trace_of(args, kwargs)`` may name the trace id.  With ``package``,
    every loaded module of that package that imported the function by name
    is patched too."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(name, trace_of(args, kwargs) if trace_of else None):
            return orig(*args, **kwargs)

    static = isinstance(owner, type) and isinstance(owner.__dict__.get(attr), staticmethod)
    setattr(owner, attr, staticmethod(traced) if static else traced)
    if package:
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(package) and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)


# --- Spark event log ---------------------------------------------------------


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    sched_wait_s: float = 0.0

    def add(self, other: "GroupMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def parse_event_log(path: str) -> dict[str, GroupMetrics]:
    """Job-group id -> jobs, tasks and task metrics, from one uncompressed
    Spark event log (one JSON event per line).  Jobs without a group are
    keyed by ``""``."""
    stage_group: dict[int, str] = {}
    stage_submitted: dict[int, float] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    mb = 1024.0 * 1024.0
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submitted[info["Stage ID"]] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                m = out[stage_group.get(ev["Stage ID"], "")]
                m.tasks += 1
                info = ev.get("Task Info") or {}
                sub = stage_submitted.get(ev["Stage ID"])
                if sub is not None and info.get("Launch Time") is not None:
                    m.sched_wait_s += max(0, info["Launch Time"] - sub) / 1000.0
                tm = ev.get("Task Metrics") or {}
                m.executor_run_s += tm.get("Executor Run Time", 0) / 1000.0
                m.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                m.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                m.spill_mb += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / mb
                sr = tm.get("Shuffle Read Metrics") or {}
                m.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
                sw = tm.get("Shuffle Write Metrics") or {}
                m.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
    return dict(out)


def find_event_log(directory: str) -> str:
    """The single application event log Spark wrote into ``directory``."""
    logs = [f for f in os.listdir(directory) if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {logs}")
    return os.path.join(directory, logs[0])
