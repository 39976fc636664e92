"""In-memory span tracing around the program's public entry points.

Spans are recorded only by wrappers this benchmark installs on the
program's modules and classes (``Tracer.wrap``); the program itself is
not instrumented. A span holds its name, start and end (monotonic clock
plus the wall clock, for aligning Spark's own timestamps), the id of the
span that caused it and the id of the cycle (one benchmark operation) it
belongs to. Everything stays in memory until ``dump``.

Self time of a span is its duration minus the part of its interval that
its child spans cover; overlapping children (the executor's per-table
thread pool) are merged first, so no instant is subtracted twice.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    cycle: int | None
    start: float  # time.perf_counter()
    end: float | None = None
    wall_start: float = 0.0  # time.time(), to align Spark's timestamps
    wall_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict[int, float]:
    """Span id → duration minus the union of its direct children."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered_length(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }


def uncovered_share(spans) -> float:
    """Share of the root spans' time (the operations) that none of their
    direct children (the layer calls) covers: benchmark glue and program
    code outside the wrapped entry points."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    roots = [s for s in spans if s.parent is None]
    total = sum(s.duration for s in roots)
    if total <= 0:
        raise ValueError("no root span time")
    covered = sum(covered_length(children.get(s.id, ()), s.start, s.end) for s in roots)
    return 1.0 - covered / total


class Tracer:
    """Span recorder. Parents come from the calling thread's open spans;
    a thread with none (a pool worker) hangs its spans under the innermost
    span open on the thread that created the tracer."""

    def __init__(self):
        self.spans: list[Span] = []
        self.cycle: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._owner_stack: list[Span] = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._owner_stack[-1] if self._owner_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, parent.id if parent else None, self.cycle,
                     time.perf_counter(), wall_start=time.time())
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            stack.pop()

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``name`` is the
        span name, or a function of the call's ``(args, kwargs)`` giving
        it; ``on_result(span, result)`` may attach attributes."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with tracer.span(span_name) as s:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def span_cost_s(n: int = 20_000) -> float:
    """Seconds one traced call adds to the same call untraced: the
    wrapper's own cost (span record, lock, parent stack), measured on a
    no-op method as the median of three rounds of ``n`` calls."""

    class Probe:
        def f(self):
            return None

    probe = Probe()

    def per_call() -> float:
        t0 = time.perf_counter()
        for _ in range(n):
            probe.f()
        return (time.perf_counter() - t0) / n

    bare = sorted(per_call() for _ in range(3))[1]
    tr = Tracer()
    tr.wrap(Probe, "f", "probe")
    try:
        wrapped = sorted(per_call() for _ in range(3))[1]
    finally:
        tr.unwrap_all()
    return max(wrapped - bare, 0.0)


def _spark_ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Spark's formatted byte size (``'2.5 MiB'``) in bytes."""
    num, unit = text.split("\n")[-1].split()[:2]
    return float(num.replace(",", "")) * _SIZE_UNITS[unit]


ENGINE_COUNTERS = ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
                   "spill_bytes", "input_bytes")


class SparkCounters:
    """Completed jobs, stages and SQL scans from the driver's status store,
    read once through the UI's REST API and attributed to spans by
    wall-clock window (work belongs to a span if it completed inside it).
    File-scan bytes come from the SQL scan nodes' ``size of files read``:
    stages of a write job report no input bytes."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("Spark UI is disabled; engine counters need spark.ui.enabled")
        port = url.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.stages: list[dict] = []
        self.jobs: list[dict] = []
        self.scans: list[dict] = []

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def refresh(self) -> None:
        self.stages = [
            {
                "done": _spark_ts(st.get("completionTime")),
                "tasks": st.get("numCompleteTasks", 0),
                "task_s": st.get("executorRunTime", 0) / 1000.0,
                "gc_s": st.get("jvmGcTime", 0) / 1000.0,
                "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
                "spill_bytes": st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0),
                "input_bytes": st.get("inputBytes", 0),
            }
            for st in self._get("/stages?status=complete")
        ]
        self.jobs = [
            {"submitted": _spark_ts(j.get("submissionTime"))}
            for j in self._get("/jobs")
        ]
        self.scans = []
        for ex in self._get("/sql?details=true&planDescription=false&length=1000000"):
            start = _spark_ts(ex.get("submissionTime"))
            if start is None:
                continue
            done = start + ex.get("duration", 0) / 1000.0
            for node in ex.get("nodes", []):
                if not node.get("nodeName", "").startswith("Scan"):
                    continue
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                if "size of files read" in m:
                    self.scans.append({"done": done, "bytes": parse_size(m["size of files read"])})

    def for_span(self, s: Span) -> dict:
        """Engine counters of the work that finished inside the span."""
        # Spark stamps with millisecond resolution; pad by one tick
        lo, hi = s.wall_start - 0.001, s.wall_end + 0.001
        out = {k: 0 for k in ENGINE_COUNTERS}
        out["jobs"] = sum(1 for j in self.jobs if j["submitted"] is not None and lo <= j["submitted"] <= hi)
        for st in self.stages:
            if st["done"] is not None and lo <= st["done"] <= hi:
                for k in ENGINE_COUNTERS[1:]:
                    out[k] += st[k]
        return out

    def scan_bytes(self, s: Span) -> float:
        """File bytes scanned by SQL executions finished inside the span."""
        lo, hi = s.wall_start - 0.001, s.wall_end + 0.001
        return sum(x["bytes"] for x in self.scans if lo <= x["done"] <= hi)
