"""Shared workload plumbing: the traced operation root and metric records."""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench import stats


def metric(value, unit: str, n: int | None, why: str | None = None) -> dict:
    out = {"value": value, "unit": unit, "n": n}
    if why:
        out["why"] = why
    return out


def timing(name: str, values, out: dict, tail_name: str | None = None) -> None:
    """Median of ``values`` as ``name``; the tail as ``tail_name`` (p90),
    refused with the reason when fewer than 10 samples lie beyond it."""
    vals = list(values)
    if not vals:
        return
    out[name] = metric(stats.median(vals), "s", len(vals))
    if tail_name:
        try:
            out[tail_name] = metric(stats.percentile(vals, 90), "s", len(vals))
        except ValueError as e:
            out[tail_name] = metric(None, "s", len(vals), str(e))


class Workload:
    """One benchmark workload. ``setup`` derives inputs and prepares state
    on a fresh session; ``op`` runs one operation and returns its record
    (``op_s`` plus parts and an ``errors`` list from the output checks)."""

    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.nproc = nproc
        self.tracer = None

    @contextmanager
    def op_span(self, i: int, kind: str):
        if self.tracer is None:
            yield
            return
        self.tracer.cycle = i
        with self.tracer.span(f"op.{kind}"):
            yield

    @contextmanager
    def timed(self):
        """Wall seconds of the block, in ``out["s"]``."""
        out = {}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["s"] = time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        """A traced span when tracing is on, nothing otherwise."""
        if self.tracer is None:
            yield
            return
        with self.tracer.span(name):
            yield

    def spans(self, name: str):
        return [s for s in self.tracer.spans if s.name == name and s.cycle is not None]

    def setup_checks(self) -> None:
        """State the output checks need; not timed."""

    def teardown(self) -> None:
        pass

    def final_check(self) -> list[str]:
        """Checks of the state the whole run left behind."""
        return []

    def trace_extras(self, tracer, traced: list[dict], deadline: float) -> dict:
        """Probes run after the traced operations; none may start after
        ``deadline`` (a ``time.perf_counter()`` value)."""
        return {}
