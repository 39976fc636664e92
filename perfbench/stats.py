"""Order statistics and metric-name rules for the benchmark report."""

from __future__ import annotations

import math
import re
import statistics

#: metric names: letters, digits, ``_``, ``.`` and ``-``, starting with a
#: letter or a digit, at most 64 characters
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"metric name {name!r} does not match {NAME_RE.pattern}")
    return name


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the ``pct`` percentile (nearest-rank) of n."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile. Refuses (ValueError) when fewer than
    ``MIN_BEYOND`` samples lie beyond it, so a tail is never read off a
    handful of samples."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("percentile of no samples")
    beyond = samples_beyond(n, pct)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{pct:g} needs {MIN_BEYOND} samples beyond it; "
            f"{n} samples leave {beyond}"
        )
    return float(vals[max(1, math.ceil(pct / 100.0 * n)) - 1])

