"""Latency summaries and process memory readings."""

from __future__ import annotations

import math
from typing import Dict, List, Sequence, Tuple

# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10
# Candidate tail percentiles, highest first; p50 is the fallback. The
# ladder is coarse so that runs of one workload, whose operation counts
# differ a little, report the same percentile.
_TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float:
    """Highest candidate percentile with at least ``TAIL_BEYOND`` of ``n``
    samples strictly beyond it; 50 when the sample is too small for any.

    The samples beyond percentile q number n * (1 - q/100), so p90 needs
    100 samples, p75 needs 40 and p50 needs 20."""
    for q in _TAIL_CANDIDATES:
        if n * (100.0 - q) >= TAIL_BEYOND * 100:
            return q
    return 50.0


def tail(values: Sequence[float]) -> Tuple[float, float]:
    """(percentile used, value) of the supported latency tail."""
    q = tail_percentile(len(values))
    return q, percentile(values, q)


def tail_name(q: float) -> str:
    return "p%g" % q


def summarize(lat_by_kind: Dict[str, List[float]]) -> Dict[str, Dict]:
    """Per-kind median, supported tail and sample count."""
    out = {}
    for kind, xs in sorted(lat_by_kind.items()):
        if not xs:
            continue
        q, t = tail(xs)
        out[kind] = {"n": len(xs), "p50_s": median(xs),
                     "tail": tail_name(q), "tail_s": t}
    return out


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set of process ``pid`` (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
