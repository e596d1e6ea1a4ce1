"""Helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Result:
    """What one workload run reports: op counts, end-to-end metrics
    (untraced) and per-layer metrics (traced)."""

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def timed_setup(prepare, reps: int = 3):
    """Run ``prepare(rep)`` ``reps`` times; return (last result, median
    seconds).  Each rep builds the inputs from scratch into its own
    directory, so a change that moves work into set-up shows in
    ``setup_s``."""
    secs, out = [], None
    for rep in range(reps):
        t0 = time.perf_counter()
        out = prepare(rep)
        secs.append(time.perf_counter() - t0)
    log(f"set-up reps {', '.join(f'{s:.2f}' for s in secs)} s")
    return out, statistics.median(secs)


def log(msg: str) -> None:
    """Progress line on standard error (standard output ends in the result)."""
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)
