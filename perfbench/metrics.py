"""Metric arithmetic for the benchmark: percentiles, failure counting,
span trees. Pure Python, no Spark, so the tests run without a session."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# Highest first: tail_percentile reports the first one the sample supports.
PERCENTILE_LADDER = (0.99, 0.95, 0.90, 0.75, 0.50)
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"quantile {q} outside (0, 1]")
    ordered = sorted(samples)
    return ordered[max(math.ceil(q * len(ordered)), 1) - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank q-percentile."""
    return n - max(math.ceil(q * n), 1)


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest ladder percentile with at least
    MIN_BEYOND samples beyond it, or None when even the median lacks
    them."""
    for q in PERCENTILE_LADDER:
        if beyond(len(samples), q) >= MIN_BEYOND:
            return q, percentile(samples, q)
    return None


@dataclass
class Outcome:
    """One query execution: its latency, or the exception that ended it;
    ``check_ok`` is False when the query's output check failed."""

    query: str
    latency_s: float | None
    error: str | None = None
    check_ok: bool = True

    @property
    def failed(self) -> bool:
        return self.error is not None or not self.check_ok


def failed_ratio(outcomes: list[Outcome]) -> float:
    """Executions that raised or failed the output check, over all
    executions attempted."""
    if not outcomes:
        raise ValueError("no executions attempted")
    return sum(o.failed for o in outcomes) / len(outcomes)


def error_text(exc: BaseException) -> str:
    """Exception class and the first line of its message."""
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0] if lines else ''}".rstrip(": ")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(parent: Span, children: list[Span]) -> float:
    """Seconds of ``parent`` covered by the union of ``children``."""
    total, reach = 0.0, parent.start
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, reach), min(c.end, parent.end)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part its child spans
    cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - covered(s, kids.get(s.id, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def coverage(parent: Span, spans: list[Span]) -> float:
    """Share of ``parent`` that its direct children cover."""
    if parent.duration <= 0:
        return 1.0
    return covered(parent, [s for s in spans if s.parent == parent.id]) / parent.duration
