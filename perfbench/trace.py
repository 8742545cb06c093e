"""Pure helpers of the benchmark: spans, interval arithmetic, percentiles.

Nothing here touches Spark or the catalog; the workloads feed it
timestamps and it answers "how long", "how much of it was covered" and
"which job belongs to which operation".
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: a percentile is reported only when at least this many samples lie
#: beyond its rank, so p50 needs 20 samples and p90 needs 100
MIN_SAMPLES_BEYOND = 10


def percentile(values: list[float], q: float, min_beyond: int = MIN_SAMPLES_BEYOND) -> float | None:
    """Nearest-rank ``q``-quantile (0 < q < 1), or None when fewer than
    ``min_beyond`` samples lie above the rank."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - union_length(clip(children.get(s.span_id, []), s.start, s.end))
        for s in spans
    }


def uncovered_s(spans: list[Span], lo: float, hi: float) -> float:
    """Wall time in ``[lo, hi]`` that no span covers."""
    return (hi - lo) - union_length(clip([(s.start, s.end) for s in spans], lo, hi))


def attribute_jobs(
    ops: dict[str, tuple[float, float]], jobs: list[dict]
) -> dict[str, dict[str, float]]:
    """Attribute Spark jobs to the operations that ran them.

    ``ops`` maps a job-group id to the operation's ``(start, end)`` wall
    interval; ``jobs`` holds ``{"group", "start", "end", **counters}``
    with times on the same clock. Per operation this returns the summed
    counters, ``jobs``, ``exec_s`` (the union of its job intervals inside
    the operation) and ``driver_s`` (operation wall minus that union)."""
    out: dict[str, dict[str, float]] = {}
    by_group: dict[str, list[dict]] = {}
    for job in jobs:
        by_group.setdefault(job.get("group"), []).append(job)
    for group, (lo, hi) in ops.items():
        mine = by_group.get(group, [])
        exec_s = union_length(clip([(j["start"], j["end"]) for j in mine], lo, hi))
        agg: dict[str, float] = {"jobs": len(mine), "exec_s": exec_s, "driver_s": (hi - lo) - exec_s}
        for job in mine:
            for k, v in job.items():
                if k not in ("group", "start", "end"):
                    agg[k] = agg.get(k, 0) + v
        out[group] = agg
    return out


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op
    so the untraced run pays one attribute check per call."""

    def __init__(self, trace_id: str, enabled: bool = True):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        span = Span(
            span_id=next(self._ids),
            name=name,
            start=time.perf_counter(),
            end=0.0,
            parent=stack[-1] if stack else None,
            trace_id=self.trace_id,
            attrs=attrs,
        )
        stack.append(span.span_id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s), default=str) + "\n")
