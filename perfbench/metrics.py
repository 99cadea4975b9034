"""Pure helpers of the benchmark: percentiles, interval unions, span self
time, metric-name checks and failure accounting.  No Spark import, so the
tests in this directory run without a JVM."""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

_NAME = re.compile(r"[A-Za-z0-9_.-]+")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]+")


def check_metric_name(name: str) -> str:
    """Return `name` if it is a valid metric name, else raise ValueError.
    A name starts with a letter or digit and has at most 64 of
    `[A-Za-z0-9_.-]`."""
    if (
        not isinstance(name, str)
        or len(name) > 64
        or not _NAME.fullmatch(name)
        or not name[0].isalnum()
    ):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or len(unit) > 16 or not _UNIT.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r}")
    return unit


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100) of `values`."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile with at least `beyond` of `n` samples
    above it, or None when even the median has fewer (n < 2 * beyond)."""
    if n < 2 * beyond:
        return None
    return max(50, math.floor(100 * (n - beyond) / n))


def union_length(intervals) -> float:
    """Total length covered by the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # wall-clock seconds (time.time), comparable with Spark's event log
    end: float | None = None
    thread: str = ""
    attrs: dict | None = None

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_time(span: Span, kids: list[Span]) -> float:
    """A span's duration minus the part of its interval its children
    cover.  Children that run concurrently (the epoch's parallel writes)
    count once, as the union of their intervals."""
    covered = union_length(clip([(k.start, k.end) for k in kids], span.start, span.end))
    return span.dur - covered


def covered_frac(span: Span, kids: list[Span]) -> float:
    """Share of a span's wall covered by its child spans."""
    if span.dur <= 0:
        return 0.0
    return union_length(clip([(k.start, k.end) for k in kids], span.start, span.end)) / span.dur


def descendants(span_id: int, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(span_id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


class Tally:
    """Failure accounting: an operation fails when it raises or when its
    output check fails; failed_frac is failed / attempted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what or "check failed")
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
