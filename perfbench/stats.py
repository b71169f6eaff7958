"""Pure helpers of the benchmark: percentiles, open-loop timing, failure
counting and span self time. No Spark here, so the tests run without it."""

from __future__ import annotations

import math
from dataclasses import dataclass, field


def geomean(xs: list[float]) -> float:
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that has at least
    ``beyond`` samples above it (nearest rank). Below ``2 * beyond + 1``
    samples that percentile is not above the median, so the tail is the
    maximum instead (percentile 100)."""
    if not xs:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    n = len(s)
    if n <= 2 * beyond:
        return 100.0, s[-1]
    rank = n - beyond  # 1-based nearest rank: `beyond` samples lie above
    return 100.0 * rank / n, s[rank - 1]


@dataclass
class OpenLoop:
    """Due-time bookkeeping of an open-loop load generator.

    Request ``i`` is due at ``start + i / rate``. Its latency runs from the
    due time, not the send time, so a stall that delays later sends is
    charged to those requests. ``late`` is how far the generator itself
    ran behind schedule when it sent each request."""

    start: float
    rate: float
    latency: list[float] = field(default_factory=list)
    late: list[float] = field(default_factory=list)

    def due(self, i: int) -> float:
        return self.start + i / self.rate

    def record(self, i: int, sent: float, done: float) -> None:
        due = self.due(i)
        self.late.append(max(0.0, sent - due))
        self.latency.append(done - due)


@dataclass
class Outcomes:
    """Attempted/failed counts. An operation fails when it raises, returns
    a wrong answer, or misses its latency limit; ``ok_ratio`` is the share
    that did none of these."""

    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    errors: int = 0
    over_limit: int = 0
    notes: list[str] = field(default_factory=list)

    def add(self, correct: bool, seconds: float, limit_s: float,
            error: str | None = None) -> bool:
        """Count one operation; returns whether it succeeded."""
        self.attempted += 1
        ok = True
        if error is not None:
            self.errors += 1
            ok = False
            self._note(error)
        elif not correct:
            self.wrong += 1
            ok = False
        if seconds > limit_s:
            self.over_limit += 1
            ok = False
        if not ok:
            self.failed += 1
        return ok

    def check(self, correct: bool, what: str) -> None:
        """Count a run-level check (for example row conservation) as one
        attempted operation."""
        self.add(correct, 0.0, math.inf, None)
        if not correct:
            self._note(f"check failed: {what}")

    def _note(self, msg: str) -> None:
        if len(self.notes) < 5:
            self.notes.append(msg[:300])

    @property
    def ok_ratio(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    id: int
    parent: int | None = None
    request: str | None = None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval covered by its direct children (overlapping children count
    once), summed over spans of the same name."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out
