"""Percentiles and the CDC freshness computation, kept free of Spark so
that they can be tested on scripted timelines."""

from __future__ import annotations

import math
from dataclasses import dataclass

#: A percentile is reported only with at least this many samples
#: strictly beyond it.
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least a
    share ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_count(n: int, q: float) -> int:
    """Samples strictly beyond the nearest-rank ``q`` percentile of
    ``n`` samples (ties aside)."""
    return n - max(1, math.ceil(q * n))


def reportable(n: int, q: float) -> bool:
    return n > 0 and tail_count(n, q) >= MIN_TAIL


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def mean(values: list[float]) -> float:
    if not values:
        raise ValueError("no samples")
    return sum(values) / len(values)


@dataclass(frozen=True)
class Commit:
    """One writer transaction: its xid (in the cursor's 32-bit
    domain), when the open-loop schedule said to commit it, and when
    the commit returned."""

    xid: int
    scheduled: float
    committed: float


@dataclass(frozen=True)
class Poll:
    """One ``poll_once`` + apply: when it ended and the source cursor
    after it."""

    end: float
    cursor: int


def freshness(commits: list[Commit], polls: list[Poll]) -> tuple[list[float], int]:
    """Per transaction, the time from its scheduled commit to the end
    of the first poll after which the cursor reached its xid. Returns
    the samples and the number of transactions no poll ever passed
    (those count as failed, not as samples)."""
    polls = sorted(polls, key=lambda p: p.end)
    samples, missed = [], 0
    for c in commits:
        done = next((p for p in polls if p.cursor >= c.xid), None)
        if done is None:
            missed += 1
        else:
            samples.append(done.end - c.scheduled)
    return samples, missed


def backlog(commits: list[Commit], cursor: int, at: float) -> int:
    """Transactions committed by time ``at`` that the cursor has not
    yet passed."""
    return sum(1 for c in commits if c.committed <= at and c.xid > cursor)
