"""Sample summaries and delivery matching shared by the workloads."""

from __future__ import annotations

import bisect
import math
from collections.abc import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return float(s[_rank(q, len(s)) - 1])


def _rank(q: float, n: int) -> int:
    return max(1, math.ceil(q * n / 100))


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest percentile (a multiple of 5, at most 99) that has at
    least ``beyond`` samples strictly above it in a sample of ``n``;
    None when not even the median qualifies."""
    best = None
    for q in (50, 75, 90, 95, 99):
        if n - _rank(q, n) >= beyond:
            best = float(q)
    return best


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def match_deliveries(
    thresholds: Iterable[tuple[object, float, dict[int, int]]],
    cursor_events: Sequence[tuple[float, dict[int, int]]],
) -> list[tuple[object, int, float]]:
    """Match each ``(request, bucket)`` to the first cursor event that
    delivers it.

    ``thresholds`` yields ``(request_id, start_time, {bucket: max_seq})``
    — the highest seq each request wrote per bucket. ``cursor_events``
    are ``(completion_time, {bucket: next_seq})`` — a micro-batch's
    source ``endOffset`` cursors or a consumer's committed offsets,
    which are exclusive. Cursors only rise, so the events are ordered by
    time and a bucket's cursor is carried forward from its last event.

    Returns ``(request_id, bucket, latency)`` for every delivered pair;
    undelivered pairs are left out (the caller counts them).
    """
    events = sorted(cursor_events, key=lambda e: e[0])
    # per bucket: completion times and the running cursor at each
    times: dict[int, list[float]] = {}
    cursors: dict[int, list[int]] = {}
    for t, cur in events:
        for b, c in cur.items():
            b, c = int(b), int(c)
            prev = cursors.get(b)
            if prev and c <= prev[-1]:
                continue
            times.setdefault(b, []).append(t)
            cursors.setdefault(b, []).append(c)
    out = []
    for rid, start, maxima in thresholds:
        for b, mx in maxima.items():
            cs = cursors.get(int(b))
            if not cs:
                continue
            i = bisect.bisect_right(cs, int(mx))  # first cursor > max seq
            if i < len(cs):
                out.append((rid, int(b), times[int(b)][i] - start))
    return out


def touched(before: dict[int, int], after: dict[int, int]) -> dict[int, int]:
    """Buckets whose max seq rose between two manifest maxima reads."""
    return {
        int(b): int(m) for b, m in after.items() if int(m) > int(before.get(b, -1))
    }
