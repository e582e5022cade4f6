"""In-memory span recorder for the traced run.

Spans are recorded around the harness's calls into each layer (never
inside the engine): name, start, end, parent span and request id (the
batch id, micro-batch id or query name). They stay in memory until
:meth:`Tracer.write` dumps them as JSON lines when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    thread: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, request: object = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if request is None and parent is not None:
            request = parent[1]
        stack.append((sid, request))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            span = Span(
                sid,
                name,
                start,
                end,
                parent[0] if parent else None,
                None if request is None else str(request),
                threading.current_thread().name,
            )
            with self._lock:
                self.spans.append(span)

    def record(
        self, name: str, start: float, end: float, request: object, parent: int | None = None
    ) -> int:
        """Add a span measured elsewhere (e.g. a micro-batch phase taken
        from Spark's progress report); returns its id."""
        sid = next(self._ids)
        span = Span(sid, name, start, end, parent, str(request), "progress")
        with self._lock:
            self.spans.append(span)
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    """Tracing off: spans cost one shared no-op context manager."""

    def span(self, name: str, request: object = None):
        return contextlib.nullcontext()

    def record(self, *args, **kwargs) -> None:
        return None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time in seconds per span name: each span's duration
    minus the union of the intervals its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s.id, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.name] += (s.end - s.start) - covered
    return dict(out)
