"""Types shared by the workload modules."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from perfbench.stats import percentile


@dataclass
class Phase:
    """What one measured phase of a workload observed.

    ``e2e`` maps metric name -> (value, unit, sample count); ``layer``
    maps per-layer metric name -> (value, unit). ``errors`` lists every
    failed correctness check; an empty list means the phase is correct.
    """

    e2e: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def latency(self, prefix: str, samples_ms: list[float]) -> None:
        """Record ``<prefix>_p50_ms`` and ``<prefix>_p90_ms``."""
        for q in (50, 90):
            value = percentile(samples_ms, q) if samples_ms else float("nan")
            self.e2e[f"{prefix}_p{q}_ms"] = (value, "ms", len(samples_ms))


def manifest_stats(store, topic: str) -> tuple[int, int, int, dict[int, int]]:
    """(version, live files, live bytes, {bucket: max seq}) of a topic's
    newest manifest."""
    version, m = store.latest_manifest(topic)
    data = store.data_dir(topic)
    nbytes = sum(os.path.getsize(os.path.join(data, f)) for f in m["files"])
    maxima = {int(b): int(x) for b, x in m.get("maxima", {}).items()}
    return version, len(m["files"]), nbytes, maxima
