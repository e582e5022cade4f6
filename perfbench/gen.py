"""Seeded input generators for the pub/sub workloads.

Every batch is a pure function of ``(seed, batch index)``: the same seed
gives byte-identical batches, so the correctness checks can recompute
what the engine must have delivered without trusting anything the
engine reports. Rows follow the ``events`` fixture schema.
"""

from __future__ import annotations

import functools
import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EVENT_TYPES = np.array(["view", "click", "cart", "purchase", "error"])
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
MINUTE_US = 60_000_000
# Users: the north star is traffic from millions of users. Popularity
# skew: the Zipfian constant 0.99 of YCSB's request generator (Cooper et
# al., "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010). With
# bucket = user_id mod 8 the hottest bucket gets ~17 % of the rows.
N_USERS = 1_000_000
ZIPF_S = 0.99


def _rng(seed: int, stream: int, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def _props(rng: np.random.Generator, n: int) -> list[str]:
    """Variable-length JSON payloads: a small key, a tag list, and a
    log-normally sized pad (tens to hundreds of bytes)."""
    k = rng.integers(0, 100, n)
    n_tags = rng.integers(0, 4, n)
    pad = np.clip(rng.lognormal(3.5, 0.8, n).astype(np.int64), 1, 600)
    return [
        '{"k": %d, "tags": [%s], "pad": "%s"}'
        % (k[j], ", ".join(f'"t{t}"' for t in range(n_tags[j])), "x" * pad[j])
        for j in range(n)
    ]


def _table(event_id, ts_us, user_id, rng: np.random.Generator) -> pa.Table:
    n = len(event_id)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.gamma(2.0, 5.0, n), 2)),
            "props": pa.array(_props(rng, n), pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def zipf_weights(n_users: int = N_USERS, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** s
    return w / w.sum()


@functools.cache
def _zipf_cdf() -> np.ndarray:
    return np.cumsum(zipf_weights())


def pubsub_batch(seed: int, index: int, rows: int) -> pa.Table:
    """Batch ``index`` of the closed-loop workload: Zipf-skewed users
    (user id = popularity rank, so the buckets ``id mod n`` of the
    hottest ids run hot), event ids contiguous across batches, and event
    times with a little in-batch disorder."""
    rng = _rng(seed, 1, index)
    event_id = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    cdf = _zipf_cdf()
    user_id = np.minimum(np.searchsorted(cdf, rng.random(rows) * cdf[-1], side="right"), N_USERS - 1)
    ts_us = BASE_TS_US + event_id * 1_000 + rng.integers(0, 50_000, rows)
    return _table(event_id, ts_us, user_id, rng)


def bucket_order(tbl: pa.Table, n_buckets: int) -> dict[int, np.ndarray]:
    """Per-bucket event ids in the order produce must deliver them:
    bucket = user_id mod n, FIFO by (ts, event_id) within the batch."""
    bucket = tbl["user_id"].to_numpy() % n_buckets
    ts = tbl["ts"].cast(pa.int64()).to_numpy()
    eid = tbl["event_id"].to_numpy()
    out = {}
    for b in range(n_buckets):
        sel = bucket == b
        order = np.lexsort((eid[sel], ts[sel]))
        out[b] = eid[sel][order]
    return out


def fingerprint(event_ids: np.ndarray) -> str:
    """Order-sensitive digest of an event-id sequence."""
    return hashlib.sha1(np.ascontiguousarray(event_ids, dtype="<i8").tobytes()).hexdigest()


@dataclass
class StreamPlan:
    """Open-loop stream input: ``rows`` fresh events per batch plus a
    ``dup_share`` of redelivered copies of rows from the previous
    ``max_lag`` batches. Batch ``i`` spans event-time minute ``i``.
    A plan caches the batches it made: a duplicate is a copy of an
    earlier fresh batch, and the correctness check reads them all again.
    A new plan generates everything again."""

    seed: int
    rows: int
    dup_share: float = 0.1
    max_lag: int = 4
    horizon_min: int = 10  # streaming.api.dedup_stream's default watermark
    _made: dict = field(default_factory=dict, init=False, repr=False, compare=False)

    def fresh(self, index: int) -> pa.Table:
        key = ("fresh", index)
        if key not in self._made:
            rng = _rng(self.seed, 2, index)
            event_id = np.arange(index * self.rows, (index + 1) * self.rows, dtype=np.int64)
            user_id = rng.integers(0, N_USERS, self.rows)
            offsets = np.sort(rng.integers(0, MINUTE_US, self.rows))
            self._made[key] = _table(event_id, BASE_TS_US + index * MINUTE_US + offsets, user_id, rng)
        return self._made[key]

    def batch(self, index: int) -> pa.Table:
        """Fresh rows of batch ``index`` followed by its redelivered
        duplicates (exact copies, so ``(event_id, ts)`` match)."""
        key = ("batch", index)
        if key not in self._made:
            self._made[key] = self._with_duplicates(index)
        return self._made[key]

    def _with_duplicates(self, index: int) -> pa.Table:
        fresh = self.fresh(index)
        if index == 0:
            return fresh
        rng = _rng(self.seed, 3, index)
        n_dup = int(round(self.rows * self.dup_share))
        lags = rng.integers(1, min(self.max_lag, index) + 1, n_dup)
        parts = [fresh]
        for lag in np.unique(lags):
            pick = rng.choice(self.rows, size=int((lags == lag).sum()), replace=False)
            parts.append(self.fresh(index - int(lag)).take(pa.array(np.sort(pick))))
        return pa.concat_tables(parts)

    def arrival(self, index: int) -> float:
        """Where in its send slot batch ``index`` is due, as a share of
        the slot (uniform in [0, 1)). Arrivals at random points of their
        slots do not lock into step with the engine's trigger cycle, so
        every batch samples an independent point of that cycle."""
        return float(_rng(self.seed, 4, index).random())

    def duplicate_slack_us(self, index: int) -> int:
        """Event-time distance between the oldest duplicate in batch
        ``index`` and the highest watermark that batch can meet (the end
        of its own event-time minute minus the horizon). Positive means
        every duplicate stays inside the horizon, so dedup drops it as a
        duplicate and never as a late row."""
        dups = self.batch(index).slice(self.rows)
        if dups.num_rows == 0:
            return self.horizon_min * MINUTE_US
        oldest = int(dups["ts"].cast(pa.int64()).to_numpy().min())
        watermark_max = BASE_TS_US + (index + 1) * MINUTE_US - self.horizon_min * MINUTE_US
        return oldest - watermark_max
