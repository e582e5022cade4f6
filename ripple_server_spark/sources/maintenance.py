"""Scheduled topic maintenance — the A15 (cron scheduler) analog.

The reference ships a cron scheduler (``internal/cronjob/cronjob.go:
28-37``) whose intended broker jobs — periodic segment pushes and
batch distribution — are left as TODOs (``internal/broker/broker.go:
51,79``). The Spark-native form of "periodic broker housekeeping" is
the maintenance loop every log store runs (Kafka's log-cleaner thread,
Delta's scheduled OPTIMIZE + VACUUM): compact the small files that
micro-batch produces accumulate, age out segments past retention, and
reclaim unreferenced files — all through the same manifest commit
protocol the writers use, so a cycle can run concurrently with
produces without breaking snapshot isolation.

What a cycle cleans is the topic's cleanup policy, topic-level config
as in Kafka (``cleanup.policy``, ``retention.ms``, ... — described on
``TopicStore.topic_config`` and parsed by ``topics.cleanup_policy``):
each cycle reads it from the manifest it loads first, so
``alter_topic_config`` reaches a running loop at its next cycle. The
loop itself holds only the cleaner's schedule, the analogs of Kafka's
broker-level ``log.retention.check.interval.ms`` and
``log.cleaner.backoff.ms``.

Two trigger forms, mirroring Structured Streaming's triggers:

- :meth:`TopicMaintenance.run_once` — the ``Trigger.AvailableNow``
  shape: one retention -> key compaction -> compaction -> vacuum
  cycle, returns its stats.
- :meth:`TopicMaintenance.start` / :meth:`stop` — the
  ``Trigger(processingTime=...)`` shape: a daemon thread fires a cycle
  every ``interval_s`` until stopped. Cycle errors are recorded in
  :attr:`history` and do not kill the loop (cron semantics: the next
  tick runs).

Safety under concurrency (tests/test_maintenance.py):

- compact/truncate commit through the optimistic manifest protocol, so
  a produce landing mid-cycle is preserved by the loser's rebase;
- vacuum runs with a positive grace window so files a concurrent
  produce has moved into ``data/`` but not yet committed are never
  reclaimed (zero grace is for quiescent cleanup only).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from ripple_server_spark.sources.topics import TopicStore, cleanup_policy

DEFAULT_VACUUM_GRACE_S = 60.0


@dataclass
class CycleStats:
    compacted: bool = False
    files_before: int = 0
    files_after: int = 0
    truncated_files: int = 0
    vacuumed_files: int = 0
    key_dropped: int = 0
    error: str | None = None


@dataclass
class TopicMaintenance:
    """Periodic retention + key compaction + compaction + vacuum for one
    topic. The loop holds only the cleaner's schedule; what to clean is
    the topic's cleanup policy, read from its config at the start of
    every cycle (:meth:`TopicStore.topic_config` describes the keys), so
    an ``alter_topic_config`` takes effect at the next cycle.

    A cycle runs, in order: retention (``retention.seqs``, then the
    ``retention.ms`` pass at most every ``retention_check_interval_s``,
    Kafka's ``log.retention.check.interval.ms``), key compaction (under
    a ``compact`` policy, at most every ``key_compaction_interval_s``,
    the ``log.cleaner.backoff.ms`` analog, and only past the
    ``min.cleanable.dirty.ratio`` gate), compaction, and vacuum with
    ``vacuum_grace_s``. Both rate-limit windows are stamped only after
    their pass succeeds, so a failed pass is retried the next cycle.

    ``compact_when_files_over``: compact only when the live file count
    exceeds this; defaults to ``n_buckets`` (the post-compact state is
    exactly one file per non-empty bucket, so more files than buckets
    means produce segments have accumulated).
    """

    store: TopicStore
    topic: str
    interval_s: float = 30.0
    retention_check_interval_s: float = 300.0
    key_compaction_interval_s: float = 300.0
    compact_when_files_over: int | None = None
    vacuum_grace_s: float = DEFAULT_VACUUM_GRACE_S
    history: list[CycleStats] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._stop_evt: threading.Event | None = None
        self._thread: threading.Thread | None = None
        self._last_time_check: float = float("-inf")
        self._last_key_compaction: float = float("-inf")

    # -- one cycle (Trigger.AvailableNow analog) ---------------------------
    def run_once(self) -> CycleStats:
        st = CycleStats()
        try:
            v, m = self.store.latest_manifest(self.topic)
            policy = cleanup_policy(m.get("config", {}))
            st.files_before = len(m["files"])
            # Retention BEFORE compaction: aging out drops whole files,
            # so it must see the previous cycle's compacted segments —
            # compacting first would merge expired rows into fresh
            # files and retention would never fire.
            if policy.retain_seqs is not None and m["maxima"]:
                before = min(m["maxima"].values()) - policy.retain_seqs + 1
                if before > 0:
                    st.truncated_files = self.store.truncate(self.topic, before)
                    v, m = self.store.latest_manifest(self.topic)
            now = time.time()
            if (
                policy.retain_ms is not None
                and now - self._last_time_check >= self.retention_check_interval_s
            ):
                cutoff_ms = int(now * 1000) - policy.retain_ms
                st.truncated_files += self.store.truncate_before_timestamp(
                    self.topic, cutoff_ms
                )
                # Stamp AFTER the pass succeeds: a transient failure
                # bubbles to the cycle handler (recorded in st.error)
                # without consuming the rate-limit window, so retention
                # retries next cycle instead of silently lagging a full
                # retention_check_interval_s (ADVICE r09).
                self._last_time_check = now
                v, m = self.store.latest_manifest(self.topic)
            # KEY compaction (cleanup.policy=compact) runs AFTER
            # retention (the cleaner scans only what retention kept)
            # and BEFORE the file-count check (its output is already
            # one file per bucket, so a cleaner pass usually makes the
            # OPTIMIZE below a no-op). Same stamp-after-success rule.
            if (
                policy.compact
                and now - self._last_key_compaction
                >= self.key_compaction_interval_s
            ):
                # min.cleanable.dirty.ratio gate: O(manifest) stats, no
                # Spark job — a clean topic skips the scan entirely.
                # The skip still stamps the backoff window (the CHECK
                # ran and succeeded); only a failed compaction leaves
                # the window unconsumed for a retry next cycle.
                if (
                    self.store.key_compaction_dirty_ratio(self.topic)
                    >= policy.min_dirty_ratio
                ):
                    st.key_dropped = self.store.compact_by_key(
                        self.topic,
                        key_col=policy.key_col,
                        tombstone_col=policy.tombstone_col,
                        tombstone_retention_ms=policy.tombstone_retention_ms,
                        order_by=policy.compaction_order_by,
                    )
                self._last_key_compaction = now
                v, m = self.store.latest_manifest(self.topic)
            threshold = (
                self.compact_when_files_over
                if self.compact_when_files_over is not None
                else m["n_buckets"]
            )
            if len(m["files"]) > threshold:
                self.store.compact(self.topic, base_version=v)
                st.compacted = True
            st.vacuumed_files = self.store.vacuum(
                self.topic, grace_s=self.vacuum_grace_s
            )
            st.files_after = len(self.store.latest_manifest(self.topic)[1]["files"])
        except Exception as e:  # noqa: BLE001 - cycle errors must not kill the loop
            st.error = repr(e)
        self.history.append(st)
        return st

    # -- periodic loop (Trigger(processingTime=...) analog) ----------------
    def start(self) -> "TopicMaintenance":
        if self._thread is not None:
            raise RuntimeError("maintenance loop already running")
        self._stop_evt = threading.Event()

        # bind THIS start()'s event: the closure must not re-read
        # self._stop_evt, or a stop() whose join times out followed by
        # start() would leave the old thread watching the NEW (unset)
        # event — two maintenance loops contending on one topic
        def loop(evt: threading.Event = self._stop_evt) -> None:
            while not evt.wait(self.interval_s):
                self.run_once()

        self._thread = threading.Thread(
            target=loop, daemon=True, name=f"topic-maintenance-{self.topic}"
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread is None:
            return
        self._stop_evt.set()
        self._thread.join(timeout=120)
        self._thread = None

    def __enter__(self) -> "TopicMaintenance":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

