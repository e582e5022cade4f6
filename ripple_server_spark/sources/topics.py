"""Topic store: durable, bucket-partitioned event logs with consumer
offsets — the Spark-native reimplementation of the reference's entire
broker data path.

Reference semantics reproduced (SURVEY.md §2 Table A, §3):

- **CreateBucket** (server/exposed/create.go:15-46): a topic is a
  parquet directory partitioned by ``bucket``; creating it registers
  metadata. No replica placement — durability is the storage layer's.
- **Produce** (internal/broker/producer/server/core.go:21-34,
  queue.Push queue.go:49-51): transactional append assigning each
  bucket a contiguous, gap-free ``seq`` (per-bucket FIFO total order —
  the queue's list index).
- **Consume** (internal/broker/consumer/server/core.go:27-64): ranged,
  non-destructive batch read of ``count`` messages from the consumer's
  committed offset; offsets are per (consumer, topic, bucket) exactly
  like ZK ``/consumers/<id>`` nodes (core.go:77-85), so every consumer
  independently sees the full stream (fan-out pub/sub).
- **Offset commit** (core.go:62): explicit ``commit()`` after
  processing -> at-least-once. The reference's bug (locally advances by
  ``len(messages)`` but persists ``offset+Count``, core.go:61-62) is
  deliberately NOT reproduced: we commit exactly what was delivered.

Scale design: at 100 TB a topic is the same layout with more buckets —
the manifest records each file's bucket and seq range, so a consume
plans only the files of its bucket that overlap its seq range and tail
reads touch only tail files. Sequence assignment touches only the
*new* batch and reads only the per-bucket maxima recorded in the
manifest: a distributed batch is shuffled once (one exchange + a
spillable JVM sort, then the staging kernel of ``sources/staging.py``);
a ``pyarrow.Table``, or a local relation collected once, is routed,
sorted and staged on the driver by ``staging.append_arrow``, the one
Arrow append the native sink's tasks run too, with no exchange and no
Python task. Every form passes the sink's input check first
(``staging.message_fields``): a fractional routing key is refused.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import (
    _check_arrow_table_timestamps_localize,
    from_arrow_schema,
    to_arrow_schema,
)
from pyspark.sql.types import StructType
from pyspark.sql.utils import is_timestamp_ntz_preferred

from ripple_server_spark.config import N_BUCKETS
from ripple_server_spark.operators.relational import bucket_of
from ripple_server_spark.sources import datasource, manifest, staging
from ripple_server_spark.sources.manifest import (  # noqa: F401  (re-exported)
    StaleGenerationError,
    StaleProducerEpochError,
)


def _spark_arrow(spark: SparkSession, tbl: pa.Table):
    """``(schema, load)`` of a ``pyarrow.Table`` produce: the Spark
    schema ``spark.createDataFrame(tbl)`` records, and a loader of the
    rows that frame's ``toArrow()`` returns (its Arrow types, naive
    timestamps localized to the session time zone, nanoseconds
    floored), built the way ``createDataFrame`` builds them but with no
    JVM round trip and no Spark job."""
    jconf = spark._jconf
    schema = from_arrow_schema(tbl.schema, prefer_timestamp_ntz=is_timestamp_ntz_preferred())

    def load() -> pa.Table:
        return _check_arrow_table_timestamps_localize(
            tbl, schema, True, jconf.sessionLocalTimeZone()
        ).cast(to_arrow_schema(schema, prefers_large_types=jconf.arrowUseLargeVarTypes()))

    return schema, load


def _stage_by_bucket(
    df: DataFrame,
    data_dir: str,
    base: dict[int, int],
    file_cols: list[str],
    prefix: str = "prd",
    assign_seq: bool = True,
) -> list:
    """One exchange (hash on bucket — a bucket's rows land in exactly
    one task) + a spillable JVM sort within partitions, then the
    streaming Arrow staging kernel (``staging.stage_kernel``): the
    staging of a non-local produce and of both compactions. Sort key
    is the produce FIFO order (bucket, ts, event_id) when assigning
    seqs, or (bucket, seq) when preserving them (compaction). The sort
    runs in the JVM because a Python sort of a skewed batch buffers the
    task's whole input with no spill path. Returns the kernel's bounded
    (bucket, n, rel, lo, hi) rows."""
    order = (
        [
            F.col("bucket").asc_nulls_first(),
            F.col("ts").asc_nulls_first(),
            F.col("event_id").asc_nulls_first(),
        ]
        if assign_seq
        else [F.col("bucket").asc_nulls_first(), F.col("seq").asc_nulls_first()]
    )
    kernel = staging.stage_kernel(
        data_dir, base, file_cols, prefix=prefix, assign_seq=assign_seq
    )
    return (
        df.repartition("bucket")
        .sortWithinPartitions(*order)
        .mapInArrow(kernel, "bucket int, n long, rel string, lo long, hi long")
        .collect()
    )


def _message_ddl(m: dict) -> str | None:
    """DDL of a manifest's recorded message schema plus the ``bucket``
    partition column: the type of every read of the topic, known
    without opening a footer. None when no schema is recorded. A column
    recorded under two types has no one type to read it with:
    ValueError naming it."""
    types: dict[str, str] = {}
    for field in m.get("schema") or []:
        name, typ = field.split(":", 1)
        if types.setdefault(name, typ) != typ:
            raise ValueError(
                f"topic {m.get('topic')!r}: column {name!r} is recorded as "
                f"both {types[name]} and {typ}"
            )
    if not types:
        return None
    return ", ".join(f"`{n}` {t}" for n, t in types.items()) + ", `bucket` int"


@functools.lru_cache(maxsize=64)
def _arrow_schema(ddl: str) -> "pa.Schema":
    """Arrow form of a read's DDL, parsed once per DDL."""
    return to_arrow_schema(StructType.fromDDL(ddl))


def _remove_older(p: str, cutoff: float) -> bool:
    """Remove ``p`` unless modified after ``cutoff``; True when it is
    gone (also when a concurrent vacuum or claim removed it first)."""
    try:
        if os.path.getmtime(p) > cutoff:
            return False
        os.remove(p)
    except FileNotFoundError:
        pass
    return True


def _consumer_version(root: str, topic: str) -> int:
    """Newest version of the topic's consumer log, 0 before its first
    write (one listing). FileNotFoundError naming an unknown topic."""
    try:
        return manifest.latest_version(root, topic, manifest.CONSUMER_LOG)
    except FileNotFoundError:
        if not os.path.isdir(manifest.log_dir(root, topic)):
            raise FileNotFoundError(f"topic {topic!r} does not exist") from None
        return 0


def consumer_state(root: str, topic: str) -> tuple[int, dict]:
    """(version, snapshot) of the topic's consumer log: every consumer's
    own offsets (``consumers``) and every group (``groups``). Version 0
    is the empty state. Spark-free: the one consumer-state read."""
    v = _consumer_version(root, topic)
    return v, manifest.load(root, topic, v, manifest.CONSUMER_LOG) if v else {}


def _commit_consumers(root: str, topic: str, apply) -> dict:
    """One consumer-log commit of ``apply(snapshot) -> snapshot``
    (:func:`manifest.commit`, so ``apply`` re-runs on every rebase and
    its checks hold at the claim). The first write creates the log. An
    unknown topic raises FileNotFoundError naming it and creates
    nothing."""
    manifest.validate_topic_name(topic)
    v = _consumer_version(root, topic)
    if v == 0:
        try:
            os.mkdir(manifest.log_dir(root, topic, manifest.CONSUMER_LOG))
        except FileExistsError:
            pass  # a concurrent first write made it
    return manifest.commit(root, topic, v, apply, manifest.CONSUMER_LOG)


def _range_split(n_buckets: int, group_id: str, n_members: int) -> dict[str, list[int]]:
    """The pure Kafka range-assignor function: member k of the group
    owns a contiguous run of buckets; runs differ in size by at most
    one; coverage is exhaustive and disjoint."""
    base, extra = divmod(n_buckets, n_members)
    out: dict[str, list[int]] = {}
    start = 0
    for k in range(n_members):
        size = base + (1 if k < extra else 0)
        out[f"{group_id}-{k}"] = list(range(start, start + size))
        start += size
    return out


def _assignment(state: dict, group_id: str) -> dict[str, list[int]]:
    """The one ownership reader: member -> sorted buckets of a group in
    consumer-state snapshot ``state`` ({} for an unknown group)."""
    entry = state.get("groups", {}).get(group_id)
    if entry is None:
        return {}
    return {mem: sorted(int(b) for b in bs) for mem, bs in entry["assignment"].items()}


def _generation(entry: dict, n_buckets: int) -> int:
    """A group's effective generation on a topic of ``n_buckets``: its
    stored generation, plus one while its stored assignment covers
    fewer buckets (``expand_buckets`` grew the topic since the group
    last rebalanced; Kafka bumps the epoch on a partition-count
    change). Read by ``group_state``, ``describe_group``, the fence and
    ``assign_buckets``."""
    covered = {int(b) for bs in entry["assignment"].values() for b in bs}
    return int(entry["generation"]) + (len(covered) < n_buckets)


def committed_offsets_in(state: dict, consumer_id: str) -> dict[int, int]:
    """A consumer's committed ``{bucket: offset}`` in consumer-state
    snapshot ``state``: its own offsets (the reference's
    ``/consumers/<id>`` node), overridden for each bucket it owns in a
    group by the group's committed offset, where the group has one.
    Group offsets belong to (group, bucket), so a rebalance hands a
    bucket's progress to its new owner. The one offsets read behind
    ``poll``/``consume``, ``committed_offsets``, ``describe_group`` and
    the ``ripple_topic`` source's ``start_at=consumer:``."""
    own = state.get("consumers", {}).get(consumer_id, {})
    out = {int(b): int(o) for b, o in own.items()}
    for group_id, entry in state.get("groups", {}).items():
        committed = entry.get("offsets", {})
        for b in _assignment(state, group_id).get(consumer_id, ()):
            if str(b) in committed:
                out[b] = int(committed[str(b)])
    return out


class CleanupPolicy(NamedTuple):
    """A topic's cleanup policy, typed: :func:`cleanup_policy`'s result
    (the keys and defaults are described on
    :meth:`TopicStore.topic_config`)."""

    compact: bool
    retain_ms: int | None
    retain_seqs: int | None
    key_col: str
    tombstone_col: str | None
    tombstone_retention_ms: int
    min_dirty_ratio: float
    compaction_order_by: str | None


def cleanup_policy(config: dict) -> CleanupPolicy:
    """Parse the eight cleanup-policy keys of a topic config map; other
    keys are ignored. Raises ``ValueError`` naming the first bad key.
    The one parser: ``create_topic`` and ``alter_topic_config`` run it
    before a config is stored, and every maintenance cycle runs it on
    the config of the manifest it loads."""

    def typed(key: str, cast, default, what: str):
        if key not in config:
            return default
        try:
            return cast(config[key])
        except (TypeError, ValueError):
            raise ValueError(
                f"topic config {key!r}: cannot read {config[key]!r} as {what}"
            ) from None

    def count(v) -> int:
        # int() reads True as 1, truncates 0.5 to 0 and keeps -1, and a
        # negative retention bound would age the whole log out.
        if isinstance(v, bool) or isinstance(v, float) and not v.is_integer():
            raise ValueError(v)
        if (n := int(v)) < 0:
            raise ValueError(v)
        return n

    whole = "a non-negative integer"

    policies = {
        p.strip() for p in typed("cleanup.policy", str, "delete", "str").split(",")
    } - {""}
    if not policies <= {"delete", "compact"}:
        raise ValueError(
            "topic config 'cleanup.policy' must be 'delete', 'compact' or "
            f"'compact,delete', got {config['cleanup.policy']!r}"
        )
    return CleanupPolicy(
        compact="compact" in policies,
        retain_ms=typed("retention.ms", count, None, whole),
        retain_seqs=typed("retention.seqs", count, None, whole),
        key_col=typed("key.column", str, "user_id", "str"),
        tombstone_col=typed("tombstone.column", str, None, "str"),
        tombstone_retention_ms=typed("delete.retention.ms", count, 0, whole),
        min_dirty_ratio=typed("min.cleanable.dirty.ratio", float, 0.5, "float"),
        compaction_order_by=typed("compaction.order.by", str, None, "str"),
    )


class TopicStore:
    """Filesystem-backed topic registry (the ZooKeeper analog) with a
    MANIFEST LOG as the commit protocol.

    Layout::

        root/topics/<topic>/
          _log/<version>.json        # data manifest log (source of truth)
          _consumers/<version>.json  # consumer-state log: offsets + groups
          data/bucket=<n>/           # parquet event log (append-only)

    Every consumer's own offsets and every consumer group (generation,
    strategy, assignment and offsets keyed by bucket) live in the
    consumer-state log, committed through the same protocol as the data
    manifest (:func:`consumer_state` reads it). Every offsets write is
    one consumer-log claim whose checks run inside it; none writes a
    data-manifest version, and a bucket's group progress survives a
    rebalance.

    Commit protocol (Delta-/Iceberg-style, sized for a filesystem;
    implemented once, in ``sources/manifest.py``): every mutation
    (produce / compact / truncate) stages its parquet files under unique
    names, then atomically claims manifest version v+1 — the rename-free
    commit point. Appends have one transaction, ``manifest.append``,
    shared by :meth:`produce` and the native sink's write tasks: epoch
    fencing, applied-id idempotence, seq-race restaging and the schema
    merge are written once. File swaps have one, ``manifest.rewrite``,
    shared by :meth:`compact` and :meth:`compact_by_key`. Every staged
    file is written by one kernel, ``staging.stage_kernel``. A manifest
    is a FULL snapshot: the live file list plus the state that must
    commit atomically with it
    (``applied_batches`` for idempotent produce, per-bucket
    ``maxima``/``floors`` so cold opens never scan the log, and
    ``seq_ranges`` — the ``[lo, hi]`` seq range of every live file,
    recorded by the commit that adds the file, so :meth:`poll` and
    retention plan from the manifest without opening a footer — and the
    recorded message ``schema`` that types every read). Consequences:

    - **exactly-once produce**: a crash between the data write and the
      commit leaves orphan files that no manifest references — invisible
      to readers, reclaimed by :meth:`vacuum`; a replayed batch_id is a
      no-op because the id committed with the files or not at all.
    - **snapshot-consistent reads**: batch readers resolve the latest
      manifest and read exactly its files; compaction commits a new
      file set without touching the old one, so in-flight readers never
      hit FileNotFound (old files are deleted only by vacuum).
    - **writer-conflict detection**: O_EXCL on v+1 makes a lost-update
      race a visible failure; the losing writer rebases (re-applies its
      file edits to the new base) and retries — optimistic concurrency
      instead of silent corruption. Concurrent producers are safe: an
      append whose buckets advanced under it restages its seqs against
      the new base (at most ``manifest.RETRIES`` times), so per-bucket
      seqs stay contiguous with any number of ``produce`` callers and
      sink tasks writing one topic at once.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "topics"), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, "topics", topic)

    def data_dir(self, topic: str) -> str:
        return os.path.join(self.topic_dir(topic), "data")

    # -- manifest log (sources/manifest.py) -------------------------------
    def latest_manifest(self, topic: str) -> tuple[int, dict]:
        """(version, manifest) of the newest committed manifest."""
        return manifest.latest(self.root, topic)

    def vacuum(self, topic: str, grace_s: float = 0.0) -> int:
        """Delete data files no manifest-latest references (compacted-
        away segments, truncated segments, crashed-produce orphans) and
        all but the newest version of the data manifest and of the
        consumer-state log (oldest first), plus the temp files a lost or
        crashed claim leaves in either log (``<version>.json.tmp-<hex>``
        of a version at or below the newest, see :func:`manifest.claim`).
        Returns data files removed.

        ``grace_s`` spares files modified within the last N seconds:
        a concurrent produce moves staged files into ``data/`` BEFORE
        its manifest commit, so a zero-grace vacuum racing it could
        reclaim files that are about to become live (the same reason
        Delta VACUUM has a retention window). Pass 0 only when no
        writer is in flight; the scheduled loop
        (:class:`~ripple_server_spark.sources.maintenance.TopicMaintenance`)
        always runs with a positive grace."""
        v, m = self.latest_manifest(topic)
        live = set(m["files"])
        data = self.data_dir(topic)
        cutoff = time.time() - grace_s
        removed = 0
        for bdir in sorted(os.listdir(data)):
            if not bdir.startswith("bucket="):
                continue
            for fn in sorted(os.listdir(os.path.join(data, bdir))):
                p = os.path.join(data, bdir, fn)
                if (
                    fn.endswith(".parquet")
                    and f"{bdir}/{fn}" not in live
                    and os.path.getmtime(p) <= cutoff
                ):
                    os.remove(p)
                    removed += 1
        for log, newest in (
            (manifest.LOG, v),
            (manifest.CONSUMER_LOG, _consumer_version(self.root, topic)),
        ):
            d = manifest.log_dir(self.root, topic, log)
            try:
                names = os.listdir(d)
            except FileNotFoundError:  # no consumer log yet
                continue
            # superseded versions oldest first, stopping at the first one
            # inside the grace window (an in-flight commit may still
            # re-read its base, a pinned snapshot reader its pin): the
            # live versions stay a contiguous run ending at the newest,
            # also after a crash or beside a concurrent vacuum, which
            # manifest.latest_version's probe relies on
            for ver in sorted(int(n[:-5]) for n in names if n.endswith(".json")):
                p = os.path.join(d, f"{ver:020d}.json")
                if ver >= newest or not _remove_older(p, cutoff):
                    break
            # temp files of claims on a version that already exists: lost
            # claims, or ones that crashed before their unlink (a newer
            # slot's may be an in-flight claim about to link)
            for n in names:
                if ".json.tmp-" in n and int(n.split(".", 1)[0]) <= newest:
                    _remove_older(os.path.join(d, n), cutoff)
        return removed

    # -- DDL (CreateBucket analog) ----------------------------------------
    def create_topic(
        self,
        topic: str,
        n_buckets: int = N_BUCKETS,
        config: dict | None = None,
    ) -> None:
        """Create the topic with ``n_buckets`` buckets and its config
        map (see :meth:`topic_config`); a bad cleanup policy raises
        ``ValueError`` before anything is written."""
        cleanup_policy(config or {})
        manifest.create(self.root, topic, n_buckets, config)

    def topic_config(self, topic: str) -> dict:
        """The topic's config map (Kafka ``describe --topic`` configs);
        {} for topics created before configs existed.

        The map is stored verbatim, so unknown keys pass through for
        forward compatibility, like Kafka's config map. The engine reads
        eight of them, the topic's cleanup policy: the maintenance loop
        (:class:`~ripple_server_spark.sources.maintenance.TopicMaintenance`)
        parses them with :func:`cleanup_policy` at the start of every
        cycle, so a change takes effect at the next cycle. Values may be
        strings, as Kafka's are; a value that does not read as its type
        is refused when it is written. The int keys take a whole number
        >= 0 (a string of one, or an integral float); a bool, a
        fraction or a negative value (Kafka's ``-1`` for "no limit"
        included: leave the key unset instead) is refused.

        ``cleanup.policy`` (str, ``"delete"``): ``"delete"`` (retention
        only), ``"compact"`` (periodic :meth:`compact_by_key` on
        ``key.column``: retain-latest-per-key, the Kafka log-cleaner
        thread) or ``"compact,delete"`` (both, Kafka's combined mode:
        retention ages out whole old segments AND the cleaner collapses
        superseded keys in what survives). Retention runs whenever a
        retention key is set, under any policy. Key compaction costs a
        full live-log scan + rewrite, so it is gated twice, like Kafka's
        cleaner: rate-limited by the loop's ``key_compaction_interval_s``
        and gated by ``min.cleanable.dirty.ratio``.

        ``retention.ms`` (int >= 0, unset): time retention (Kafka
        ``retention.ms``). A cycle ages out files wholly older than
        ``now - retention.ms`` via :meth:`truncate_before_timestamp`.
        The pass scans the retained log's ``ts`` on the driver
        (row-group-pruned on files that carry micros ts statistics), so
        it is rate-limited by the loop's ``retention_check_interval_s``
        rather than run every cycle.

        ``retention.seqs`` (int >= 0, unset): per-bucket retention depth
        (an extension). A cycle truncates files wholly below
        ``min_bucket_max - retention.seqs + 1`` (file granularity, so the
        retained floor is conservative). It composes with
        ``retention.ms``: with both set, a cycle drops the UNION of what
        each bound ages out, so whichever bound retains LESS determines
        what survives (Kafka's either-limit-violating deletion). Neither
        set disables retention.

        ``key.column`` (str, ``"user_id"``): the compaction key.

        ``tombstone.column`` (str, unset): a record whose value in this
        column is NULL marks its key deleted (see :meth:`compact_by_key`).

        ``delete.retention.ms`` (int >= 0, ``0``): the tombstone retention
        window (Kafka ``delete.retention.ms``), passed to
        :meth:`compact_by_key`. A key's latest-tombstone row survives the
        cleaner while its event time is inside the window, so lagging
        consumers still observe deletes; the pass after the window
        removes it. The cleaner declines to checkpoint files holding
        retained tombstones as clean, so the dirty-ratio gate cannot
        starve that second pass.

        ``min.cleanable.dirty.ratio`` (float, ``0.5``): the cleaner runs
        only when dirty bytes (live bytes not covered by the manifest's
        cleaner checkpoint, :meth:`key_compaction_dirty_ratio`) are at
        least this fraction of the log. The ratio is O(manifest)
        filesystem stats, so a quiet compacted topic burns zero Spark
        jobs per cycle instead of a full live-log scan every interval.
        ``0.0`` runs the cleaner unconditionally.

        ``compaction.order.by`` (str, unset): the event-time column
        passed to :meth:`compact_by_key` as ``order_by`` (latest wins by
        event time across buckets instead of by seq within one).
        """
        return dict(self.latest_manifest(topic)[1].get("config", {}))

    def alter_topic_config(self, topic: str, updates: dict) -> dict:
        """Merge config ``updates`` into the topic (Kafka
        ``kafka-configs --alter``): a None value DELETES the key,
        anything else overwrites. The change is one manifest commit,
        so concurrent writers rebase around it, and a maintenance loop
        reads the new policy at its next cycle. A merged map whose
        cleanup policy does not parse raises ``ValueError`` and commits
        nothing. A config stored before the write-time check (or under a
        looser parser) may already hold such a policy: then every
        maintenance cycle fails before any work (vacuum and OPTIMIZE
        included; the error is in ``CycleStats.error``), and so does any
        alter that leaves the bad key in place, and :meth:`rekey_topic`.
        The fix is one alter that sets or deletes (``None``) that key.
        Returns the merged config."""
        merged: dict = {}

        def apply(m: dict) -> dict:
            cfg = dict(m.get("config", {}))
            for k, v in updates.items():
                if v is None:
                    cfg.pop(k, None)
                else:
                    cfg[k] = v
            cleanup_policy(cfg)
            m["config"] = cfg
            merged.clear()
            merged.update(cfg)
            return m

        manifest.commit(
            self.root, topic, manifest.latest_version(self.root, topic), apply
        )
        return dict(merged)

    def expand_buckets(self, topic: str, new_n_buckets: int) -> int:
        """Grow a topic's bucket count — the Kafka ``kafka-topics
        --alter --partitions N`` analog and the scale knob SCALE.md's
        "at 100 TB a topic is the same layout with more buckets" claim
        turns on. EXPAND-only, like Kafka (shrinking would strand
        committed data and consumer cursors).

        Existing data does not move (no rebalance, no rewrite): the
        commit is one manifest version bumping ``n_buckets``. New
        buckets start empty (seq from 0, floor 0) and fill as future
        produces route by ``pmod(key, new_n)``; existing per-bucket
        cursors — consumer groups AND streaming checkpoints — stay
        valid because both iterate buckets from the manifest, where the
        new buckets simply appear. The commit touches the data manifest
        only. A group whose stored assignment covers fewer buckets than
        ``n_buckets`` reads as one generation past its stored one
        (:func:`_generation`, Kafka's epoch bump on a partition-count
        change), so from this commit on :meth:`group_state` reports the
        bumped epoch and fenced commits carrying the pre-expansion epoch
        are rejected until the member re-joins via
        :meth:`assign_buckets` (at the same n_members it stores the
        refreshed assignment at that epoch, with no second bump). Group
        offsets carry over unchanged. A fenced commit reads
        ``n_buckets`` just before its claim, so an expansion landing in
        between can let that one commit through, on a bucket the member
        owned under the old assignment: harmless, as expansion moves no
        rows.

        The one semantic cost is Kafka's too: the key->bucket mapping
        changes at the expansion point, so per-KEY FIFO order holds
        within each epoch but not across it (a key's pre-expansion rows
        may live in a different bucket than its post-expansion rows).
        The epoch boundary is each producer's manifest-READ time, not
        the expansion commit: a produce/sink task already in flight
        routes by the count it planned with and may commit AFTER the
        expansion (its rows are a valid pre-expansion epoch; seq
        density per bucket is unaffected because claims stay atomic).
        Expansions should be rare, deliberate scale events — quiesce
        producers around one if strict epoch alignment matters. The
        same boundary limits :meth:`compact_by_key`: compaction is
        per-(bucket, key), so a key that changed residue keeps its
        old-bucket latest alongside the new bucket's (see the caveat
        there) — run a full rekeying rewrite (read, re-produce into a
        fresh topic) if strict cross-expansion compaction matters.

        Returns the committed manifest version. Raises on shrink/no-op.
        """
        base_v, meta = self.latest_manifest(topic)
        cur = int(meta["n_buckets"])
        if new_n_buckets <= cur:
            raise ValueError(
                f"expand_buckets is grow-only: topic {topic!r} has "
                f"{cur} buckets, got {new_n_buckets} (shrinking would "
                "strand committed rows and consumer cursors)"
            )

        def apply(m: dict) -> dict:
            if int(m["n_buckets"]) >= new_n_buckets:
                return m  # concurrent expansion won; idempotent
            m["n_buckets"] = new_n_buckets
            return m

        committed = manifest.commit(self.root, topic, base_v, apply)
        return int(committed["version"])

    def producer_epoch(self, topic: str) -> int:
        """The topic's current producer epoch (0 until the first
        :meth:`fence_producers`). Writers that opt into epoch fencing
        pass this to :meth:`produce` / the native sink; a bump fences
        them atomically at their next commit."""
        return int(self.latest_manifest(topic)[1].get("producer_epoch", 0))

    def fence_producers(self, topic: str) -> int:
        """Bump the topic's producer epoch and return the NEW epoch —
        the Kafka ``initProducerId`` epoch-bump analog (producer-side
        mirror of the consumer-group generation bump, VERDICT r10
        item 6). One metadata-only manifest commit; every in-flight
        produce carrying the old epoch fails atomically at ITS commit
        (:class:`StaleProducerEpochError`) with no partial rows
        visible, because the epoch check runs INSIDE the optimistic
        commit's apply — the same slot-claim that serializes the bump.
        The typical zombie-handover sequence is the new owner calling
        ``epoch = fence_producers(topic)`` and producing with it."""
        out: dict = {}

        def apply(m: dict) -> dict:
            m["producer_epoch"] = int(m.get("producer_epoch", 0)) + 1
            out["epoch"] = m["producer_epoch"]
            return m

        manifest.commit(
            self.root, topic, manifest.latest_version(self.root, topic), apply
        )
        return int(out["epoch"])

    def topic_meta(self, topic: str) -> dict:
        return self.latest_manifest(topic)[1]

    def list_topics(self) -> list[str]:
        return sorted(os.listdir(os.path.join(self.root, "topics")))

    def delete_topic(self, topic: str) -> int:
        """Delete a topic outright — data files, manifest log, and the
        consumer-state log with every consumer's offsets and every group
        on it (the Kafka ``kafka-topics --delete`` analog; the reference
        never deletes, its queues just grow, concurrent_list.go).
        Returns the number of consumer ids that had offsets of their own
        committed on the topic.

        Deletion order makes concurrent access fail CLEANLY rather
        than read half a topic: the manifest log goes first (every
        reader/writer entry point resolves the latest manifest or
        checks for it, so from that point they raise topic-not-found),
        then the topic directory, consumer log included. A
        produce/compact racing the delete can at worst recreate
        nothing — their commits target version slots that no longer
        have a log dir and fail with FileNotFoundError, and their
        staged files die with the tree. Snapshot-pinned READERS that
        already resolved a manifest lose their files mid-scan
        (FileNotFound at task level) — quiesce consumers first, same
        operational rule as Kafka's delete. Raises FileNotFoundError
        for an unknown topic.

        The entry validation is the destructive-path guard (ADVICE
        r11): without it, ``delete_topic("..")`` resolved topic_dir to
        the topics ROOT and rmtree'd the entire store, and path-segment
        names like ``a/b`` escaped the layout."""
        manifest.validate_topic_name(topic)
        tdir = self.topic_dir(topic)
        if not os.path.isdir(tdir):
            raise FileNotFoundError(f"topic {topic!r} does not exist")
        try:
            consumers = consumer_state(self.root, topic)[1].get("consumers", {})
        except FileNotFoundError:  # a delete that crashed after the log went
            consumers = {}
        shutil.rmtree(manifest.log_dir(self.root, topic), ignore_errors=True)
        shutil.rmtree(tdir, ignore_errors=True)
        return len(consumers)

    def list_groups(self, topic: str) -> list[str]:
        """Consumer groups with a recorded assignment on the topic
        (Kafka ``kafka-consumer-groups --list``, scoped to one topic
        since groups live in the topic's consumer-state log here)."""
        return sorted(consumer_state(self.root, topic)[1].get("groups", {}))

    def reset_offsets(
        self, consumer_id: str, topic: str, to: str = "earliest"
    ) -> dict[int, int]:
        """Kafka ``kafka-consumer-groups --reset-offsets
        --to-earliest/--to-latest`` analog: position every bucket's
        committed offset at the retained floor (``"earliest"`` — the
        next consume replays the whole retained log) or at the
        high-water mark (``"latest"`` — the next consume sees only
        NEW messages). Returns the committed {bucket: offset} map. One
        manifest version gives the bucket count, floors and maxima, no
        Spark job; the write is one ungated consumer-log commit
        (:meth:`commit_many`). Time-based resets are
        :meth:`seek_to_timestamp`.

        Resets move a consumer's own offsets. A consumer that owns
        buckets in a group reads those buckets from the group's
        offsets, which a reset would not move, so the commit refuses
        it with a ``ValueError`` naming the group (checked inside the
        consumer-log claim).

        OPERATIONAL CONTRACT (ADVICE r11): run resets only while the
        consumer is QUIESCED — the same rule Kafka enforces by
        requiring the group inactive for ``--reset-offsets``. The
        publish is not generation-fenced, so a reset racing the
        consumer's own commits keeps whichever lands last."""
        if to not in ("earliest", "latest"):
            raise ValueError(
                f"reset_offsets: to must be 'earliest' or 'latest', got {to!r}"
            )
        _v, m = self.latest_manifest(topic)
        offsets = {
            b: (
                int(m["floors"].get(str(b), 0))
                if to == "earliest"
                else int(m["maxima"].get(str(b), -1)) + 1
            )
            for b in range(int(m["n_buckets"]))
        }
        self._commit_own(consumer_id, topic, offsets, "reset_offsets")
        return offsets

    # -- produce (A5) ------------------------------------------------------
    def produce(
        self,
        df: DataFrame | pa.Table,
        topic: str,
        key_col: str = "user_id",
        batch_id: str | None = None,
        producer_epoch: int | None = None,
    ) -> int:
        """Append a batch, assigning bucket + contiguous per-bucket seq.

        FIFO order within a bucket follows (ts, event_id) of the batch —
        the arrival order analog. Returns number of rows appended.

        ``df`` is a DataFrame or a ``pyarrow.Table``, and the path
        follows the input, not a setting. A ``pyarrow.Table`` takes the
        Spark types ``createDataFrame`` would give it (a naive
        timestamp becomes a session-time-zone ``timestamp``) and is
        appended by ``staging.append_arrow`` on the driver: no Spark
        job. A local relation (``df.isLocal()``: ``createDataFrame`` of
        an Arrow table or of a pandas frame, SQL ``VALUES``) is
        collected once (``df.toArrow()``, one JVM-only job) into the
        same append. Its rows are already held by the driver, so the
        in-memory Arrow sort adds no unbounded buffer and needs no
        spill path. Any other input is routed by ``bucket_of``,
        shuffled once by bucket and sorted by the spillable JVM sort in
        front of the executors' staging kernel (``_stage_by_bucket``),
        which bounds the memory of a distributed, skewed batch. All
        paths give the same seqs, file layout and recorded schema.

        Every form is checked first, before any Spark job, by the check
        the native sink runs (``staging.message_fields``):
        ``staging.AppendInputError``, a ``ValueError``, when ``key_col``,
        ``ts`` or ``event_id`` is missing or the key is not an integer
        or a string holding one. A fractional key (FLOAT, DOUBLE,
        DECIMAL) is refused rather than routed by its truncation.

        ``batch_id`` makes the append IDEMPOTENT: a replayed produce
        with an already-applied id is a no-op (returns 0, with no Spark
        job on the local and Arrow paths). Replay
        safety is transactional, not best-effort: the data files and
        the applied-batch id become visible in the SAME manifest
        commit, so a crash anywhere before the commit leaves only
        orphan files no reader sees (vacuum reclaims them) and the
        retry re-appends cleanly. The transaction is
        :func:`manifest.append`, the same one the native sink's tasks
        commit through, so both keep one applied-id window (the newest
        4096 ids) and neither can shrink the other's exactly-once replay
        horizon.

        NULL routing keys land in bucket 0 (the deterministic analog of
        Kafka's null-key routing): pmod(NULL) is NULL, which would
        otherwise write a ``__HIVE_DEFAULT_PARTITION__`` dir that breaks
        every manifest reader and restarts seq at 0 on each produce.

        ``producer_epoch`` opts into PRODUCER fencing (Kafka
        INVALID_PRODUCER_EPOCH, the write-side mirror of consumer
        generation fencing): pass the epoch from
        :meth:`producer_epoch` / :meth:`fence_producers`; a produce
        whose epoch is older than the topic's current one fails with
        :class:`StaleProducerEpochError`. The check runs at entry (fail
        fast, before the Spark job) AND inside the manifest commit's
        apply (atomic: a :meth:`fence_producers` landing mid-produce
        still fences this transaction — its staged files become
        vacuum-reclaimed orphans and no partial rows are visible).
        ``None`` keeps the reference's unfenced single-producer model.
        """
        if isinstance(df, pa.Table):
            schema, load = _spark_arrow(self.spark, df)
        else:
            schema, load = df.schema, (df.toArrow if df.isLocal() else None)
        # Message schema of the staged files, recorded in the manifest,
        # which types every read without opening a footer — the
        # Delta/Iceberg metadata-tracked-evolution shape.
        fields = staging.message_fields(schema, key_col)
        if load is not None:
            return staging.append_arrow(
                load,
                self.root,
                topic,
                key_col,
                fields,
                applied_id=batch_id,
                producer_epoch=producer_epoch,
            )
        file_cols = [f.split(":", 1)[0] for f in fields]
        data_dir = self.data_dir(topic)
        os.makedirs(data_dir, exist_ok=True)
        staged: list = []  # kernel rows of the latest staging

        def stage(m: dict) -> dict[str, list[int]]:
            # One exchange (hash on bucket — a bucket's rows land in
            # exactly one task) + a spillable JVM sort, then the
            # streaming Arrow kernel assigns contiguous per-bucket seqs
            # from this base's maxima and stages parquet straight into
            # the bucket dirs; the per-bucket counts and seq ranges
            # ride back on the same job. The batch is routed once, by
            # the bucket count of the first attempt's base: a later
            # attempt (a lost seq race) restages from the previous
            # attempt's files through the same sort + kernel —
            # identical (ts, event_id) order, so identical seqs shifted
            # by the per-bucket delta, and one extra pass over the
            # BATCH (never the topic).
            maxima = {int(b): int(x) for b, x in m.get("maxima", {}).items()}
            src = (
                self.spark.read.option("basePath", data_dir).parquet(
                    *[os.path.join(data_dir, r["rel"]) for r in staged]
                )
                if staged
                else df.withColumn(
                    "bucket",
                    F.coalesce(bucket_of(F.col(key_col), int(m["n_buckets"])), F.lit(0)),
                )
            )
            staged[:] = _stage_by_bucket(src, data_dir, maxima, file_cols)
            return staging.staged_ranges(staged)

        committed = manifest.append(
            self.root,
            topic,
            stage,
            fields,
            applied_id=batch_id,
            producer_epoch=producer_epoch,
        )
        if committed is None:
            return 0
        return sum(int(r["n"]) for r in staged)

    def _bucket_maxima(self, topic: str) -> dict[int, int]:
        """Current max seq per bucket, read from the latest manifest —
        never a log scan (the manifest is the metadata table)."""
        return {int(b): x for b, x in self.topic_meta(topic)["maxima"].items()}

    def _bucket_floors(self, topic: str) -> dict[int, int]:
        """Retained floor per bucket, read from the latest manifest."""
        return {int(b): x for b, x in self.topic_meta(topic)["floors"].items()}

    def read_topic(self, topic: str, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files of the latest (or a pinned)
        manifest version — concurrent compaction/retention cannot pull
        files out from under the scan. ``basePath`` keeps ``bucket``
        a partition column, so bucket pruning works as before.

        The manifest owns the schema, not the footers (Delta/Iceberg
        semantics): the scan is typed by the recorded message schema, so
        a column an older file lacks — or that no file holds yet, after
        an evolution declared by an empty produce — reads as typed
        nulls, and no footer is merged. An empty topic (subscribed
        before any produce, or aged out by retention) is an empty frame
        of that schema, or of the structural columns the log guarantees
        when nothing was ever produced."""
        if version is None:
            _v, m = self.latest_manifest(topic)
        else:
            m = manifest.load(self.root, topic, version)
        return self._read(topic, m, {})

    def _read(self, topic: str, m: dict, after: dict[int, int]) -> DataFrame:
        """The rows of manifest ``m`` with ``seq > after[bucket]``; a
        bucket missing from ``after`` is read whole. The one Spark-side
        topic scan (:meth:`read_topic`, :meth:`read_increment`, the
        rollup's tail): it opens only the files one
        :func:`manifest.plan` walk plans for the buckets' tails, typed
        by the recorded schema. The exact per-bucket cut cannot reach
        parquet, so the global bound ``seq > min(after[b])`` over the
        planned buckets (−1 if one is missing) rides beside it and
        prunes row groups inside large compacted files."""
        ddl = _message_ddl(m) or "seq bigint, bucket int"
        end = datasource._SEQ_END
        planned = manifest.plan(
            m, {b: (after.get(b, -1) + 1, end) for b in range(int(m["n_buckets"]))}
        )
        if not planned:
            return self.spark.createDataFrame([], ddl)
        data = self.data_dir(topic)
        df = (
            self.spark.read.option("basePath", data)
            .schema(ddl)
            .parquet(*[os.path.join(data, r) for rels in planned.values() for r in rels])
        )
        if not after:
            return df
        bound = min(after.get(b, -1) for b in planned)
        pairs = [(F.lit(b), F.lit(x).cast("bigint")) for b, x in after.items()]
        cut = F.coalesce(F.create_map(*sum(pairs, ()))[F.col("bucket")], F.lit(-1))
        return df.filter((F.col("seq") > bound) & (F.col("seq") > cut))

    # -- maintenance -------------------------------------------------------
    def compact(self, topic: str, base_version: int | None = None) -> None:
        """Rewrite the topic log so each bucket holds one seq-sorted
        file. Micro-batch appends accumulate small files (one per
        produce per bucket); at scale that degrades scans (file-open
        overhead) and row-group seq-stat pruning. Compaction is the
        standard log-store maintenance op (Kafka log segments / Delta
        OPTIMIZE analog): repartition on bucket (each bucket → exactly
        one task), sort by seq inside (range consumes then prune whole
        row groups), stage beside the live files, then COMMIT a
        manifest that swaps exactly the input file set for the compacted
        one. Readers pinned to any manifest version see a complete
        old-or-new snapshot (never a mix, never FileNotFound — old
        files persist until vacuum); a produce that lands mid-compact
        is preserved by the rebase (its files are not in the compacted
        input set, so the swap keeps them). A concurrent truncate (or
        second compact) that REMOVED one of our input files supersedes
        this attempt entirely, and the compaction restages from the
        latest manifest (:func:`manifest.rewrite`, the swap shared with
        :meth:`compact_by_key`). Seq/content are untouched, so consumer
        offsets stay valid.
        """

        def stage(v: int, _m: dict) -> dict[str, list[int]]:
            # Same staging pipeline as produce: one exchange on bucket +
            # a spillable JVM (bucket, seq) sort + the streaming Arrow
            # kernel writing one file per (task, bucket) directly into
            # the live bucket dirs, with seq/content preserved verbatim
            # (assign_seq=False); files stay invisible until the
            # manifest swap commits.
            src = self.read_topic(topic, version=v)
            staged = _stage_by_bucket(
                src,
                self.data_dir(topic),
                {},
                [c for c in src.columns if c != "bucket"],
                prefix="cmp",
                assign_seq=False,
            )
            return staging.staged_ranges(staged)

        manifest.rewrite(self.root, topic, base_version, stage)

    def key_compaction_dirty_ratio(self, topic: str) -> float:
        """Dirty bytes / total live bytes — the Kafka
        ``min.cleanable.dirty.ratio`` input (VERDICT r10 item 2).

        DIRTY = live files not covered by the manifest's
        ``cleaned_files`` cleaner checkpoint (everything appended,
        OPTIMIZE-merged, or tombstone-retaining since the last
        successful :meth:`compact_by_key` pass; conservative on merged
        files, which mix clean and dirty rows). A never-cleaned topic
        is 1.0, an empty topic 0.0. Cost: one manifest read + one
        ``stat`` per live file — O(manifest), no Spark job, which is
        what lets the maintenance loop evaluate the gate every cycle
        without touching the data."""
        m = self.latest_manifest(topic)[1]
        files = m.get("files", [])
        if not files:
            return 0.0
        cleaned = set(m.get("cleaned_files", []))
        if not cleaned:
            return 1.0
        data = self.data_dir(topic)
        total = dirty = 0
        for f in files:
            try:
                sz = os.path.getsize(os.path.join(data, f))
            except OSError:
                sz = 0  # racing vacuum/compact: treat as absent
            total += sz
            if f not in cleaned:
                dirty += sz
        return (dirty / total) if total else 0.0

    def compact_by_key(
        self,
        topic: str,
        key_col: str = "user_id",
        base_version: int | None = None,
        tombstone_col: str | None = None,
        tombstone_retention_ms: int = 0,
        order_by: str | None = None,
    ) -> int:
        """KEY compaction (Kafka ``cleanup.policy=compact``): rewrite
        the log so each bucket retains, per ``key_col`` value, ONLY the
        record with the highest seq — the latest version of that key.
        The storage-side counterpart of the read-side CDC apply
        (plans/pipeline6.q_cdc_apply); the reference's queue is keyless
        (internal/broker/queue/queue.go:16-19), so this is extension
        territory, but it is the standard log-store feature a CDC-topic
        user expects. Returns the number of superseded rows dropped.

        Semantics (Kafka parity):

        - **Latest wins by offset**: per (bucket, key), the max-seq row
          survives; keys route to exactly one bucket (produce's
          ``bucket_of``), so per-bucket latest == global latest —
          EXCEPT across an :meth:`expand_buckets` boundary, where a
          key whose residue changed has pre-expansion rows in its old
          bucket that compaction retains alongside the new bucket's
          latest (seqs are per-bucket, so no cross-bucket "latest"
          exists to compare). This is exactly Kafka's documented
          key-ordering break on partition expansion. Pass
          ``order_by=<event-time column>`` (below) to compact by the
          read-side CDC contract instead and collapse the cross-bucket
          pair without :meth:`rekey_topic`'s full rewrite.
        - **Latest wins by event time** (``order_by="ts"``): survivors
          are the GLOBAL latest per key, ordered by ``(order_by, seq,
          bucket)`` across ALL buckets — the exact key the read-side
          CDC apply (plans/pipeline6.q_cdc_apply) uses, so a
          post-expansion topic gets strict latest-per-key (VERDICT r10
          item 7). Each survivor keeps its own bucket and seq (rows do
          not move buckets), so a bucket whose every key has a newer
          version elsewhere can compact to EMPTY — manifest maxima
          still never move (they are commit state, not derived from
          files), seq assignment and consume stay gap-tolerant as
          before. Cost is identical (same one shuffle, keyed by key
          instead of (bucket, key)); the tie-break makes ties
          deterministic when two buckets share an event time.
        - **Null keys are retained, never collapsed** (Kafka rejects
          unkeyed writes to compacted topics; retaining is the safe
          analog — each null-key row is its own group).
        - **Tombstones** (optional, ``tombstone_col``): a record whose
          ``tombstone_col`` is NULL marks its key deleted — when it is
          the key's LATEST record, the key's older versions are
          removed. With the default ``tombstone_retention_ms=0`` the
          tombstone row itself is removed in the same pass (immediate
          ``delete.retention.ms=0``). A positive
          ``tombstone_retention_ms`` is the Kafka
          ``delete.retention.ms`` analog (default there ~24 h): the
          tombstone row is RETAINED while its event time ``ts`` is
          within the window (``ts >= now - retention``), so lagging
          consumers replaying the log still observe the delete marker;
          a later pass after the window expires removes it (the
          two-pass lifecycle, VERDICT r10 item 4 — age is measured on
          the record's own ``ts``, the deterministic analog of Kafka's
          segment-clean timestamps, so the topic needs a ``ts``
          column to use a nonzero window). A tombstone superseded by a
          later non-null record deletes nothing.
        - **Seqs keep their values** — compaction introduces GAPS, and
          readers are gap-tolerant by construction: ``consume`` filters
          a closed seq range (missing seqs just aren't delivered, the
          Kafka compacted-fetch behavior), offsets/HWMs stay valid, and
          the per-bucket max-seq row always survives (it is the latest
          for its own key), so maxima never move.
        - **Stale duplicates may remain** after a concurrent produce:
          files landed mid-compaction are preserved verbatim by the
          swap (they are not in our input set), so a key updated
          mid-pass briefly has two versions — exactly Kafka's
          dirty-vs-cleaned segment split; the next pass collapses it.
          Readers that want strict latest-per-key compose with the
          read-side CDC window.

        Scale shape: ONE wide shuffle. ``max_by(struct(*), seq)`` under
        ``groupBy(bucket, key)`` is a hash aggregate with MAP-SIDE
        partial combine — each scan task pre-collapses its local
        duplicates, so the shuffle carries ~one row per live key per
        task, not the raw log (a window/rank formulation would shuffle
        every row). Null keys group by a per-row synthetic key (single
        branch — no self-union, no second scan). The bucket-layout
        rewrite is :meth:`compact`'s transaction, :func:`manifest.rewrite`:
        snapshot-pinned readers keep the old files until vacuum, a
        concurrent truncate supersedes the attempt (retry from the new
        base) rather than resurrecting aged-out rows. The plan runs on
        the caller's session, like :meth:`compact`.

        ROW COUNTS (the return value, and the ``dropped == 0`` test
        that decides whether a pass swaps files) cost no extra Spark
        job: input rows are the ``num_rows`` of the input files'
        parquet footers, read on the driver; output rows are the sum of
        the staging kernel's per-file ``n``. With a positive
        ``tombstone_retention_ms``, the retained tombstones are counted
        by a driver-side Arrow read of ``[key_col, tombstone_col]``
        over the staged files.

        CLEANER CHECKPOINT (the ``min.cleanable.dirty.ratio`` input,
        VERDICT r10 item 2): a successful pass records the file set it
        produced (plus a dropped-nothing pass the files it verified
        clean) as ``cleaned_files`` in the manifest — the Kafka
        cleaner-checkpoint analog. Files appended after the checkpoint
        are DIRTY; :meth:`key_compaction_dirty_ratio` derives the
        dirty-bytes ratio from the manifest + file stats (no Spark
        job), and the maintenance loop gates the cleaner on it so a
        quiet compacted topic stops paying a full live-log scan every
        interval. Consequence for "version == change": a pass that
        drops NO rows still commits one metadata-only manifest the
        first time it verifies new files clean (checkpoint state
        changed — that IS the change); repeat passes over the same
        clean set burn nothing.
        """
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        # the counts of the latest staging attempt, read by the swap's
        # cleaner-checkpoint edit and by the no-drop path below
        seen: dict = {}

        def stage(v: int, m: dict) -> dict[str, list[int]] | None:
            seen.update(v=v, m=m, dropped=0, retained=0)
            if not m["files"]:
                return None  # empty topic: nothing to compact (and no
                # schema yet to validate — a maintenance loop started
                # before the first produce must not error every cycle)
            src = self.read_topic(topic, version=v)
            if key_col not in src.columns:
                raise ValueError(
                    f"topic {topic!r} has no {key_col!r} column; key "
                    "compaction requires the compaction key in the "
                    f"message schema (columns: {src.columns})"
                )
            if tombstone_col is not None and tombstone_col not in src.columns:
                raise ValueError(
                    f"topic {topic!r} has no {tombstone_col!r} column; "
                    "tombstone compaction requires the value column in "
                    f"the message schema (columns: {src.columns})"
                )
            if tombstone_retention_ms > 0 and "ts" not in src.columns:
                raise ValueError(
                    f"topic {topic!r} has no 'ts' column; a nonzero "
                    "tombstone_retention_ms measures tombstone age on "
                    f"event time (columns: {src.columns})"
                )
            if order_by is not None and order_by not in src.columns:
                raise ValueError(
                    f"topic {topic!r} has no {order_by!r} column; "
                    "order_by compaction needs the event-time column in "
                    f"the message schema (columns: {src.columns})"
                )
            cols = src.columns
            data_dir = self.data_dir(topic)
            # per-row synthetic group for null keys: bucket:seq can
            # never collide with a real key under the \x00 prefix
            gkey = F.when(
                F.col(key_col).isNull(),
                F.concat_ws(":", F.lit("\x00null"), F.col("bucket"), F.col("seq")),
            ).otherwise(F.col(key_col).cast("string"))
            if order_by is None:
                # per-(bucket, key) latest by seq — the produce routing
                # invariant makes this global latest except across an
                # expand_buckets boundary (docstring)
                grouped = src.groupBy(
                    F.col("bucket").alias("_b"), gkey.alias("_gk")
                ).agg(F.max_by(F.struct(*cols), F.col("seq")).alias("_r"))
            else:
                # global latest per key by (order_by, seq, bucket): one
                # key -> one survivor across ALL buckets, the read-side
                # CDC contract (null-key rows keep their per-row
                # synthetic group and pass through)
                grouped = src.groupBy(gkey.alias("_gk")).agg(
                    F.max_by(
                        F.struct(*cols),
                        F.struct(F.col(order_by), F.col("seq"), F.col("bucket")),
                    ).alias("_r")
                )
            survivors = grouped.select("_r.*")
            if tombstone_col is not None:
                # a keyed survivor with a NULL value is a tombstone: the
                # key's latest state is "deleted" — older versions are
                # gone via the latest-wins agg; the tombstone ROW is
                # dropped immediately (retention 0) or once its event
                # time leaves the retention window (Kafka
                # delete.retention.ms; null-KEY rows are unkeyed
                # records, not deletes — they pass through)
                keep_tombstone = F.lit(False)
                if tombstone_retention_ms > 0:
                    cutoff_ms = int(time.time() * 1000) - int(tombstone_retention_ms)
                    keep_tombstone = F.col("ts") >= F.timestamp_millis(
                        F.lit(cutoff_ms)
                    )
                survivors = survivors.filter(
                    F.col(key_col).isNull()
                    | F.col(tombstone_col).isNotNull()
                    | keep_tombstone
                )
            # the bucket rewrite stages through compact()'s kernel: one
            # file per bucket, seq order preserved, invisible until the
            # manifest swap commits
            staged = _stage_by_bucket(
                survivors,
                data_dir,
                {},
                [c for c in cols if c != "bucket"],
                prefix="cmp",
                assign_seq=False,
            )
            # Exact counts with no second scan: read_topic(version=v)
            # reads exactly m["files"], unfiltered, so their footers sum
            # to the input rows, and the kernel's n sums to the output
            # rows (a seq-span estimate would overcount on every pass
            # after the first — compaction leaves gaps).
            n_in = sum(
                pq.read_metadata(os.path.join(data_dir, rel)).num_rows
                for rel in m["files"]
            )
            seen["dropped"] = n_in - sum(r["n"] for r in staged)
            if tombstone_col is not None and tombstone_retention_ms > 0:
                # retained within-window tombstones (delete.retention.ms
                # analog): counted so the cleaner checkpoint below can
                # DECLINE to mark their files clean — the second pass of
                # the two-pass tombstone lifecycle must still happen
                # after the window expires, and a clean checkpoint would
                # gate it off forever
                for r in staged:
                    t = pq.ParquetFile(os.path.join(data_dir, r["rel"])).read(
                        columns=[key_col, tombstone_col]
                    )
                    seen["retained"] += t.filter(
                        pc.and_(pc.is_valid(t[key_col]), pc.is_null(t[tombstone_col]))
                    ).num_rows
            if seen["dropped"] == 0:
                # already fully compacted: do NOT swap identical content
                # under pinned readers (the checkpoint is handled below)
                for r in staged:
                    os.remove(os.path.join(data_dir, r["rel"]))
                return None
            return staging.staged_ranges(staged)

        def edit(m: dict, ranges: dict[str, list[int]]) -> None:
            # cleaner checkpoint: exactly this pass's output is clean;
            # files kept by the swap landed concurrently and stay dirty.
            # Output holding retained within-window tombstones is NOT
            # clean — the post-window second pass must still be sent
            # back over it.
            m["cleaned_files"] = sorted(ranges) if seen["retained"] == 0 else []

        committed = manifest.rewrite(self.root, topic, base_version, stage, edit)
        if committed is not None:
            return seen["dropped"]
        # A pass that dropped nothing PROVED the scanned files clean, so
        # advance the cleaner checkpoint (metadata-only commit) unless it
        # already covers them — otherwise the dirty-ratio gate would send
        # the cleaner back over the same bytes every interval.
        base_v, base = seen["v"], seen["m"]
        compacted_input = set(base["files"])
        if seen["retained"] == 0:
            if not compacted_input <= set(base.get("cleaned_files", [])):

                def apply_clean(m: dict) -> dict:
                    live = set(m["files"])
                    m["cleaned_files"] = sorted(
                        (set(m.get("cleaned_files", [])) | compacted_input) & live
                    )
                    return m

                manifest.commit(self.root, topic, base_v, apply_clean)
        elif base.get("cleaned_files"):
            # a no-drop pass that RETAINED tombstones must not leave a
            # mostly-clean checkpoint standing: a lone within-window
            # marker (e.g. a delete of an already-compacted-away key)
            # would keep the dirty ratio near zero and the gate would
            # starve the post-window second pass forever. Clearing the
            # checkpoint keeps the cleaner returning each interval
            # until the window passes (review r11).

            def apply_unclean(m: dict) -> dict:
                m["cleaned_files"] = []
                return m

            manifest.commit(self.root, topic, base_v, apply_unclean)
        return 0

    def truncate(self, topic: str, before_seq: int) -> int:
        """Retention: drop log FILES wholly below ``before_seq`` in every
        bucket (the Kafka segment-retention analog — the reference's
        queue just grows until OOM, `pkg/utils/collection/
        concurrent_list.go`; a durable log needs an age-out).

        File-granularity by design: a file ages out only when its max
        seq < before_seq (the manifest's recorded seq range — no data
        or footer is read, nothing is rewritten), so the retained floor
        is <= before_seq and reads stay consistent: a consumer whose
        offset predates retention simply resumes at the retained floor,
        the same contract as Kafka's earliest-offset reset. The drop is
        a manifest commit (with per-bucket floors recomputed from the
        surviving files' min seqs); physical deletion is vacuum's job,
        so pinned snapshot readers are unaffected. Compact first for
        tight floors (one file per bucket => exact truncation). Returns
        files dropped."""
        return self._truncate_bounds(topic, lambda _b: before_seq)

    def truncate_before_timestamp(self, topic: str, epoch_ms: int) -> int:
        """TIME-based retention (Kafka ``retention.ms``): age out log
        files wholly older than the epoch-ms instant. Composes the two
        primitives this log already has — :meth:`offsets_for_times`
        maps T to each bucket's first at/after-T offset (a driver-side
        scan with the ts predicate pushed in, no Spark job), then the
        seq-granularity file drop reuses :meth:`truncate`'s machinery
        with that PER-BUCKET bound (per-file seq ranges are the
        droppable unit — exact for any file layout; ts stats, which
        round-9+ files also carry, only prune the offsets_for_times
        scan). A file ages out only when every row in it precedes its
        bucket's at/after-T offset; out-of-order produces
        (late data with old timestamps above the cutoff seq) are
        therefore RETAINED, exactly Kafka's offset-granularity
        retention behavior. Same consistency contract as truncate:
        floors rise, consumers clamp, vacuum deletes later. A topic
        with no produced data is a no-op (returns 0)."""
        cut = self.offsets_for_times(topic, epoch_ms)
        if not cut:
            return 0
        return self._truncate_bounds(
            topic, lambda b: cut.get(int(b), 0)
        )

    def _truncate_bounds(self, topic: str, bound_for_bucket) -> int:
        """Shared retention kernel: drop files whose max seq falls
        below ``bound_for_bucket(bucket)``, commit risen floors. A
        file's seq range comes from the manifest's ``seq_ranges``; only
        files without an entry open their parquet footer. See
        :meth:`truncate` for the full contract."""
        import pyarrow.parquet as pq

        data = self.data_dir(topic)
        base_v, base = self.latest_manifest(topic)
        ranges = base.get("seq_ranges", {})
        drop: set[str] = set()
        floors: dict[str, int] = {}
        dropped_end: dict[str, int] = {}  # max seq aged out per bucket
        for rel in base["files"]:
            b = str(manifest.bucket_of(rel))
            before_seq = int(bound_for_bucket(b))
            if rel in ranges:
                mn, mx = ranges[rel]
            else:
                md = pq.read_metadata(os.path.join(data, rel))
                idx = md.schema.to_arrow_schema().get_field_index("seq")
                stats = [
                    md.row_group(i).column(idx).statistics
                    for i in range(md.num_row_groups)
                ]
                mx = max(s.max for s in stats)
                mn = min(s.min for s in stats)
            if mx < before_seq:
                drop.add(rel)
                dropped_end[b] = max(dropped_end.get(b, -1), mx)
            else:
                floors[b] = min(floors.get(b, mn), mn)
        for b, end in dropped_end.items():
            # bucket fully aged out: the floor is one past the last
            # dropped seq, so consume() delivers nothing rather than
            # claiming rows that no longer exist
            floors.setdefault(b, end + 1)

        def _merge_floors(existing: dict) -> dict:
            # floors only ever RISE, and a committed floor survives even
            # when its bucket has no files in this pass (a bucket fully
            # aged out by an EARLIER truncate must keep its floor, or a
            # fresh consumer at offset 0 would spin through phantom
            # seq ranges instead of clamping to the retained floor)
            merged = {str(k): v for k, v in existing.items()}
            for b, fl in floors.items():
                merged[b] = max(merged.get(b, 0), fl)
            return merged

        if not drop and _merge_floors(base.get("floors", {})) == {
            str(k): v for k, v in base.get("floors", {}).items()
        }:
            # nothing aged out and no floor moved: do NOT burn a
            # manifest version (a quiet topic under a maintenance loop
            # would otherwise grow one no-op version per cycle,
            # breaking "version == data change" — same invariant
            # produce() protects for empty batches)
            return 0

        def apply(m: dict) -> dict:
            m["files"] = [f for f in m["files"] if f not in drop]
            m["floors"] = _merge_floors(m.get("floors", {}))
            return m

        manifest.commit(self.root, topic, base_v, apply)
        return len(drop)

    # -- consume (A6-A8) ---------------------------------------------------
    def register_consumer(self, consumer_id: str, topic: str) -> None:
        """First-contact check: validates the id and the topic
        (ValueError for an id that is not a flat name,
        FileNotFoundError naming an unknown topic) and writes nothing.
        A consumer with no committed offsets reads offset 0 for every
        bucket, the value the reference registers (ZK /consumers/<id> =
        "0", core.go:77-85)."""
        manifest.validate_consumer_id(consumer_id)
        manifest.validate_topic_name(topic)
        manifest.latest_version(self.root, topic)

    def committed_offsets(self, consumer_id: str, topic: str) -> dict[int, int]:
        """The consumer's committed {bucket: offset} — its own offsets,
        with the buckets it owns in a group read from the group's
        offsets (:func:`committed_offsets_in`, one consumer-log
        version)."""
        return committed_offsets_in(consumer_state(self.root, topic)[1], consumer_id)

    def poll(
        self, consumer_id: str, topic: str, bucket: int, count: int
    ) -> tuple["pa.Table", int]:
        """AskQuery{Count}: next ``count`` messages of one bucket from
        the committed offset, in seq order, read on the driver with no
        Spark job. Non-destructive; the read does not move the offset —
        call :meth:`commit` after processing (at-least-once).

        Returns (table, next_offset). The table is exactly seq ∈
        [offset, next_offset) — the reference's clamped
        SubArray(offset, offset+Count) (queue.go:59-61) — as a
        ``pyarrow.Table`` of the manifest's recorded message schema plus
        ``bucket`` (evolved columns as typed nulls). ONE manifest version
        serves the retention floor, the high-water mark, the schema and
        the file list, and its per-file ``seq_ranges`` plan only the
        files of this bucket that overlap the range
        (:func:`manifest.plan`), so the cost does not grow with the
        log. ``count`` bounds the rows held on the driver, like Kafka's
        ``max.poll.records``."""
        _ddl, tbl, end = self._poll(consumer_id, topic, bucket, count)
        return tbl, end

    def _poll(self, consumer_id: str, topic: str, bucket: int, count: int):
        """:meth:`poll` plus the DDL of its table."""
        _v, m = self.latest_manifest(topic)
        state = consumer_state(self.root, topic)[1]
        offset = committed_offsets_in(state, consumer_id).get(bucket, 0)
        # Retention clamp: offsets below the retained floor resume at
        # the floor (Kafka earliest-offset reset; see truncate()).
        offset = max(offset, int(m["floors"].get(str(bucket), 0)))
        # seq is contiguous per bucket above the floor (produce
        # invariant), so delivered = min(count, max_seq - offset + 1).
        mx = int(m["maxima"].get(str(bucket), -1))
        end = offset + max(0, min(count, mx - offset + 1))
        ddl = _message_ddl(m) or "seq bigint, bucket int"
        rels = manifest.plan(m, {bucket: (offset, end)}).get(bucket, [])
        data = self.data_dir(topic)
        part = datasource.BucketPartition(
            [os.path.join(data, r) for r in rels], bucket, offset, None, upto=end
        )
        return ddl, datasource._bucket_table(part, _arrow_schema(ddl)), end

    def consume(
        self, consumer_id: str, topic: str, bucket: int, count: int
    ) -> tuple[DataFrame, int]:
        """:meth:`poll` as a DataFrame: the same rows, schema and
        next_offset, for callers that keep processing in Spark.
        Returns (batch_df, next_offset). The batch is the polled Arrow
        table handed to Spark, so at most ``count`` rows are
        materialized on the driver (Kafka's ``max.poll.records``), and
        consuming it is one Spark job. It is one partition, so even
        per-partition processing sees the rows in seq order."""
        ddl, tbl, end = self._poll(consumer_id, topic, bucket, count)
        return self.spark.createDataFrame(tbl, schema=ddl).coalesce(1), end

    def offsets_for_times(self, topic: str, epoch_ms: int) -> dict[int, int]:
        """Kafka ``offsetsForTimes``: per-bucket offset of the FIRST
        message whose event ``ts`` is at/after the epoch-millisecond
        instant; buckets with nothing at/after it map to their
        high-water mark. A driver-side scan planned from one manifest
        version, no Spark job — see
        :func:`datasource.offsets_for_times` for the exactness
        contract and the ts-less-topic ``ValueError``."""
        return datasource.offsets_for_times(self.root, topic, epoch_ms)

    def seek_to_timestamp(
        self, consumer_id: str, topic: str, epoch_ms: int
    ) -> dict[int, int]:
        """Position a batch consumer at a point in TIME (Kafka
        ``offsetsForTimes`` + ``seek``): commits every bucket's
        timestamp offset in one ungated consumer-log commit
        (:meth:`commit_many`), so the next ``consume`` starts
        at the first message at/after the instant (see
        :meth:`offsets_for_times` for the exactness contract — late
        produces carrying earlier timestamps are still replayed,
        Kafka's semantics) and a failed write leaves no bucket seeked.
        Returns the committed {bucket: offset} map. The streaming
        analog is the ``ripple_topic`` source's
        ``start_at=timestamp:<epoch_ms>`` option. Like
        :meth:`reset_offsets`, a ``ValueError`` for a consumer that owns
        buckets in a group."""
        offsets = self.offsets_for_times(topic, epoch_ms)
        self._commit_own(consumer_id, topic, offsets, "seek_to_timestamp")
        return offsets

    @staticmethod
    def _sticky_split(
        n_buckets: int,
        group_id: str,
        n_members: int,
        prev: dict[str, list[int]],
    ) -> dict[str, list[int]]:
        """The Kafka StickyAssignor analog (VERDICT r10 item 5): an
        even partition (sizes differ by at most one) that moves the
        MINIMUM number of buckets off their previous owners —
        surviving members keep what they had, shedding only the excess
        above their new target; departed members' buckets and
        never-assigned buckets fill the gaps. Deterministic: excess is
        shed highest-bucket-first, the pool is assigned sorted to
        members in index order, so every member computes the same
        split from the same stored previous assignment. Exactly
        ceil(|range delta|) buckets move on a membership change — at
        100 TB a rebalance re-reads only the moved buckets' backlog
        instead of most of the topic (the range assignor can move
        nearly everything on a 2->3 step)."""
        members = [f"{group_id}-{k}" for k in range(n_members)]
        base, extra = divmod(n_buckets, n_members)
        target = {m: base + (1 if k < extra else 0) for k, m in enumerate(members)}
        seen: set[int] = set()
        cur: dict[str, list[int]] = {}
        for m in members:
            mine = []
            for b in sorted(int(x) for x in prev.get(m, [])):
                if 0 <= b < n_buckets and b not in seen:
                    mine.append(b)
                    seen.add(b)
            cur[m] = mine
        pool = [b for b in range(n_buckets) if b not in seen]
        for m in members:  # shed excess, highest buckets first
            while len(cur[m]) > target[m]:
                pool.append(cur[m].pop())
        pool.sort()
        for m in members:  # fill deficits from the sorted pool
            need = target[m] - len(cur[m])
            if need > 0:
                cur[m] = sorted(cur[m] + pool[:need])
                pool = pool[need:]
        return cur

    def group_state(self, topic: str, group_id: str) -> dict | None:
        """{"generation": g, "n_members": n, "strategy": s} for a group
        recorded in the topic's consumer log, or None before its first
        assignment. ``g`` is the effective generation
        (:func:`_generation`), the one fenced commits check."""
        n_buckets = int(self.latest_manifest(topic)[1]["n_buckets"])
        entry = consumer_state(self.root, topic)[1].get("groups", {}).get(group_id)
        if entry is None:
            return None
        return {
            "generation": _generation(entry, n_buckets),
            "n_members": int(entry["n_members"]),
            "strategy": entry.get("strategy", "range"),
        }

    def assign_buckets(
        self,
        topic: str,
        group_id: str,
        n_members: int,
        strategy: str = "range",
    ) -> dict[str, list[int]]:
        """Deterministic bucket -> member partition for N batch
        consumers SHARING a topic (the Kafka range assignor): member k
        of group ``group_id`` owns a contiguous run of buckets, every
        bucket is owned by exactly one member, and runs differ in size
        by at most one. Returns {"<group_id>-<k>": [buckets...]}.

        ``strategy="sticky"`` (Kafka StickyAssignor, VERDICT r10
        item 5): same coverage/balance contract, but a rebalance moves
        the MINIMUM number of buckets — surviving members keep their
        buckets up to the new target size (see :meth:`_sticky_split`
        for the determinism + movement bound); the previous assignment
        seeds the next. Switching strategy on a live group is a
        rebalance (generation bumps). After :meth:`expand_buckets`
        (from which the group reads one generation past its stored one,
        :func:`_generation`), the first ``assign_buckets`` call stores
        the assignment refreshed over the new buckets at that effective
        generation, with no second bump — for sticky groups old buckets
        stay put and new buckets fill the deficits.

        This is an EXTENSION beyond the reference, whose consumers are
        fan-out-only (every /consumers/<id> independently sees the full
        stream, core.go:77-85) — but bucket splitting is the first
        operational question a real user asks of a partitioned log.
        Each member id is an ordinary consumer (poll / consume per owned
        bucket). Committed progress belongs to the GROUP: fenced
        commits (:meth:`commit_many` with ``group_id`` +
        ``generation``) store offsets per (group, bucket) in the
        group's entry, and every rebalance carries them forward, so a
        bucket's new owner resumes where its previous owner committed —
        a rebalance replays only what was delivered but not committed
        (the at-least-once contract of any consumer restart). A
        member's ungated commits are refused while it owns buckets.

        The group's entry in the topic's consumer-state log holds its
        generation, strategy, member count, assignment (stored for both
        strategies; :func:`_assignment` is the one reader) and offsets.
        A rebalance is one consumer-log commit (no data-manifest
        version), and the version claim serializes concurrent
        rebalances.

        GENERATION FENCING (Kafka group-epoch zombie fencing): the new
        generation is the effective one, plus one exactly when
        ``n_members`` or the strategy changes. Calling with the CURRENT
        configuration never
        bumps (idempotent: every member of one generation converges on
        one epoch with no coordination). Fenced commits then reject a
        member whose epoch is stale or whose bucket it no longer owns,
        so a zombie from the pre-rebalance generation cannot commit to
        a bucket it lost. Fetch the current epoch with
        :meth:`group_state`.
        """
        if n_members < 1:
            raise ValueError(f"assign_buckets: n_members must be >= 1, got {n_members}")
        if strategy not in ("range", "sticky"):
            raise ValueError(
                f"assign_buckets: strategy must be 'range' or 'sticky', "
                f"got {strategy!r}"
            )
        manifest.validate_consumer_id(group_id)  # it prefixes member ids
        nb = int(self.latest_manifest(topic)[1]["n_buckets"])

        def plan(state: dict) -> dict | None:
            """The group's next entry under consumer state ``state``, or
            None when the recorded entry already is this request's."""
            cur = state.get("groups", {}).get(group_id)
            owners = _assignment(state, group_id)
            assignment = (
                _range_split(nb, group_id, n_members)
                if strategy == "range"
                # the current owners seed stickiness
                else self._sticky_split(nb, group_id, n_members, owners)
            )
            same = (
                cur is not None
                and int(cur["n_members"]) == n_members
                and cur.get("strategy", "range") == strategy
            )
            if same and owners == assignment:
                return None
            return {
                # `same` with a changed assignment is the refresh after
                # expand_buckets: store the effective generation
                "generation": _generation(cur, nb) + (0 if same else 1)
                if cur
                else 1,
                "n_members": n_members,
                "strategy": strategy,
                "assignment": assignment,
                "offsets": dict(cur.get("offsets", {})) if cur else {},
            }

        class _AlreadyCurrent(Exception):
            pass

        def apply(state: dict) -> dict:
            entry = plan(state)
            if entry is None:
                # another member of THIS generation won the race:
                # adopt its epoch, do not double-bump
                raise _AlreadyCurrent()
            state["groups"] = {**state.get("groups", {}), group_id: entry}
            return state

        state = consumer_state(self.root, topic)[1]
        if plan(state) is not None:
            try:
                state = _commit_consumers(self.root, topic, apply)
            except _AlreadyCurrent:
                # adopt the winner's committed state — but only if it
                # matches this request; a CONCURRENT reconfiguration
                # (different strategy or member count landing between
                # our apply and this re-read) means the group moved on
                # and this member must re-join (review r11)
                state = consumer_state(self.root, topic)[1]
                if plan(state) is not None:
                    raise StaleGenerationError(
                        f"group {group_id!r} on topic {topic!r} was "
                        "reconfigured concurrently (strategy or member "
                        "count changed) — re-run assign_buckets"
                    ) from None
        return _assignment(state, group_id)

    def describe_group(self, topic: str, group_id: str) -> dict:
        """Kafka ``kafka-consumer-groups --describe`` analog: the
        group's current generation, member count, and per-member
        assignment with committed offsets and LAG (HWM+1 - offset,
        clamped at the retained floor — a member parked below the
        floor reports only what a consume can actually deliver).
        Raises KeyError for a group with no recorded assignment.
        One manifest version and one consumer-log version serve every
        member (:func:`committed_offsets_in`); no Spark job."""
        _v, m = self.latest_manifest(topic)
        state = consumer_state(self.root, topic)[1]
        entry = state.get("groups", {}).get(group_id)
        if entry is None:
            raise KeyError(
                f"group {group_id!r} has no recorded assignment on "
                f"topic {topic!r}"
            )
        members = {}
        for member, owned in _assignment(state, group_id).items():
            offs = committed_offsets_in(state, member)
            lag = {}
            for b in owned:
                hwm = int(m["maxima"].get(str(b), -1)) + 1
                eff = max(offs.get(b, 0), int(m["floors"].get(str(b), 0)))
                lag[b] = max(0, hwm - eff)
            members[member] = {
                "buckets": owned,
                "offsets": {b: offs.get(b, 0) for b in owned},
                "lag": lag,
            }
        return {
            "generation": _generation(entry, int(m["n_buckets"])),
            "n_members": int(entry["n_members"]),
            "members": members,
            "total_lag": sum(
                v for m in members.values() for v in m["lag"].values()
            ),
        }

    def rekey_topic(
        self,
        src: str,
        dst: str,
        n_buckets: int | None = None,
        key_col: str = "user_id",
        batch_id: str | None = None,
    ) -> int:
        """Full rekeying rewrite: read ``src``'s live snapshot and
        produce it into a FRESH topic ``dst`` with a clean key->bucket
        mapping — the repair documented on :meth:`expand_buckets` /
        :meth:`compact_by_key` for when strict cross-expansion per-key
        semantics matter (Kafka has no in-place equivalent; the
        standard remedy is exactly this copy-to-new-topic). Seqs are
        reassigned by arrival order ((ts, event_id) per new bucket),
        consumers of ``dst`` start fresh. One produce transaction
        (idempotent under ``batch_id``); returns rows written."""
        if dst == src:
            raise ValueError("rekey_topic requires a distinct destination topic")
        meta = self.topic_meta(src)
        self.create_topic(
            dst,
            n_buckets=int(n_buckets or meta["n_buckets"]),
            config=meta.get("config"),
        )
        df = self.read_topic(src).drop("bucket", "seq")
        return self.produce(df, dst, key_col=key_col, batch_id=batch_id)

    def commit(
        self,
        consumer_id: str,
        topic: str,
        bucket: int,
        offset: int,
        *,
        group_id: str | None = None,
        generation: int | None = None,
    ) -> None:
        """Persist one committed offset: the one-entry form of
        :meth:`commit_many`.

        Without ``group_id`` the consumer is an independent fan-out
        reader and the commit is an ungated write of its own offsets
        (the reference's model), refused with a ``ValueError`` while
        the id owns buckets in a group. With ``group_id`` +
        ``generation`` the commit is GROUP-FENCED and stores the
        offset as the group's: it is rejected
        (:class:`StaleGenerationError`) when the group has rebalanced
        past the member's generation or the member does not own the
        bucket — Kafka's zombie fencing."""
        self.commit_many(
            consumer_id,
            topic,
            {bucket: offset},
            group_id=group_id,
            generation=generation,
        )

    def commit_many(
        self,
        consumer_id: str,
        topic: str,
        offsets: dict[int, int],
        *,
        group_id: str | None = None,
        generation: int | None = None,
    ) -> None:
        """Persist a SET of per-bucket offsets atomically: either every
        entry lands or none — the primitive the streaming→batch
        handover (``commit_stream_position``) needs for its "never a
        partial cursor set" promise. Either form is ONE consumer-log
        commit whose ``apply`` checks and then writes, so the check and
        the write share one version claim: a concurrent write that
        lands first makes the claim lose, and the rebase re-runs the
        check against it. A failed or crashed commit leaves the
        previous version, so there is nothing to roll back. Neither
        form writes a data-manifest version. An unknown topic raises
        FileNotFoundError and writes nothing.

        Ungated (no ``group_id``): the consumer's own offsets — the
        single-writer-per-consumer model the reference also assumes.
        While the id owns buckets in a group, its reads of those
        buckets come from the group's offsets, which this write would
        not move: ``ValueError`` naming the group.

        Group-scoped (``group_id`` + ``generation``): rejects a stale
        generation (:func:`_generation`, under the ``n_buckets`` read
        just before the claim), an unknown group, or any bucket the
        member does not own under the current assignment
        (:func:`_assignment`), and otherwise stores the offsets in the
        group's entry, keyed by bucket."""
        if group_id is None:
            self._commit_own(consumer_id, topic, offsets, "commit")
            return
        if generation is None:
            raise ValueError(
                "group-scoped commit requires generation= (fetch it with "
                "group_state); omit group_id for ungated independent-"
                "consumer commits"
            )
        n_buckets = int(self.latest_manifest(topic)[1]["n_buckets"])

        def apply(state: dict) -> dict:
            entry = state.get("groups", {}).get(group_id)
            if entry is None:
                raise StaleGenerationError(
                    f"group {group_id!r} has no recorded assignment on topic "
                    f"{topic!r} — call assign_buckets first"
                )
            cur_gen = _generation(entry, n_buckets)
            if int(generation) != cur_gen:
                raise StaleGenerationError(
                    f"commit by {consumer_id!r} carries generation "
                    f"{int(generation)}, but group {group_id!r} on topic "
                    f"{topic!r} is at generation {cur_gen} — the "
                    "group rebalanced; this member must re-join (re-run "
                    "assign_buckets) before committing"
                )
            owned = _assignment(state, group_id).get(consumer_id)
            for bucket in offsets:
                if owned is None or bucket not in owned:
                    raise StaleGenerationError(
                        f"member {consumer_id!r} does not own bucket {bucket} "
                        f"of topic {topic!r} under generation {cur_gen} "
                        f"(owned: {owned}) — stale assignment"
                    )
            committed = dict(entry.get("offsets", {}))
            committed.update({str(b): int(o) for b, o in offsets.items()})
            state["groups"] = {**state["groups"], group_id: {**entry, "offsets": committed}}
            return state

        _commit_consumers(self.root, topic, apply)

    def _commit_own(
        self, consumer_id: str, topic: str, offsets: dict[int, int], op: str
    ) -> None:
        """The one ungated offsets write, behind ``commit``/``commit_many``
        without ``group_id``, ``reset_offsets``, ``seek_to_timestamp``
        and ``commit_stream_position`` without ``group_id``: one
        consumer-log commit merging ``offsets`` into the id's own map.
        Its ``apply`` raises ValueError naming the group when the id
        owns buckets in a group of the snapshot it lands on."""
        manifest.validate_consumer_id(consumer_id)

        def apply(state: dict) -> dict:
            for group_id in state.get("groups", {}):
                if _assignment(state, group_id).get(consumer_id):
                    raise ValueError(
                        f"{op}: {consumer_id!r} owns buckets of group "
                        f"{group_id!r} on topic {topic!r}, whose committed "
                        "offsets override its own; move a group's offsets "
                        "with fenced commits (group_id=, generation=)"
                    )
            consumers = dict(state.get("consumers", {}))
            consumers[consumer_id] = {
                **consumers.get(consumer_id, {}),
                **{str(b): int(o) for b, o in offsets.items()},
            }
            state["consumers"] = consumers
            return state

        _commit_consumers(self.root, topic, apply)

    def read_increment(
        self, topic: str, since_version: int, version: int | None = None
    ) -> DataFrame:
        """Incremental read: exactly the rows APPENDED after manifest
        ``since_version``, up to ``version`` (default latest) — the
        Delta change-data-feed / Iceberg incremental-scan analog,
        restricted to inserts because this log is append+retention only
        (no updates or per-row deletes exist to feed back).

        Exact by the produce invariant (seq contiguous per bucket): the
        increment is precisely ``seq > maxima[since_version][bucket]``
        per bucket, read against a pinned snapshot. No file-set diffing
        is needed — compaction rewrites content-identically and
        truncation only removes below the retention floor, so neither
        perturbs the seq range. The one unservable case is a row both
        appended AND truncated between the two versions (its data has
        legitimately aged out — the same gap Delta CDF has after
        VACUUM). Requires ``since_version``'s manifest to be retained
        (raises ``FileNotFoundError`` after vacuum pruned it).

        A :meth:`restore` between the two versions makes "appended
        since" ill-defined at the seq level (the rollback rewinds the
        high-water marks, so later produces legitimately REUSE seqs the
        base version had already seen — a seq filter would silently
        drop them). Detected and refused with ``ValueError``: the
        restore marker token only ever changes on a restore commit and
        is inherited untouched by every other commit, so comparing the
        base and target markers catches an intervening rollback even
        after vacuum pruned the manifests between them; an incremental
        consumer must re-read the snapshot after a rollback (the same
        continuity break Delta CDF declares on RESTORE).

        Only the tail is planned: each bucket opens just the files
        whose recorded seq range reaches past its base maximum
        (:meth:`_read`), so an incremental consumer pays for the tail,
        not the log. A bucket added by :meth:`expand_buckets` after
        ``since_version`` has no base maximum and is read whole.
        """
        base = manifest.load(self.root, topic, since_version)
        if version is None:
            version, target = self.latest_manifest(topic)
        else:
            target = manifest.load(self.root, topic, version)
        if base.get("restored_from") != target.get("restored_from"):
            raise ValueError(
                f"topic {topic!r} was restored between versions "
                f"{since_version} and {version}: seq high-water marks "
                "were rewound, so the increment is undefined — re-read "
                "the snapshot instead"
            )
        base_max = {int(b): x for b, x in base.get("maxima", {}).items()}
        return self._read(topic, target, base_max)

    def restore(self, topic: str, version: int) -> dict:
        """Delta-style RESTORE: roll the topic back to ``version`` by
        committing a NEW manifest whose state (files, maxima, floors,
        schema, applied batches) equals the target snapshot — rollback
        as a forward commit, so the log stays append-only, concurrent
        readers pinned to any version are unaffected, and
        :meth:`history` keeps the full audit trail (the commit
        classifies as ``restore``).

        Fails with ``FileNotFoundError`` if the target manifest or any
        of its data files has been vacuumed — the same failure mode as
        Delta RESTORE past the VACUUM horizon (reference semantics
        note: the reference queue has no rollback at all — its log is
        memory-only, `internal/broker/queue/queue.go:6-8` — so this is
        extension surface of the durable log store, like compact and
        truncate). Like produce's staged
        files, the existence check races a concurrent zero-grace
        vacuum; the maintenance loop's positive grace window covers it.

        After a restore, seqs rolled back become live again: the next
        produce continues from the RESTORED maxima (rewinding the
        high-water mark is the point of a rollback), and consumer
        offsets past the restored tail clamp at end-of-log on the next
        consume.
        """
        target = manifest.load(self.root, topic, version)
        data = self.data_dir(topic)
        missing = [
            rel
            for rel in target["files"]
            if not os.path.exists(os.path.join(data, rel))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore topic {topic!r} to version {version}: "
                f"{len(missing)} data file(s) vacuumed, e.g. {missing[0]!r}"
            )
        latest_v, _ = self.latest_manifest(topic)

        def apply(m: dict) -> dict:
            for key in (
                "files",
                "maxima",
                "floors",
                "applied_batches",
                "schema",
                "seq_ranges",
            ):
                if key in target:
                    m[key] = target[key]
                else:
                    m.pop(key, None)
            # token makes each restore commit distinct from the one
            # before it — history() classifies by the key CHANGING, and
            # produce/compact commits after a restore inherit the key
            # unchanged (so they classify as themselves, not restores);
            # without the token, back-to-back restores to the same
            # version would be indistinguishable
            m["restored_from"] = {"version": version, "token": uuid.uuid4().hex}
            return m

        return manifest.commit(self.root, topic, latest_v, apply)

    # -- introspection -------------------------------------------------------
    def history(self, topic: str) -> list[dict]:
        """DESCRIBE-HISTORY-style audit of the manifest log: one row per
        committed version with its wall-clock time (the commit file's
        mtime — the O_EXCL create IS the commit instant) and the
        operation KIND, derived by diffing consecutive snapshots rather
        than stored — so history works for every log ever written and
        the commit protocol stays untouched:

        - files added only                  -> produce
        - files added AND removed           -> compact (atomic swap)
        - files removed / floors raised     -> truncate (retention)
        - restored_from marker changed      -> restore (rollback commit;
          checked first — a restore usually also looks like a
          truncate/compact delta)
        - no file change                    -> metadata (e.g. an
          applied-batch or schema-only commit)

        ``vacuum`` never commits a manifest, but it PRUNES old versions
        (bounded log), so history covers the RETAINED tail; after a
        prune the earliest surviving version reports
        ``retained-snapshot`` (its predecessor diff is gone)."""
        log = manifest.log_dir(self.root, topic)
        out: list[dict] = []
        prev_files: set[str] = set()
        prev_floors: dict[int, int] = {}
        prev_restore = None
        for name in sorted(n for n in os.listdir(log) if n.endswith(".json")):
            path = os.path.join(log, name)
            m = manifest.load(self.root, topic, int(name[:-5]))
            files = set(m["files"])
            floors = {int(k): v for k, v in m.get("floors", {}).items()}
            restore_mark = m.get("restored_from")
            added, removed = files - prev_files, prev_files - files
            if m["version"] == 1:
                op = "create"
            elif not out:
                # vacuum prunes old manifest versions (bounded log), so
                # the earliest RETAINED version is a full snapshot whose
                # predecessor is gone — not a classifiable delta
                op = "retained-snapshot"
            elif restore_mark != prev_restore:
                op = "restore"
            elif added and removed:
                op = "compact"
            elif added:
                op = "produce"
            elif removed or any(
                floors.get(b, 0) > prev_floors.get(b, 0) for b in floors
            ):
                op = "truncate"
            else:
                op = "metadata"
            row = {
                "version": m["version"],
                "ts": os.path.getmtime(path),
                "operation": op,
                "n_files": len(files),
                "files_added": len(added),
                "files_removed": len(removed),
            }
            if op == "restore" and isinstance(restore_mark, dict):
                row["restored_to"] = restore_mark.get("version")
            out.append(row)
            prev_files, prev_floors = files, floors
            prev_restore = restore_mark
        return out
