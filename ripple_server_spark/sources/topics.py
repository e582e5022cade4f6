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
reads touch only tail files. Sequence assignment shuffles
only the *new* batch (window over batch rows) and reads only the
per-bucket maxima of existing data (column-pruned parquet footer scan).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
import threading
import time
import uuid
import weakref
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ripple_server_spark.config import N_BUCKETS
from ripple_server_spark.operators.relational import bucket_of
from ripple_server_spark.sources import manifest
from ripple_server_spark.sources.manifest import (  # noqa: F401  (re-exported)
    StaleGenerationError,
    StaleProducerEpochError,
)


def normalize_offsets_doc(doc: dict) -> dict:
    """One normalizer for BOTH offsets-file formats — the r11+ wrapped
    document ``{"offsets": {b: o}, "generations": {b: g}}`` and the
    legacy flat ``{b: o}`` map — shared by every reader (TopicStore
    and the ``ripple_topic`` source's ``start_at=consumer:`` cursor
    load), so a future format change cannot silently diverge between
    the batch and streaming paths (review r11)."""
    if "offsets" in doc and isinstance(doc.get("offsets"), dict):
        return {
            "offsets": dict(doc["offsets"]),
            "generations": dict(doc.get("generations", {})),
        }
    return {"offsets": dict(doc), "generations": {}}


# One cloned engine session per user session (SparkContext shared).
# Engine topic writes execute there with outputTimestampType pinned to
# TIMESTAMP_MICROS ONCE, so no shared-session SQL conf is ever mutated:
# the pre-r10 set/restore window — even serialized by a module lock —
# still re-typed a USER parquet write that ran on another driver thread
# during an engine produce/compact (review r09/ADVICE r09). A dedicated
# session has no such window: user writes keep the user's configured
# type unconditionally, engine files always carry micros stats.
_ENGINE_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)
_ENGINE_LOCK = threading.Lock()

# Runtime confs mirrored from the user session into the engine clone —
# RE-SYNCED at every engine-write entry, not just at clone time
# (ADVICE r10: newSession() starts from the builder's initial confs,
# and a one-shot copy goes stale the moment the user changes a runtime
# conf). These affect engine-write plans: shuffle width of the seq
# window; AQE; ANSI arithmetic semantics; session timezone for any
# tz-aware expression the rebound plan still evaluates engine-side
# (the physical parquet TIMESTAMP encoding itself is instant-based and
# tz-independent, but expression SEMANTICS are not).
_ENGINE_MIRRORED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
)


def _sync_engine_confs(spark: SparkSession, eng: SparkSession) -> None:
    """Copy the mirrored runtime confs user -> engine (cheap conf
    get/set; called under _ENGINE_LOCK)."""
    for k in _ENGINE_MIRRORED_CONFS:
        try:
            eng.conf.set(k, spark.conf.get(k))
        except Exception:
            pass  # conf undefined in this Spark build — keep default


def _engine_session(spark: SparkSession) -> SparkSession:
    """The per-user-session engine clone (created lazily, cached weakly
    so a stopped user session does not pin its clone). Mirrored confs
    are re-synced from the user session on EVERY call, so engine-side
    plan evaluation tracks runtime conf changes instead of the values
    frozen at clone creation (ADVICE r10)."""
    with _ENGINE_LOCK:
        eng = _ENGINE_SESSIONS.get(spark)
        if eng is None:
            eng = spark.newSession()
            eng.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
            # AQE's runtime empty-relation propagation REPLACES the
            # subtree above a 0-row shuffle, dropping upstream
            # CollectMetrics nodes — an Observation on the scan then
            # gets no metrics row and Observation.get dies in toPyRow
            # (hit by compact_by_key when every key is tombstoned).
            # Engine writes observe their row counts as the commit's
            # source of truth, so on THIS session correctness of
            # metrics outranks the empty-plan shortcut.
            eng.conf.set(
                "spark.sql.adaptive.optimizer.excludedRules",
                "org.apache.spark.sql.execution.adaptive."
                "AQEPropagateEmptyRelation",
            )
            _ENGINE_SESSIONS[spark] = eng
        _sync_engine_confs(spark, eng)
        return eng


@_contextmanager
def _micros_ts_writes(df: DataFrame):
    """Yield ``df`` rebound to the engine session, whose
    ``outputTimestampType=TIMESTAMP_MICROS`` is pinned once at clone
    time: micros columns carry parquet min/max statistics (Spark's
    INT96 default does not), so time predicates over TOPIC files —
    offsets_for_times, truncate_before_timestamp, start_at=timestamp —
    prune row groups instead of scanning the retained log.

    Why a cloned session and not a conf window: SQL confs are
    session-global across driver threads, and Spark ignores a per-write
    ``.option("outputTimestampType", ...)`` (probed), so any set/restore
    on the SHARED session races a concurrent user parquet write on
    another thread — the exact re-typing regression the round-9 scoping
    was meant to prevent (naive TIMESTAMP became TIMESTAMPTZ for
    pipelines that round-trip their own parquet). The clone shares the
    SparkContext, so the rebind is a global-temp-view handoff of the
    ANALYZED plan — lazy, zero data movement, and the view is dropped
    once the write completes. The native sink path writes via pyarrow
    and never needs any of this."""
    spark = df.sparkSession
    eng = _engine_session(spark)
    name = f"ripple_micros_{uuid.uuid4().hex}"
    df.createOrReplaceGlobalTempView(name)
    try:
        gdb = spark.conf.get("spark.sql.globalTempDatabase")
        yield eng.table(f"{gdb}.{name}")
    finally:
        spark.catalog.dropGlobalTempView(name)


# Per-task staging buffer target: rows of the CURRENT bucket accumulate
# until this many Arrow bytes, then flush as one parquet row group — the
# kernel's memory bound (plus one in-flight Arrow batch). Small produces
# still land as one row group per file (the r12 layout); a skewed
# produce whose whole batch routes to one bucket streams through in
# bounded memory instead of buffering the task's entire input
# (VERDICT r12 item 3).
_STAGE_FLUSH_BYTES = 64 << 20


def _produce_stage_kernel(
    data_dir: str,
    base: dict[int, int],
    file_cols: list[str],
    prefix: str = "prd",
    assign_seq: bool = True,
    flush_bytes: int = _STAGE_FLUSH_BYTES,
):
    """mapInArrow kernel for :meth:`TopicStore.produce`'s staging write.

    The caller repartitions by bucket AND sorts within partitions by
    (bucket, ts, event_id) ascending NULLS FIRST — the exact order the
    pre-r12 window plan used — in the JVM, whose sort spills gracefully
    (the r12 form sorted in Python and buffered one task's ENTIRE batch
    in the worker; a skewed produce routing everything to one bucket
    had no spill path — VERDICT r12 item 3). The kernel then STREAMS:
    it walks the sorted batches, assigns contiguous per-bucket seqs
    from the driver-shipped maxima as running counters, and appends
    row groups to ONE open ``pq.ParquetWriter`` per (task, bucket),
    buffering at most ``flush_bytes`` of the current bucket plus one
    Arrow batch. Files land straight in the live bucket dirs under
    collision-free names (invisible until the manifest commit, the
    native sink's ``_task_append`` protocol). Returns one
    (bucket, n, rel, lo, hi) row per file — ``[lo, hi]`` is the file's
    seq range, recorded in the manifest's ``seq_ranges`` by the commit
    that adds the file; the caller's collect is bounded by the bucket
    count.

    Why not ``df.write.partitionBy("bucket")``: the Hadoop commit
    protocol serializes driver-side renames + existence checks per
    partition directory and per file (~0.3-0.5 s per produce at bench
    scale, measured r12 — the same overhead wave 1 removed from the
    rollup refresh), and the staged files then paid a second
    driver-side rename into the live bucket dirs. pyarrow writes the SAME
    physical layout (TIMESTAMP_MICROS with min/max statistics — the
    ``_micros_ts_writes`` contract; snappy; one row group per file at
    produce batch sizes) with zero committer involvement. A failed or
    speculative task attempt leaves only uniquely-named orphans that no
    manifest references (vacuum reclaims them), identical to the sink's
    crash story.

    Correctness notes: a bucket's rows land in exactly ONE task (the
    caller repartitions by bucket) and arrive contiguously (the sort),
    so per-bucket seq ranges never overlap and each bucket opens
    exactly one writer; ``base`` is re-validated inside the manifest
    commit (seq race -> rebase), so a stale driver read cannot publish
    overlapping seqs; an input ``seq`` column is dropped and recomputed
    at its original position (``file_cols``), the old
    withColumn-overwrite contract.

    ``assign_seq=False`` reuses the same streaming writer for inputs
    whose ``seq`` is already correct (compaction's bucket rewrite,
    which sorts by (bucket, seq) instead): the kernel preserves the
    input ``seq`` verbatim. ``prefix`` names the staged files (``prd``
    produce, ``cmp`` compaction) so operators can attribute orphans."""

    def stage(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from ripple_server_spark.sources import fsio

        state = {
            "writer": None,  # open pq.ParquetWriter of the current bucket
            "bucket": None,
            "rel": None,
            "n": 0,  # rows written+buffered for the current bucket
            "lo": None,  # seq range of the current bucket's file
            "hi": None,
            "next_seq": 0,
            "buf": [],  # buffered tables for the current bucket
            "buf_rows": 0,
            "buf_bytes": 0,
        }
        out: list[tuple[int, int, str, int, int]] = []

        def flush_row_group():
            if state["buf_rows"]:
                state["writer"].write_table(pa.concat_tables(state["buf"]))
                state["buf"], state["buf_rows"], state["buf_bytes"] = [], 0, 0

        def close_bucket():
            if state["writer"] is not None:
                flush_row_group()
                state["writer"].close()
                out.append(
                    (state["bucket"], state["n"], state["rel"], state["lo"], state["hi"])
                )
            state["writer"] = None
            state["bucket"] = None
            state["rel"] = None
            state["n"] = 0
            state["lo"] = state["hi"] = None

        for batch in batches:
            if not batch.num_rows:
                continue
            bvals = batch.column("bucket").to_numpy(zero_copy_only=False)
            cuts = (np.flatnonzero(bvals[1:] != bvals[:-1]) + 1).tolist()
            for s, e in zip([0, *cuts], [*cuts, len(bvals)]):
                bb = int(bvals[s])
                sub = pa.Table.from_batches([batch.slice(s, e - s)])
                if bb != state["bucket"]:
                    close_bucket()
                    state["bucket"] = bb
                    state["next_seq"] = base.get(bb, -1) + 1
                    fsio.DATA_FS.makedirs(
                        os.path.join(data_dir, f"bucket={bb}")
                    )
                    state["rel"] = (
                        f"bucket={bb}/{prefix}-{uuid.uuid4().hex[:12]}.parquet"
                    )
                if assign_seq:
                    if "seq" in sub.column_names:
                        sub = sub.drop_columns("seq")
                    sub = sub.append_column(
                        "seq",
                        pa.array(
                            np.arange(sub.num_rows, dtype=np.int64)
                            + state["next_seq"]
                        ),
                    )
                    state["next_seq"] += sub.num_rows
                sub = sub.select(file_cols)
                mm = pc.min_max(sub.column("seq"))
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                state["lo"] = lo if state["lo"] is None else min(state["lo"], lo)
                state["hi"] = hi if state["hi"] is None else max(state["hi"], hi)
                if state["writer"] is None:
                    state["writer"] = fsio.DATA_FS.parquet_writer(
                        os.path.join(data_dir, state["rel"]), sub.schema
                    )
                state["n"] += sub.num_rows
                state["buf"].append(sub)
                state["buf_rows"] += sub.num_rows
                state["buf_bytes"] += sub.nbytes
                if state["buf_bytes"] >= flush_bytes:
                    flush_row_group()
        close_bucket()
        if out:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([o[0] for o in out], pa.int32()),
                    pa.array([o[1] for o in out], pa.int64()),
                    pa.array([o[2] for o in out], pa.string()),
                    pa.array([o[3] for o in out], pa.int64()),
                    pa.array([o[4] for o in out], pa.int64()),
                ],
                names=["bucket", "n", "rel", "lo", "hi"],
            )

    return stage


def _staged_ranges(staged: list) -> dict[str, list[int]]:
    """``{rel: [lo, hi]}`` of staging-kernel rows — the ``seq_ranges``
    entries the commit adding these files records."""
    return {r["rel"]: [int(r["lo"]), int(r["hi"])] for r in staged}


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
    streaming Arrow staging kernel. Sort key is the produce FIFO order
    (bucket, ts, event_id) when assigning seqs, or (bucket, seq) when
    preserving them (compaction). Returns the kernel's bounded
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
    kernel = _produce_stage_kernel(
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
    partition column: what a read returns without opening a footer.
    None when no schema is recorded, or when it records one column
    under two types — only footer merging can type that read."""
    fields = [f.split(":", 1) for f in m.get("schema") or []]
    names = [n for n, _t in fields]
    if not fields or len(set(names)) != len(names):
        return None
    return ", ".join(f"`{n}` {t}" for n, t in fields) + ", `bucket` int"


class TopicStore:
    """Filesystem-backed topic registry (the ZooKeeper analog) with a
    MANIFEST LOG as the commit protocol.

    Layout::

        root/
          topics/<topic>/_log/<version>.json   # manifest log (source of truth)
          topics/<topic>/data/bucket=<n>/      # parquet event log (append-only)
          offsets/<consumer_id>--<topic>.json  # committed per-bucket offsets

    Commit protocol (Delta-/Iceberg-style, sized for a filesystem;
    implemented once, in ``sources/manifest.py``): every mutation
    (produce / compact / truncate) stages its parquet files under unique
    names, then atomically claims manifest version v+1 — the rename-free
    commit point. Appends have one transaction, ``manifest.append``,
    shared by :meth:`produce` and the native sink's write tasks: epoch
    fencing, applied-id idempotence, seq-race restaging and the schema
    merge are written once. A manifest is a FULL snapshot: the live file
    list plus the state that must commit atomically with it
    (``applied_batches`` for idempotent produce, per-bucket
    ``maxima``/``floors`` so cold opens never scan the log, and
    ``seq_ranges`` — the ``[lo, hi]`` seq range of every live file,
    recorded by the commit that adds the file, so :meth:`consume` and
    retention plan from the manifest without opening a footer).
    Consequences:

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
        # Warm-path caches of the manifest's maxima/floors, STAMPED with
        # the manifest version they reflect: the warm path costs one
        # log-dir listing (not a manifest read, never a parquet scan),
        # and a commit by ANY writer — this instance or another process
        # — invalidates the entry. An unstamped cache livelocks a
        # consumer whose producer is a different TopicStore instance:
        # its cached maxima never advance, so delivered-row sizing stays
        # 0 forever while the data sits committed in the manifest.
        self._maxima: dict[str, tuple[int, dict[int, int]]] = {}
        self._floors: dict[str, tuple[int, dict[int, int]]] = {}
        os.makedirs(os.path.join(root, "topics"), exist_ok=True)
        os.makedirs(os.path.join(root, "offsets"), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, "topics", topic)

    def data_dir(self, topic: str) -> str:
        return os.path.join(self.topic_dir(topic), "data")

    def _offsets_path(self, consumer_id: str, topic: str) -> str:
        return os.path.join(self.root, "offsets", f"{consumer_id}--{topic}.json")

    # -- manifest log (sources/manifest.py) -------------------------------
    def latest_manifest(self, topic: str) -> tuple[int, dict]:
        """(version, manifest) of the newest committed manifest."""
        return manifest.latest(self.root, topic)

    def _live_files(self, topic: str) -> list[str]:
        return self.latest_manifest(topic)[1]["files"]

    def vacuum(self, topic: str, grace_s: float = 0.0) -> int:
        """Delete data files no manifest-latest references (compacted-
        away segments, truncated segments, crashed-produce orphans) and
        all but the newest manifest. Returns files removed.

        ``grace_s`` spares files modified within the last N seconds:
        a concurrent produce moves staged files into ``data/`` BEFORE
        its manifest commit, so a zero-grace vacuum racing it could
        reclaim files that are about to become live (the same reason
        Delta VACUUM has a retention window). Pass 0 only when no
        writer is in flight; the scheduled loop
        (:class:`~ripple_server_spark.sources.maintenance.TopicMaintenance`)
        always runs with a positive grace."""
        import time

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
        for n in os.listdir(manifest.log_dir(self.root, topic)):
            p = os.path.join(manifest.log_dir(self.root, topic), n)
            # grace applies to manifests too: an in-flight commit may
            # still re-read its base version, and a pinned snapshot
            # reader its pinned version
            if (
                n.endswith(".json")
                and int(n[:-5]) < v
                and os.path.getmtime(p) <= cutoff
            ):
                os.remove(p)
        return removed

    # -- DDL (CreateBucket analog) ----------------------------------------
    # Kafka-style topic-level config keys the engine understands (a
    # free-form dict is still stored verbatim — unknown keys pass
    # through for forward compatibility, like Kafka's config map):
    #   cleanup.policy        "delete" | "compact" | "compact,delete"
    #   retention.ms          time retention horizon
    #   retention.seqs        depth retention horizon (extension)
    #   key.column            compaction key (default user_id)
    #   tombstone.column      null-means-delete value column
    #   delete.retention.ms   tombstone retention window (Kafka parity)
    #   min.cleanable.dirty.ratio  cleaner gate (Kafka parity, def 0.5)
    #   compaction.order.by   event-time column for order_by compaction
    _KNOWN_CONFIG = (
        "cleanup.policy",
        "retention.ms",
        "retention.seqs",
        "key.column",
        "tombstone.column",
        "delete.retention.ms",
        "min.cleanable.dirty.ratio",
        "compaction.order.by",
    )

    def create_topic(
        self,
        topic: str,
        n_buckets: int = N_BUCKETS,
        config: dict | None = None,
    ) -> None:
        manifest.create(self.root, topic, n_buckets, config)

    def topic_config(self, topic: str) -> dict:
        """The topic's config map (Kafka ``describe --topic`` configs);
        {} for topics created before configs existed."""
        return dict(self.latest_manifest(topic)[1].get("config", {}))

    def alter_topic_config(self, topic: str, updates: dict) -> dict:
        """Merge config ``updates`` into the topic (Kafka
        ``kafka-configs --alter``): a None value DELETES the key,
        anything else overwrites. The change is one manifest commit,
        so concurrent writers rebase around it and a maintenance loop
        sees the new policy at its next cycle. Returns the merged
        config."""
        merged: dict = {}

        def apply(m: dict) -> dict:
            cfg = dict(m.get("config", {}))
            for k, v in updates.items():
                if v is None:
                    cfg.pop(k, None)
                else:
                    cfg[k] = v
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
        new buckets simply appear. Every consumer GROUP's generation is
        bumped in the same commit (Kafka's epoch bump on partition-count
        change): member ranges derive from n_buckets, so fenced commits
        from the pre-expansion epoch are rejected until the member
        re-joins via :meth:`assign_buckets` (idempotent at the same
        n_members — it adopts the new epoch without another bump).

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
            # Bump EVERY consumer group's generation in the SAME commit
            # (Kafka bumps the group epoch on a partition-count change):
            # member ranges are computed from n_buckets, so every
            # assignment just changed — fenced commits from the
            # pre-expansion epoch must fence with the accurate "the
            # group rebalanced, re-join" error instead of a misleading
            # out-of-range one while group_state still claimed their
            # generation was current (ADVICE r10). Members re-join with
            # assign_buckets (idempotent at the same n_members: it
            # adopts the post-expansion epoch without double-bumping).
            if m.get("groups"):
                m["groups"] = {
                    g: {**e, "generation": int(e["generation"]) + 1}
                    for g, e in m["groups"].items()
                }
            return m

        committed = manifest.commit(self.root, topic, base_v, apply)
        self._maxima.pop(topic, None)
        self._floors.pop(topic, None)
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
        """Delete a topic outright — data files, manifest log, and
        every consumer's offsets for it (the Kafka ``kafka-topics
        --delete`` analog; the reference never deletes, its queues
        just grow, concurrent_list.go). Returns the number of offset
        files removed alongside the topic.

        Deletion order makes concurrent access fail CLEANLY rather
        than read half a topic: the manifest log goes first (every
        reader/writer entry point resolves the latest manifest, so
        from that point they raise topic-not-found), then the data
        dir, then the offsets. A produce/compact racing the delete
        can at worst recreate nothing — their commits target manifest
        version slots that no longer have a log dir and fail with
        FileNotFoundError, and their staged files die with the tree.
        Snapshot-pinned READERS that already resolved a manifest lose
        their files mid-scan (FileNotFound at task level) — quiesce
        consumers first, same operational rule as Kafka's delete.
        Raises FileNotFoundError for an unknown topic.

        The offsets sweep matches on the ``--{topic}.json`` suffix,
        which is unambiguous because ``validate_topic_name`` (enforced
        at every create path, and re-checked HERE before any path
        resolves) rejects ``--`` and a leading ``-`` in topic names — a
        consumer id may contain ``--``, but the TOPIC side of the
        separator cannot (review r11).

        The entry validation is the destructive-path guard (ADVICE
        r11): without it, ``delete_topic("..")`` resolved topic_dir to
        the topics ROOT and rmtree'd the entire store, and path-segment
        names like ``a/b`` escaped the layout."""
        manifest.validate_topic_name(topic)
        tdir = self.topic_dir(topic)
        if not os.path.isdir(tdir):
            raise FileNotFoundError(f"topic {topic!r} does not exist")
        shutil.rmtree(manifest.log_dir(self.root, topic), ignore_errors=True)
        shutil.rmtree(tdir, ignore_errors=True)
        self._maxima.pop(topic, None)
        self._floors.pop(topic, None)
        removed = 0
        odir = os.path.join(self.root, "offsets")
        for fn in sorted(os.listdir(odir)):
            if fn.endswith(f"--{topic}.json"):
                os.remove(os.path.join(odir, fn))
                removed += 1
        return removed

    def list_groups(self, topic: str) -> list[str]:
        """Consumer groups with a recorded assignment on the topic
        (Kafka ``kafka-consumer-groups --list``, scoped to one topic
        since groups live in the topic manifest here)."""
        return sorted(self.latest_manifest(topic)[1].get("groups", {}))

    def reset_offsets(
        self, consumer_id: str, topic: str, to: str = "earliest"
    ) -> dict[int, int]:
        """Kafka ``kafka-consumer-groups --reset-offsets
        --to-earliest/--to-latest`` analog: position every bucket's
        committed offset at the retained floor (``"earliest"`` — the
        next consume replays the whole retained log) or at the
        high-water mark (``"latest"`` — the next consume sees only
        NEW messages). Registers the consumer if needed and returns
        the committed {bucket: offset} map. One atomic offsets
        publish (:meth:`commit_many`); O(manifest), no Spark job —
        floors and maxima are commit state. Time-based resets are
        :meth:`seek_to_timestamp`.

        OPERATIONAL CONTRACT (ADVICE r11): run resets only while the
        consumer's group is QUIESCED — the same rule Kafka enforces by
        requiring the group inactive for ``--reset-offsets``. This
        publish is deliberately not generation-fenced (it is the
        recovery tool an operator reaches for precisely when a group's
        generation state is the thing being repaired), so a reset
        racing a live fenced member would overwrite offsets that
        member commits next."""
        if to not in ("earliest", "latest"):
            raise ValueError(
                f"reset_offsets: to must be 'earliest' or 'latest', got {to!r}"
            )
        n_buckets = int(self.topic_meta(topic)["n_buckets"])
        floors = self._bucket_floors(topic)
        maxima = self._bucket_maxima(topic)
        offsets = {
            b: (
                floors.get(b, 0)
                if to == "earliest"
                else maxima.get(b, -1) + 1
            )
            for b in range(n_buckets)
        }
        self.register_consumer(consumer_id, topic)
        self.commit_many(consumer_id, topic, offsets)
        return offsets

    # -- produce (A5) ------------------------------------------------------
    def produce(
        self,
        df: DataFrame,
        topic: str,
        key_col: str = "user_id",
        batch_id: str | None = None,
        producer_epoch: int | None = None,
    ) -> int:
        """Append a batch, assigning bucket + contiguous per-bucket seq.

        FIFO order within a bucket follows (ts, event_id) of the batch —
        the arrival order analog. Returns number of rows appended.

        ``batch_id`` makes the append IDEMPOTENT: a replayed produce
        with an already-applied id is a no-op (returns 0). Replay
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
        in_names = [f.name for f in df.schema.fields]
        for req in ("ts", "event_id"):
            if req not in in_names:
                raise ValueError(
                    f"produce requires column {req!r} (the (ts, event_id) "
                    "FIFO order key — native-sink parity)"
                )
        # Message schema of the staged files (bucket is a partition dir,
        # not a file column): tracked in the manifest so reads only pay
        # footer-merging (mergeSchema) after a producer actually evolved
        # the schema — the Delta/Iceberg metadata-tracked-evolution shape.
        # Derived driver-side BEFORE the write; seq lands at its original
        # position when the batch carries one (consume->produce round
        # trip), appended otherwise — the old withColumn-overwrite order.
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        types["seq"] = "bigint"
        file_cols = [n for n in in_names if n != "bucket"]
        if "seq" not in file_cols:
            file_cols.append("seq")
        fields = [f"{n}:{types[n]}" for n in file_cols]
        data_dir = self.data_dir(topic)
        os.makedirs(data_dir, exist_ok=True)
        staged: list = []  # kernel rows of the latest staging

        def stage(m: dict) -> dict[str, list[int]]:
            # One exchange (hash on bucket — a bucket's rows land in
            # exactly one task) + a spillable JVM sort, then the
            # streaming Arrow kernel assigns contiguous per-bucket seqs
            # from this base's maxima and stages parquet straight into
            # the bucket dirs; the per-bucket counts and seq ranges ride
            # back on the same job. A later attempt (a lost seq race)
            # restages from the previous attempt's files through the
            # same sort + kernel: identical (ts, event_id) order, so
            # identical seqs shifted by the per-bucket delta, and one
            # extra pass over the BATCH (never the topic).
            if staged:
                src = self.spark.read.option("basePath", data_dir).parquet(
                    *[os.path.join(data_dir, r["rel"]) for r in staged]
                )
            else:
                src = df.withColumn(
                    "bucket",
                    F.coalesce(
                        bucket_of(F.col(key_col), int(m["n_buckets"])), F.lit(0)
                    ),
                )
            maxima = {int(b): int(x) for b, x in m.get("maxima", {}).items()}
            staged[:] = _stage_by_bucket(src, data_dir, maxima, file_cols)
            return _staged_ranges(staged)

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
        self._maxima[topic] = (
            committed["version"],
            {int(b): x for b, x in committed["maxima"].items()},
        )
        return sum(int(r["n"]) for r in staged)

    def _bucket_maxima(self, topic: str) -> dict[int, int]:
        """Current max seq per bucket: warm from the version-stamped
        cache (freshness = one log-dir listing), cold from the manifest
        — never a log scan (the manifest is the metadata table)."""
        v = manifest.latest_version(self.root, topic)
        cached = self._maxima.get(topic)
        if cached is not None and cached[0] == v:
            return cached[1]
        maxima = {
            int(b): x for b, x in self.latest_manifest(topic)[1]["maxima"].items()
        }
        self._maxima[topic] = (v, maxima)
        return maxima

    def _bucket_floors(self, topic: str) -> dict[int, int]:
        v = manifest.latest_version(self.root, topic)
        cached = self._floors.get(topic)
        if cached is not None and cached[0] == v:
            return cached[1]
        floors = {
            int(b): x for b, x in self.latest_manifest(topic)[1]["floors"].items()
        }
        self._floors[topic] = (v, floors)
        return floors

    def read_topic(self, topic: str, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files of the latest (or a pinned)
        manifest version — concurrent compaction/retention cannot pull
        files out from under the scan. ``basePath`` keeps ``bucket``
        a partition column, so bucket pruning works as before."""
        data = self.data_dir(topic)
        if version is None:
            _v, m = self.latest_manifest(topic)
        else:
            m = manifest.load(self.root, topic, version)
        if not m["files"]:
            # An empty topic is a legitimate broker state (a consumer
            # may subscribe before any producer publishes; retention
            # may age out every file): serve an empty frame, not an
            # inference error. Schema = the manifest-recorded message
            # schema when a produce (or a truncate of everything) has
            # established one, else the minimal structural columns the
            # log itself guarantees.
            return self.spark.createDataFrame(
                [], _message_ddl(m) or "seq bigint, bucket int"
            )
        paths = [os.path.join(data, rel) for rel in m["files"]]
        # mergeSchema only when the manifest recorded an actual schema
        # evolution: without it the read silently adopts one file's
        # schema and DROPS evolved columns; with it unconditionally,
        # every read pays driver-side footer merging. Union semantics
        # (old rows null out new columns) match Delta/Iceberg evolution;
        # compaction rewrites to one uniform schema and clears the flag.
        reader = self.spark.read.option("basePath", data)
        if m.get("schema_evolved"):
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        # The manifest owns the schema, not the footers (Delta/Iceberg
        # semantics): a column recorded by an evolution that appended no
        # data yet (metadata-only commit above) exists in NO file, so
        # footer merging cannot surface it — materialize it as typed
        # nulls, exactly what pre-evolution rows get for evolved
        # columns that DO have files.
        recorded = m.get("schema")
        if recorded:
            have = set(df.columns)
            for s in recorded:
                name, typ = s.split(":", 1)
                if name not in have:
                    df = df.withColumn(name, F.lit(None).cast(typ))
        return df

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
        this attempt entirely: swapping in output built from the stale
        base would resurrect aged-out rows below the retention floor,
        so the commit aborts and the compaction restages from the
        latest manifest (the superseded staged files are crash-orphan
        equivalent; vacuum reclaims them). Seq/content are untouched,
        so consumer offsets stay valid.
        """
        if base_version is None:
            base_v, base = self.latest_manifest(topic)
        else:
            base_v = base_version
            base = manifest.load(self.root, topic, base_v)

        class _InputSuperseded(Exception):
            """A concurrent commit removed one of this compaction's
            input files — the staged output contains rows the live
            manifest no longer serves and must not be swapped in."""

        for _ in range(20):
            compacted_input = set(base["files"])
            # Same staging pipeline as produce (r13): one exchange on
            # bucket + a spillable JVM (bucket, seq) sort + the
            # streaming Arrow kernel writing one file per (task, bucket)
            # directly into the live bucket dirs — no Hadoop committer
            # (its per-partition-dir driver renames were ~0.4-0.5 s of
            # every compaction at bench scale), no second rename, no
            # engine-session rebind (pyarrow writes TIMESTAMP_MICROS
            # with statistics natively). seq/content
            # are preserved verbatim (assign_seq=False); files stay
            # invisible until the manifest swap commits.
            src = self.read_topic(topic, version=base_v)
            file_cols = [c for c in src.columns if c != "bucket"]
            data_dir = self.data_dir(topic)
            staged = _stage_by_bucket(
                src,
                data_dir,
                {},
                file_cols,
                prefix="cmp",
                assign_seq=False,
            )
            new_files = sorted(r["rel"] for r in staged)
            ranges = _staged_ranges(staged)

            def apply(
                m: dict,
                compacted_input=compacted_input,
                new_files=new_files,
                ranges=ranges,
            ) -> dict:
                if compacted_input - set(m["files"]):
                    raise _InputSuperseded()
                # keep files committed concurrently (not part of our input)
                kept = [f for f in m["files"] if f not in compacted_input]
                m["files"] = new_files + kept
                manifest.add_ranges(m, ranges)
                # compacted files share one (merged) schema; only files a
                # concurrent producer landed mid-compact can still diverge
                if not kept:
                    m["schema_evolved"] = False
                return m

            try:
                # staged at task time; refresh mtimes at the commit point
                # so a concurrent vacuum's grace window measures from now
                manifest.touch(self.root, topic, new_files)
                manifest.commit(self.root, topic, base_v, apply)
                return
            except _InputSuperseded:
                base_v, base = self.latest_manifest(topic)
        raise RuntimeError(f"compaction superseded 20 times on topic {topic!r}")

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
        rewrite then reuses :meth:`compact`'s commit protocol:
        snapshot-pinned readers keep the old files until vacuum, a
        concurrent truncate supersedes the attempt (retry from the new
        base) rather than resurrecting aged-out rows.

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
        if base_version is None:
            base_v, base = self.latest_manifest(topic)
        else:
            base_v = base_version
            base = manifest.load(self.root, topic, base_v)

        class _InputSuperseded(Exception):
            pass

        for _ in range(20):
            compacted_input = set(base["files"])
            if not base["files"]:
                return 0  # empty topic: nothing to compact (and no
                # schema yet to validate — a maintenance loop started
                # before the first produce must not error every cycle)
            src = self.read_topic(topic, version=base_v)
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
            obs_in, obs_out = Observation(), Observation()
            # Build the whole plan on the ENGINE session (rebind the
            # scan, then aggregate there): both observations then hang
            # off the session that actually executes, so input/output
            # row counts — hence the dropped count — are exact, free
            # (one action), and gap-proof (a seq-span estimate would
            # overcount on every pass after the first).
            with _micros_ts_writes(src) as esrc:
                esrc = esrc.observe(obs_in, F.count(F.lit(1)).alias("n"))
                # per-row synthetic group for null keys: bucket:seq can
                # never collide with a real key under the \x00 prefix
                gkey = F.when(
                    F.col(key_col).isNull(),
                    F.concat_ws(
                        ":", F.lit("\x00null"), F.col("bucket"), F.col("seq")
                    ),
                ).otherwise(F.col(key_col).cast("string"))
                if order_by is None:
                    # per-(bucket, key) latest by seq — the produce
                    # routing invariant makes this global latest except
                    # across an expand_buckets boundary (docstring)
                    grouped = esrc.groupBy(
                        F.col("bucket").alias("_b"), gkey.alias("_gk")
                    ).agg(F.max_by(F.struct(*cols), F.col("seq")).alias("_r"))
                else:
                    # global latest per key by (order_by, seq, bucket):
                    # one key -> one survivor across ALL buckets, the
                    # read-side CDC contract (null-key rows keep their
                    # per-row synthetic group and pass through)
                    grouped = esrc.groupBy(gkey.alias("_gk")).agg(
                        F.max_by(
                            F.struct(*cols),
                            F.struct(
                                F.col(order_by), F.col("seq"), F.col("bucket")
                            ),
                        ).alias("_r")
                    )
                survivors = grouped.select("_r.*")
                if tombstone_col is not None:
                    # a keyed survivor with a NULL value is a tombstone:
                    # the key's latest state is "deleted" — older
                    # versions are gone via the latest-wins agg; the
                    # tombstone ROW is dropped immediately (retention 0)
                    # or once its event time leaves the retention
                    # window (Kafka delete.retention.ms; null-KEY rows
                    # are unkeyed records, not deletes — they pass
                    # through)
                    keep_tombstone = F.lit(False)
                    if tombstone_retention_ms > 0:
                        cutoff_ms = (
                            int(time.time() * 1000) - int(tombstone_retention_ms)
                        )
                        keep_tombstone = F.col("ts") >= F.timestamp_millis(
                            F.lit(cutoff_ms)
                        )
                    survivors = survivors.filter(
                        F.col(key_col).isNull()
                        | F.col(tombstone_col).isNotNull()
                        | keep_tombstone
                    )
                out_metrics = [F.count(F.lit(1)).alias("n")]
                # retained within-window tombstones (delete.retention.ms
                # analog): counted so the cleaner checkpoint below can
                # DECLINE to mark their files clean — the second pass of
                # the two-pass tombstone lifecycle must still happen
                # after the window expires, and a clean checkpoint would
                # gate it off forever
                out_metrics.append(
                    F.count(
                        F.when(
                            F.col(key_col).isNotNull()
                            & F.col(tombstone_col).isNull(),
                            1,
                        )
                    ).alias("t")
                    if tombstone_col is not None and tombstone_retention_ms > 0
                    else F.lit(0).alias("t")
                )
                # the bucket rewrite stages through compact()'s kernel:
                # one file per bucket, seq order preserved, invisible
                # until the manifest swap commits
                staged = _stage_by_bucket(
                    survivors.observe(obs_out, *out_metrics),
                    data_dir,
                    {},
                    [c for c in cols if c != "bucket"],
                    prefix="cmp",
                    assign_seq=False,
                )
            retained_tombstones = int(obs_out.get["t"])
            dropped = int(obs_in.get["n"]) - int(obs_out.get["n"])
            if dropped == 0:
                # already fully compacted: do NOT swap identical content
                # under pinned readers. But the pass PROVED the scanned
                # files clean, so advance the cleaner checkpoint
                # (metadata-only commit) unless it already covers them —
                # otherwise the dirty-ratio gate would send the cleaner
                # back over the same bytes every interval.
                for r in staged:
                    os.remove(os.path.join(data_dir, r["rel"]))
                if retained_tombstones == 0:
                    if not compacted_input <= set(base.get("cleaned_files", [])):

                        def apply_clean(m: dict, inp=compacted_input) -> dict:
                            live = set(m["files"])
                            m["cleaned_files"] = sorted(
                                (set(m.get("cleaned_files", [])) | inp) & live
                            )
                            return m

                        manifest.commit(self.root, topic, base_v, apply_clean)
                elif base.get("cleaned_files"):
                    # a no-drop pass that RETAINED tombstones must not
                    # leave a mostly-clean checkpoint standing: a lone
                    # within-window marker (e.g. a delete of an
                    # already-compacted-away key) would keep the dirty
                    # ratio near zero and the gate would starve the
                    # post-window second pass forever. Clearing the
                    # checkpoint keeps the cleaner returning each
                    # interval until the window passes (review r11).

                    def apply_unclean(m: dict) -> dict:
                        m["cleaned_files"] = []
                        return m

                    manifest.commit(self.root, topic, base_v, apply_unclean)
                return 0
            new_files = sorted(r["rel"] for r in staged)
            ranges = _staged_ranges(staged)

            def apply(
                m: dict,
                compacted_input=compacted_input,
                new_files=new_files,
                ranges=ranges,
            ) -> dict:
                if compacted_input - set(m["files"]):
                    raise _InputSuperseded()
                kept = [f for f in m["files"] if f not in compacted_input]
                m["files"] = new_files + kept
                manifest.add_ranges(m, ranges)
                # cleaner checkpoint: exactly this pass's output is
                # clean; `kept` files landed concurrently and stay
                # dirty. Output holding retained within-window
                # tombstones is NOT clean — the post-window second pass
                # must still be sent back over it.
                m["cleaned_files"] = (
                    sorted(new_files) if retained_tombstones == 0 else []
                )
                if not kept:
                    m["schema_evolved"] = False
                return m

            try:
                manifest.touch(self.root, topic, new_files)
                manifest.commit(self.root, topic, base_v, apply)
                return dropped
            except _InputSuperseded:
                base_v, base = self.latest_manifest(topic)
        raise RuntimeError(
            f"key compaction superseded 20 times on topic {topic!r}"
        )

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
        maps T to each bucket's first at/after-T offset (one Spark job;
        the ts predicate pushes to the scan), then the seq-granularity
        file drop reuses :meth:`truncate`'s machinery with that
        PER-BUCKET bound (per-file seq ranges are the droppable unit —
        exact for any file layout; ts stats, which round-9+ files also
        carry, only prune the offsets_for_times scan). A file ages out
        only when every row in it
        precedes its bucket's at/after-T offset; out-of-order produces
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
        self._floors.pop(topic, None)
        return len(drop)

    # -- consume (A6-A8) ---------------------------------------------------
    def register_consumer(self, consumer_id: str, topic: str) -> None:
        """First-contact registration: offsets start at 0 for every
        bucket (reference: ZK /consumers/<id> = "0", core.go:77-85)."""
        path = self._offsets_path(consumer_id, topic)
        if not os.path.exists(path):
            self._write_json(path, {})

    def _read_offsets_doc(self, consumer_id: str, topic: str) -> dict:
        """Raw offsets document: ``{"offsets": {b: o}, "generations":
        {b: g}}``. Legacy flat ``{b: o}`` files (written before fenced
        commits stamped generations) are normalized on read."""
        path = self._offsets_path(consumer_id, topic)
        if not os.path.exists(path):
            return {"offsets": {}, "generations": {}}
        with open(path) as f:
            doc = json.load(f)
        return normalize_offsets_doc(doc)

    def committed_offsets(self, consumer_id: str, topic: str) -> dict[int, int]:
        return {
            int(k): v
            for k, v in self._read_offsets_doc(consumer_id, topic)["offsets"].items()
        }

    def consume(
        self, consumer_id: str, topic: str, bucket: int, count: int
    ) -> tuple[DataFrame, int]:
        """AskQuery{Count}: next ``count`` messages of one bucket from
        the committed offset, in seq order. Non-destructive; the read
        does not move the offset — call :meth:`commit` after processing
        (at-least-once).

        Returns (batch_df, next_offset). The batch is exactly seq ∈
        [offset, offset+delivered) — the reference's clamped
        SubArray(offset, offset+Count) (queue.go:59-61) — and its cost
        does not grow with the log: ONE manifest version serves the
        retention floor, the high-water mark and the file list, and
        the manifest's per-file ``seq_ranges`` plan only the files of
        this bucket that overlap the range (:func:`manifest.files_for`).
        The scan takes its schema from the manifest's recorded message
        schema (evolved columns read back as typed nulls), so Spark runs
        no listing or inference job, and the ≤count rows are ordered by
        a single-partition sort: materializing the batch is one job.
        """
        offset = self.committed_offsets(consumer_id, topic).get(bucket, 0)
        _v, m = self.latest_manifest(topic)
        # Retention clamp: offsets below the retained floor resume at
        # the floor (Kafka earliest-offset reset; see truncate()).
        offset = max(offset, int(m["floors"].get(str(bucket), 0)))
        # seq is contiguous per bucket above the floor (produce
        # invariant), so delivered = min(count, max_seq - offset + 1).
        mx = int(m["maxima"].get(str(bucket), -1))
        end = offset + max(0, min(count, mx - offset + 1))
        rels = manifest.files_for(m, bucket, offset, end) if end > offset else []
        ddl = _message_ddl(m)
        if not rels:
            return self.spark.createDataFrame(
                [], ddl or "seq bigint, bucket int"
            ), end
        data = self.data_dir(topic)
        reader = self.spark.read.option("basePath", data)
        if ddl is not None:
            reader = reader.schema(ddl)
        elif m.get("schema_evolved"):
            reader = reader.option("mergeSchema", "true")
        # Above this many paths per scan Spark lists files with a Spark
        # job; a lagging consumer's poll can span more files than that,
        # so it scans them in groups that the driver lists itself.
        group = int(
            self.spark.conf.get(
                "spark.sql.sources.parallelPartitionDiscovery.threshold"
            )
        )
        paths = [os.path.join(data, r) for r in rels]
        scans = [
            reader.parquet(*paths[i : i + group])
            for i in range(0, len(paths), group)
        ]
        batch = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), scans
        )
        batch = (
            batch.filter((F.col("seq") >= offset) & (F.col("seq") < end))
            .coalesce(1)
            .sortWithinPartitions("seq")
        )
        return batch, end

    def offsets_for_times(self, topic: str, epoch_ms: int) -> dict[int, int]:
        """Kafka ``offsetsForTimes``: per-bucket offset of the FIRST
        message whose event ``ts`` is at/after the epoch-millisecond
        instant; buckets with nothing at/after it map to their
        high-water mark (Kafka's null-offset-means-end convention).

        Per-bucket seq order is (ts, event_id) order WITHIN each
        produce batch (the FIFO arrival analog), so the returned
        offset replays exactly the rows with ts >= T whenever batches
        arrive in event-time order; a LATER produce carrying EARLIER
        timestamps gets higher seqs, and the replay then also includes
        those pre-T late arrivals — the same over-delivery Kafka's
        offsetsForTimes has on out-of-order-appended partitions (the
        offset is "first at/after T", never "only at/after T"). One
        Spark job: the ts predicate is an attribute-vs-literal compare
        (NOT a function of ts — that would be unpushable) so it pushes
        into the parquet scan and row-group stats prune below-T row
        groups, then a per-bucket min(seq) partial agg — O(matching
        rows), never a full sort."""
        maxima = self._bucket_maxima(topic)
        if not maxima:
            # created-but-never-produced topic: no offsets exist and
            # read_topic's empty fallback frame has no ts column to
            # filter — {} is the correct "nothing to seek" answer
            # (review r09: a maintenance loop started before the first
            # produce must not error every cycle)
            return {}
        recorded = self.latest_manifest(topic)[1].get("schema")
        if recorded is not None and not any(
            s.split(":", 1)[0] == "ts" for s in recorded
        ):
            # A ts-less topic (native sink with a custom schema) cannot
            # be time-positioned: fail with a named contract error, not
            # the opaque AnalysisException the Spark filter would raise
            # — the message is what a retain_ms maintenance cycle or a
            # start_at=timestamp stream surfaces (ADVICE r09).
            raise ValueError(
                f"topic {topic!r} has no 'ts' column (recorded schema: "
                f"{[s.split(':', 1)[0] for s in recorded]}); time-based "
                "positioning (offsets_for_times / seek_to_timestamp / "
                "start_at=timestamp / retain_ms) requires a timestamp "
                "column named 'ts'"
            )
        got = {
            int(r["bucket"]): int(r["o"])
            for r in (
                self.read_topic(topic)
                .filter(
                    F.col("ts") >= F.timestamp_millis(F.lit(int(epoch_ms)))
                )
                .groupBy("bucket")
                .agg(F.min("seq").alias("o"))
                .collect()
            )
        }
        return {b: got.get(b, mx + 1) for b, mx in maxima.items()}

    def seek_to_timestamp(
        self, consumer_id: str, topic: str, epoch_ms: int
    ) -> dict[int, int]:
        """Position a batch consumer at a point in TIME (Kafka
        ``offsetsForTimes`` + ``seek``): registers the consumer and
        commits every bucket's timestamp offset, so the next
        ``consume`` starts at the first message at/after the instant
        (see :meth:`offsets_for_times` for the exactness contract —
        late produces carrying earlier timestamps are still replayed,
        Kafka's semantics). Returns the committed {bucket: offset}
        map. The streaming analog is the ``ripple_topic`` source's
        ``start_at=timestamp:<epoch_ms>`` option."""
        offsets = self.offsets_for_times(topic, epoch_ms)
        self.register_consumer(consumer_id, topic)
        for b, o in offsets.items():
            self.commit(consumer_id, topic, b, o)
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

    @staticmethod
    def _range_split(
        n_buckets: int, group_id: str, n_members: int
    ) -> dict[str, list[int]]:
        """The pure Kafka range-assignor function: member k of the
        group owns a contiguous run of buckets; runs differ in size by
        at most one; coverage is exhaustive and disjoint."""
        base, extra = divmod(n_buckets, n_members)
        out: dict[str, list[int]] = {}
        start = 0
        for k in range(n_members):
            size = base + (1 if k < extra else 0)
            out[f"{group_id}-{k}"] = list(range(start, start + size))
            start += size
        return out

    def group_state(self, topic: str, group_id: str) -> dict | None:
        """{"generation": g, "n_members": n} for a group recorded in
        the topic manifest, or None before its first assignment."""
        entry = self.latest_manifest(topic)[1].get("groups", {}).get(group_id)
        if entry is None:
            return None
        return {
            "generation": int(entry["generation"]),
            "n_members": int(entry["n_members"]),
            "strategy": entry.get("strategy", "range"),
        }

    def _group_assignment(
        self, topic: str, group_id: str, n_buckets: int
    ) -> dict[str, list[int]]:
        """Current member -> buckets map for a recorded group: the
        stored sticky assignment when one exists, else the pure range
        split (one manifest read, no Spark job)."""
        entry = self.latest_manifest(topic)[1].get("groups", {}).get(group_id)
        if entry is None:
            return {}
        stored = entry.get("assignment")
        if stored:
            return {m: sorted(int(b) for b in bs) for m, bs in stored.items()}
        return self._range_split(n_buckets, group_id, int(entry["n_members"]))

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
        for the determinism + movement bound). Sticky assignments are
        STATE (the previous split seeds the next), so they are stored
        in the group's manifest entry and committed atomically with
        the generation bump; fenced commits and :meth:`describe_group`
        read ownership from the stored assignment. Switching strategy
        on a live group is a rebalance (generation bumps). After
        :meth:`expand_buckets` (which bumps every group's generation),
        the first ``assign_buckets`` call refreshes a sticky
        assignment over the new buckets WITHOUT another bump — old
        buckets stay put, new buckets fill the deficits.

        This is an EXTENSION beyond the reference, whose consumers are
        fan-out-only (every /consumers/<id> independently sees the full
        stream, core.go:77-85) — but bucket splitting is the first
        operational question a real user asks of a partitioned log.
        The assignment composes with the existing per-consumer offset
        surface: each member id is an ordinary consumer (register /
        consume / commit per owned bucket), so offsets stay independent
        and a member crash replays only its own buckets. The split is a
        pure function of (n_buckets, group_id, n_members) — every
        member computes the same runs with no coordination, exactly why
        Kafka's range assignor needs no state either. Rebalancing =
        calling again with a new n_members and draining from the
        members' committed offsets (same at-least-once contract as any
        consumer restart).

        GENERATION FENCING (Kafka group-epoch zombie fencing): the
        group's generation lives in the topic manifest and is bumped
        exactly when ``n_members`` changes — a rebalance is a state
        change, so it is a (metadata-only) manifest commit, and the
        O_EXCL version claim serializes concurrent rebalances. Calling
        with the CURRENT n_members never bumps (idempotent: every
        member of one generation converges on one epoch with no
        coordination). Fenced commits — :meth:`commit` with
        ``group_id``/``generation`` — then reject a member whose epoch
        is stale or whose bucket no longer falls in its range, closing
        the window where a zombie from the pre-rebalance generation
        silently commits to a bucket it no longer owns. Fetch the
        current epoch with :meth:`group_state`.
        """
        if n_members < 1:
            raise ValueError(f"assign_buckets: n_members must be >= 1, got {n_members}")
        if strategy not in ("range", "sticky"):
            raise ValueError(
                f"assign_buckets: strategy must be 'range' or 'sticky', "
                f"got {strategy!r}"
            )

        class _AlreadyCurrent(Exception):
            pass

        def _complete(assignment: dict, nb: int) -> bool:
            got = sorted(int(b) for bs in assignment.values() for b in bs)
            return got == list(range(nb))

        v, m = self.latest_manifest(topic)
        entry = m.get("groups", {}).get(group_id)
        n_buckets = int(m["n_buckets"])
        if (
            entry is not None
            and int(entry["n_members"]) == n_members
            and entry.get("strategy", "range") == strategy
            and (
                strategy == "range"
                or _complete(entry.get("assignment") or {}, n_buckets)
            )
        ):
            # idempotent fast path: every member of one generation
            # converges on one epoch + assignment with no commit
            out = (
                self._range_split(n_buckets, group_id, n_members)
                if strategy == "range"
                else {
                    mem: sorted(int(b) for b in bs)
                    for mem, bs in entry["assignment"].items()
                }
            )
        else:
            result: dict = {}

            def apply(mm: dict) -> dict:
                groups = dict(mm.get("groups", {}))
                cur = groups.get(group_id)
                nb = int(mm["n_buckets"])
                same = (
                    cur is not None
                    and int(cur["n_members"]) == n_members
                    and cur.get("strategy", "range") == strategy
                )
                if strategy == "range":
                    if same:
                        # another member of THIS generation won the
                        # race: adopt its epoch, do not double-bump
                        raise _AlreadyCurrent()
                    new_entry = {
                        "generation": (int(cur["generation"]) + 1) if cur else 1,
                        "n_members": n_members,
                        "strategy": "range",
                    }
                    result["assignment"] = self._range_split(
                        nb, group_id, n_members
                    )
                else:
                    # stickiness seed: the stored assignment, else the
                    # previous generation's range split (first sticky
                    # call on a range group keeps range placement)
                    if cur is not None and cur.get("assignment"):
                        prev = cur["assignment"]
                    elif cur is not None:
                        prev = self._range_split(
                            nb, group_id, int(cur["n_members"])
                        )
                    else:
                        prev = {}
                    assignment = self._sticky_split(
                        nb, group_id, n_members, prev
                    )
                    if same and (cur.get("assignment") or {}) == assignment:
                        raise _AlreadyCurrent()
                    new_entry = {
                        # `same` + changed assignment = the refresh
                        # after expand_buckets (which already bumped
                        # every group's generation in ITS commit) —
                        # adopt, don't double-bump
                        "generation": (
                            int(cur["generation"]) + (0 if same else 1)
                        )
                        if cur
                        else 1,
                        "n_members": n_members,
                        "strategy": "sticky",
                        "assignment": assignment,
                    }
                    result["assignment"] = assignment
                groups[group_id] = new_entry
                mm["groups"] = groups
                return mm

            try:
                manifest.commit(self.root, topic, v, apply)
                out = result["assignment"]
            except _AlreadyCurrent:
                # adopt the winner's committed state — but only if the
                # winner actually matches this member's request; a
                # CONCURRENT reconfiguration (different strategy or
                # member count landing between our apply and this
                # re-read) means the group moved on and this member
                # must re-join, not crash on a missing key (review r11)
                won = (
                    self.latest_manifest(topic)[1]
                    .get("groups", {})
                    .get(group_id)
                )
                if (
                    won is None
                    or int(won["n_members"]) != n_members
                    or won.get("strategy", "range") != strategy
                    or (strategy == "sticky" and not won.get("assignment"))
                ):
                    raise StaleGenerationError(
                        f"group {group_id!r} on topic {topic!r} was "
                        "reconfigured concurrently (strategy or member "
                        "count changed) — re-run assign_buckets"
                    ) from None
                out = (
                    self._range_split(n_buckets, group_id, n_members)
                    if strategy == "range"
                    else {
                        mem: sorted(int(b) for b in bs)
                        for mem, bs in won["assignment"].items()
                    }
                )
        for member in out:
            self.register_consumer(member, topic)
        return out

    def _fence_group_commit(
        self,
        topic: str,
        group_id: str,
        generation: int | None,
        consumer_id: str,
        bucket: int,
    ) -> None:
        """Single-bucket form of :meth:`_fence_group_commit_many`."""
        self._fence_group_commit_many(
            topic, group_id, generation, consumer_id, [bucket]
        )

    def _fence_group_commit_many(
        self,
        topic: str,
        group_id: str,
        generation: int | None,
        consumer_id: str,
        buckets,
    ) -> None:
        """Reject a group-scoped commit from a stale generation or for
        any bucket the member does not own under the CURRENT assignment
        (Kafka ILLEGAL_GENERATION / fenced-member errors). Every bucket
        is validated against ONE manifest snapshot — one read per fence
        phase instead of several per bucket, and no window where a
        rebalance lands between two buckets of the same "atomic" set
        and they get fenced against different generations (review
        r11)."""
        if generation is None:
            raise ValueError(
                "group-scoped commit requires generation= (fetch it with "
                "group_state); omit group_id for ungated independent-"
                "consumer commits"
            )
        m = self.latest_manifest(topic)[1]
        entry = m.get("groups", {}).get(group_id)
        if entry is None:
            raise StaleGenerationError(
                f"group {group_id!r} has no recorded assignment on topic "
                f"{topic!r} — call assign_buckets first"
            )
        cur_gen = int(entry["generation"])
        if int(generation) != cur_gen:
            raise StaleGenerationError(
                f"commit by {consumer_id!r} carries generation "
                f"{int(generation)}, but group {group_id!r} on topic "
                f"{topic!r} is at generation {cur_gen} — the "
                "group rebalanced; this member must re-join (re-run "
                "assign_buckets) before committing"
            )
        stored = entry.get("assignment")
        if stored:
            assignment = {
                mem: sorted(int(b) for b in bs) for mem, bs in stored.items()
            }
        else:
            assignment = self._range_split(
                int(m["n_buckets"]), group_id, int(entry["n_members"])
            )
        owned = assignment.get(consumer_id)
        for bucket in buckets:
            if owned is None or bucket not in owned:
                raise StaleGenerationError(
                    f"member {consumer_id!r} does not own bucket {bucket} of "
                    f"topic {topic!r} under generation {cur_gen} "
                    f"(owned: {owned}) — stale assignment"
                )

    def describe_group(self, topic: str, group_id: str) -> dict:
        """Kafka ``kafka-consumer-groups --describe`` analog: the
        group's current generation, member count, and per-member
        assignment with committed offsets and LAG (HWM+1 - offset,
        clamped at the retained floor — a member parked below the
        floor reports only what a consume can actually deliver).
        Raises KeyError for a group with no recorded assignment.
        O(manifest + one offsets file per member); no Spark job."""
        entry = self.group_state(topic, group_id)
        if entry is None:
            raise KeyError(
                f"group {group_id!r} has no recorded assignment on "
                f"topic {topic!r}"
            )
        n_buckets = int(self.topic_meta(topic)["n_buckets"])
        maxima = self._bucket_maxima(topic)
        floors = self._bucket_floors(topic)
        members = {}
        for member, owned in self._group_assignment(
            topic, group_id, n_buckets
        ).items():
            offs = self.committed_offsets(member, topic)
            lag = {}
            for b in owned:
                hwm = maxima.get(b, -1) + 1
                eff = max(offs.get(b, 0), floors.get(b, 0))
                lag[b] = max(0, hwm - eff)
            members[member] = {
                "buckets": owned,
                "offsets": {b: offs.get(b, 0) for b in owned},
                "lag": lag,
            }
        return {
            "generation": entry["generation"],
            "n_members": entry["n_members"],
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
        """Atomically persist a consumer offset (tmp-file + rename — the
        single-writer-per-consumer model the reference also assumes).

        With ``group_id`` + ``generation`` the commit is GROUP-FENCED:
        it is rejected (:class:`StaleGenerationError`) when the group
        has rebalanced past the member's generation or the bucket is
        outside the member's current range — Kafka's zombie fencing.
        Without them the consumer is an independent fan-out reader and
        commits are ungated (the reference's model). One-entry form of
        :meth:`commit_many` — see there for the fencing atomicity
        contract."""
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
        """Persist a SET of per-bucket offsets in one atomic file
        publish (tmp-file + rename): either every entry lands or none —
        the primitive the streaming→batch handover
        (``commit_stream_position``) needs for its "never a partial
        cursor set" promise.

        Fencing atomicity (ADVICE r10): a bare check-then-write leaves
        a window where a rebalance lands between the fence read and the
        offset write, letting a zombie commit slip in. The fenced path
        here closes that window by WRITE-THEN-REVALIDATE:

        1. pre-fence every bucket (friendly rejection on the common
           stale case, before touching the file);
        2. write the offsets, each entry stamped with the generation it
           was committed under (same atomic rename);
        3. re-read the group state and re-fence. Still current → the
           commit stands, and any rebalance that commits later
           observes a file that linearizes BEFORE it (an ordinary
           pre-rebalance commit, which Kafka also honors). Stale → a
           rebalance raced us and we cannot know which side of its
           assignment read our write landed on, so the write is rolled
           back to the prior document (same atomic rename) and
           :class:`StaleGenerationError` raised.

        The member's offsets file has a single writer (the member), so
        the rollback cannot clobber anyone else. Residual window: a
        CRASH between steps 2 and 3 can leave the stale entries on
        disk — they are generation-stamped for detection, and the next
        fenced commit by a live member rewrites the file. Crash-free
        executions are race-free."""
        if group_id is not None:
            self._fence_group_commit_many(
                topic, group_id, generation, consumer_id, list(offsets)
            )
        doc = self._read_offsets_doc(consumer_id, topic)
        prior = {
            "offsets": dict(doc["offsets"]),
            "generations": dict(doc["generations"]),
        }
        for b, o in offsets.items():
            doc["offsets"][str(b)] = o
            if generation is not None:
                doc["generations"][str(b)] = int(generation)
        path = self._offsets_path(consumer_id, topic)
        self._write_json(path, doc)
        if group_id is not None:
            try:
                self._fence_group_commit_many(
                    topic, group_id, generation, consumer_id, list(offsets)
                )
            except StaleGenerationError:
                self._write_json(path, prior)  # roll the whole set back
                raise

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

        The filter is a per-bucket OR of (bucket = b AND seq > hwm_b):
        bucket is a partition column and seq bounds hit row-group
        stats, so an incremental consumer pays for the tail, not the
        log.
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
        df = self.read_topic(topic, version=version)
        if not base_max:
            return df  # nothing existed at the base version
        n_buckets = base.get("n_buckets", len(base_max))
        pred = None
        for b in range(n_buckets):
            cond = (F.col("bucket") == b) & (
                F.col("seq") > F.lit(base_max.get(b, -1))
            )
            pred = cond if pred is None else (pred | cond)
        return df.filter(pred)

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
                "schema_evolved",
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

        committed = manifest.commit(self.root, topic, latest_v, apply)
        # the rollback invalidates both warm caches
        self._maxima.pop(topic, None)
        self._floors.pop(topic, None)
        return committed

    # -- util --------------------------------------------------------------
    @staticmethod
    def _write_json(path: str, obj: dict) -> None:
        d = os.path.dirname(path)
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

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
          applied-batch or schema-flag-only commit)

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
