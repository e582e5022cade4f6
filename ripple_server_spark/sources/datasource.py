"""`ripple_topic` — a custom PySpark (Spark 4) DataSource for topic logs.

Registers the engine's topic layout as a first-class Spark source:

    spark.dataSource.register(RippleTopicDataSource)
    df = (spark.read.format("ripple_topic")
          .option("root", store.root).option("topic", "t1")
          .option("offset", 100)          # optional: seq >= offset
          .load())
    st = (spark.readStream.format("ripple_topic")
          .option("root", store.root).option("topic", "t1")
          .option("batch_size", 1000)     # AskQuery{Count} analog
          .load())
    df.write.format("ripple_topic").mode("append")      # A5 produce
      .option("root", store.root).option("topic", "t1").save()
    df.writeStream.format("ripple_topic")...            # streaming sink

The WRITE side (batch + streaming) lives in sources/datasink.py: every
write task is an independent producer committing contiguous per-bucket
seqs through the same optimistic manifest protocol TopicStore.produce
uses — see that module for the delivery-semantics contract.

Semantics mapped from the reference:

- one :class:`InputPartition` per bucket — the reader parallelism IS
  the bucket layout (reference: one queue per bucket,
  internal/broker/server/server.go:25); rows within a bucket are
  yielded in seq order (FIFO, queue.go:49-61);
- the ``offset`` option is the consumer cursor (SubArray start);
- the streaming reader exposes a monotone per-topic offset = total
  rows by bucket (exactly the ZK cursor, but committed atomically by
  Spark's checkpoint — the fix for core.go:61-62's race);
- ``batch_size`` bounds rows per micro-batch like AskQuery.Count.

Implementation notes: partition readers use pyarrow directly (executor-
side, no SparkSession there). The STREAMING source has two tiers,
selected by ``reader_tier`` (default ``partitioned``):

- ``partitioned`` — a full :class:`DataSourceStreamReader`: the driver
  plans offsets from the manifest's per-bucket seq bounds (O(manifest),
  no data read), and every micro-batch's rows are read EXECUTOR-side,
  one task per bucket (catch-up ranges split into batch_size-row
  chunks), yielded as Arrow RecordBatches. This is the scale tier: the
  reader parallelism IS the bucket layout, same as the reference's
  one-queue-per-bucket broker (internal/broker/server/server.go:25).
- ``simple`` — the SimpleDataSourceStreamReader tier: a driver-side
  adapter over the partitioned tier's reader — the same admission
  rule, the same ``partitions`` plan and the same per-partition read,
  run on the driver instead of in tasks — the right shape for
  control-plane-small topics where a task round-trip per bucket costs
  more than the rows.

The ``topic`` option accepts a comma-separated list (Kafka
``subscribe`` parity): multi-topic reads add a ``topic`` column and,
on the streaming side, keep fully independent per-topic cursors /
pinned versions / admission caps (partitioned tier only).

File lists come from the topic's MANIFEST (latest committed version,
or the version an offset pins), through the one read planner,
:func:`manifest.plan` — one walk of the manifest's files per read,
whatever the bucket and chunk count — so both batch and streaming
reads are snapshot-consistent with TopicStore's commit protocol:
crashed-produce orphans and mid-compaction files are never served.

The schema comes from the manifest too: each subscribed topic's
recorded message schema (the columns its producers wrote, ``seq``
included) plus ``bucket``, resolved once at query start
(:func:`_source_ddl`). A topic nothing was produced to yet reads as
:data:`TOPIC_SCHEMA_DDL`, the events layout. Every reader scans its
files with that schema, so a column an older file lacks comes back as
typed nulls, the same contract as ``TopicStore.read_topic`` and
``TopicStore.poll``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ripple_server_spark.sources import manifest

# The schema of a topic with no recorded message schema yet (nothing
# produced): the events layout, so a tail started before the first
# produce (perfbench's stream_tail does) still types its rows.
TOPIC_SCHEMA_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string, seq long, bucket int"
)
_SEQ_END = 2**63 - 1  # exclusive upper bound of an open-ended seq range
# Catch-up chunk sizing target: bytes of bucket data per chunk task of
# the partitioned tier's uncapped first offer (see partitions()).
_CATCH_UP_CHUNK_BYTES = 32 << 20


class BucketPartition(InputPartition):
    def __init__(
        self,
        files: list[str],
        bucket: int,
        offset: int,
        limit: int | None,
        upto: int | None = None,
        topic: str | None = None,
    ):
        self.files = files
        self.bucket = bucket
        self.offset = offset
        self.limit = limit
        self.upto = upto  # exclusive seq bound, pushed into the scan
        # set only on multi-topic subscriptions: the reader appends a
        # `topic` column so rows stay attributable after the union
        self.topic = topic


def _load_pinned(root: str, topic: str, version: int) -> dict:
    """One committed manifest version; ValueError when it does not
    exist (never committed, or vacuumed away)."""
    try:
        return manifest.load(root, topic, version)
    except FileNotFoundError:
        raise ValueError(
            f"topic {topic!r} has no committed manifest version {version}"
        ) from None


def _scan(files: list[str], target, fill: dict, flt):
    """Seq-sorted table of ``target``'s file columns (every column not
    in ``fill``) over ``files``. The explicit dataset schema is the
    point: without it pyarrow takes the columns of the first file only,
    losing an evolved column that file lacks; with it a missing column
    reads as typed nulls and a pre-round-9 INT96 ``ts`` (naive
    nanoseconds, UTC by the session pin in session.py) casts to the
    target's ``timestamp[us, tz=UTC]`` like any MICROS file."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = pa.schema([f for f in target if f.name not in fill])
    return (
        ds.dataset(files, format="parquet", schema=schema)
        .to_table(filter=flt)
        .sort_by("seq")
    )


def _bucket_table(part: BucketPartition, target):
    """The rows of one partition: the bucket's rows with ``offset <=
    seq < upto``, seq-ordered, cut at ``limit`` rows, as a
    ``pyarrow.Table`` of exactly ``target`` — the scanned file columns
    plus the partition-constant ``bucket`` (and ``topic`` on
    multi-topic subscriptions). The one range read: the batch reader's
    and both stream tiers' partitions (the simple tier reads them on
    the driver) and ``TopicStore.poll`` all call it."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    flt = ds.field("seq") >= part.offset
    if part.upto is not None:
        # pushing seq < upto into the scan keeps a chunk or a replay
        # proportional to its range, not to the whole retained tail
        # (row groups past the bound are pruned by their seq stats)
        flt = flt & (ds.field("seq") < part.upto)
    fill = {"bucket": part.bucket}
    if part.topic is not None:
        fill["topic"] = part.topic  # multi-topic: attributable post-union
    tbl = _scan(part.files, target, fill, flt)
    if part.limit is not None:
        tbl = tbl.slice(0, part.limit)
    cols = [
        pa.repeat(pa.scalar(fill[f.name], f.type), tbl.num_rows)
        if f.name in fill
        else tbl.column(f.name)
        for f in target
    ]
    return pa.Table.from_arrays(cols, schema=target)


def _read_bucket_arrow(part: BucketPartition, target):
    """:func:`_bucket_table` as Arrow record batches — no per-row
    Python objects, the worker hands the batches straight to the JVM
    Arrow stream."""
    yield from _bucket_table(part, target).to_batches()


def _admit(cursor: int, floor: int, hwm: int, cap: int) -> int:
    """A bucket's end cursor for one trigger: skip the retention hole
    below ``floor``, admit at most ``cap`` seqs, never move back."""
    return max(cursor, min(hwm, max(cursor, floor) + cap))


def _bounds(m: dict) -> tuple[dict[str, int], dict[str, int]]:
    """({bucket: max seq}, {bucket: first retained seq}) of a manifest."""
    return (
        {str(b): int(x) for b, x in m.get("maxima", {}).items()},
        {str(b): int(x) for b, x in m.get("floors", {}).items()},
    )


def _log_bounds(root: str, topic: str) -> tuple[int, dict[str, int], dict[str, int]]:
    """(version, maxima, floors) of the latest committed manifest —
    O(manifest bytes), never a data scan, exactly the metadata
    TopicStore's cold path keeps to avoid log scans."""
    version, m = manifest.latest(root, topic)
    return (version, *_bounds(m))


def _latest_cursors(root: str, topic: str) -> dict[str, int]:
    """Per-bucket high-water-mark cursors ({bucket: max seq + 1})."""
    _, maxima, _ = _log_bounds(root, topic)
    return {b: mx + 1 for b, mx in maxima.items()}


_START_AT_DOC = (
    "start_at must be earliest|latest|consumer:<id>|timestamp:<epoch_ms>, got "
)


def _required_opt(options: dict, key: str) -> str:
    """A required reader option, with an actionable error instead of a
    bare KeyError. The note matters: a table registered with SQL
    ``CREATE TABLE ... USING ripple_topic OPTIONS (...)`` resolves its
    schema WITH the options but Spark does not deliver them back to the
    Python reader at scan time — reads must go through
    ``spark.read.format("ripple_topic").option(...)`` (or a view over
    it) until the Python Data Source SQL-table path plumbs options."""
    v = options.get(key)
    if v is None:
        raise ValueError(
            f"ripple_topic: option {key!r} is required. (If this scan "
            "came from a SQL table created with CREATE TABLE ... USING "
            "ripple_topic, note Spark does not pass OPTIONS to Python "
            "data source readers at scan time — register a view with "
            "ripple_server_spark.catalog.register_topic_view(spark, "
            "root, topic) and query that instead.)"
        )
    return v


def _initial_cursors(root: str, topic: str, start_at: str) -> dict[str, int]:
    """First-checkpoint cursors for a streaming reader (evaluated ONCE;
    restarts resume from the checkpoint): ``earliest`` replays the
    whole retained log, ``latest`` tails from the manifest high-water
    marks, and ``consumer:<id>`` bridges the batch consumer-group
    surface (A7/A8) into streaming — the stream picks up exactly where
    that consumer's committed offsets point, read from one version of
    the topic's consumer-state log by ``topics.committed_offsets_in``
    like every batch read, so a group member resumes its owned buckets
    at the group's committed offsets (TopicStore.commit writes next-seq
    cursors, the same unit as stream offsets; a consumer with no
    committed offsets starts at 0 per bucket, the value the reference
    registers). ``timestamp:<epoch_ms>`` starts at the first event
    at/after that instant per bucket (Kafka offsetsForTimes — see
    :func:`offsets_for_times`)."""
    if start_at == "latest":
        return _latest_cursors(root, topic)
    if start_at.startswith("timestamp:"):
        t = int(start_at.split(":", 1)[1])
        return {str(b): o for b, o in offsets_for_times(root, topic, t).items()}
    if start_at.startswith("consumer:"):
        # lazy import keeps this module's import graph light for
        # executor workers
        from ripple_server_spark.sources.topics import (
            committed_offsets_in,
            consumer_state,
        )

        state = consumer_state(root, topic)[1]
        consumer_id = start_at.split(":", 1)[1]
        return {str(b): o for b, o in committed_offsets_in(state, consumer_id).items()}
    return {}


def offsets_for_times(root: str, topic: str, epoch_ms: int) -> dict[int, int]:
    """Kafka ``offsetsForTimes``: per-bucket offset of the FIRST
    message whose event ``ts`` is at/after the epoch-millisecond
    instant; buckets with nothing at/after it map to their high-water
    mark (Kafka's null-offset-means-end convention). ``{}`` for a
    topic nothing was produced to. The one implementation behind
    ``TopicStore.offsets_for_times`` (and so ``seek_to_timestamp`` and
    time retention) and ``start_at=timestamp:``.

    Per-bucket seq order is (ts, event_id) order WITHIN each produce
    batch, so the offset replays exactly the rows with ts >= T when
    batches arrive in event-time order; a later produce carrying
    earlier timestamps gets higher seqs and is replayed too (first
    at/after T, never only at/after T — Kafka's semantics on
    out-of-order partitions).

    Spark-free, on the driver: ONE manifest version gives the maxima,
    the recorded schema and the live files. Each bucket is one dataset
    scan over ``[ts, seq]`` typed by the recorded schema — the explicit
    ``timestamp[us, UTC]`` casts pre-round-9 INT96 files exactly, as in
    :func:`_scan` — with ``ts >= T`` pushed into it (row-group stats
    prune below-T row groups) and ``min(seq)`` folded over scanner
    batches, so the driver holds one batch even when T matches the
    whole log (review r09). T is clamped to the int64 microsecond
    range: above it every bucket tails, below it every row matches."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from ripple_server_spark.sources.topics import _message_ddl

    _v, m = manifest.latest(root, topic)
    out = {int(b): int(mx) + 1 for b, mx in m.get("maxima", {}).items()}
    if not out:
        return {}
    _message_ddl(m)  # a column recorded under two types: ValueError
    recorded = dict(f.split(":", 1) for f in m.get("schema") or [])
    # the Arrow form of the recorded Spark type, written out: the
    # stream's initialOffset runs where no session parses DDL
    ts_type = {
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }.get(recorded.get("ts"))
    if ts_type is None:
        # a ts-less topic (native sink with a custom schema) cannot be
        # time-positioned: a named contract error, the message a
        # retention.ms cycle or a start_at=timestamp stream surfaces
        raise ValueError(
            f"topic {topic!r} has no 'ts' column (recorded schema: "
            f"{list(recorded)}); time-based positioning "
            "(offsets_for_times / seek_to_timestamp / start_at=timestamp "
            "/ retention.ms) requires a timestamp column named 'ts'"
        )
    t_us = max(int(epoch_ms) * 1000, -(2**63))
    if t_us > _SEQ_END:
        return out
    flt = pc.field("ts") >= pa.scalar(t_us, ts_type)
    scan_schema = pa.schema([("ts", ts_type), ("seq", pa.int64())])
    data = os.path.join(root, "topics", topic, "data")
    for b, rels in manifest.plan(m, {b: (0, _SEQ_END) for b in out}).items():
        files = [os.path.join(data, r) for r in rels]
        scanner = ds.dataset(files, format="parquet", schema=scan_schema).scanner(
            columns=["seq"], filter=flt
        )
        for rb in scanner.to_batches():
            if rb.num_rows:
                out[b] = min(out[b], pc.min(rb.column("seq")).as_py())
    return out


def _check_start_at(start_at: str) -> str:
    import re

    if start_at not in ("earliest", "latest") and not (
        (start_at.startswith("consumer:") and len(start_at) > len("consumer:"))
        or (
            start_at.startswith("timestamp:")
            # a real integer literal, not merely digit-bearing: lstrip
            # would admit 'timestamp:--5' and crash int() later with an
            # internals error instead of this documented one
            and re.fullmatch(r"-?\d+", start_at.split(":", 1)[1])
        )
    ):
        raise ValueError(_START_AT_DOC + repr(start_at))
    if start_at.startswith("consumer:"):
        manifest.validate_consumer_id(start_at.split(":", 1)[1])
    return start_at


def _topic_ready(root: str, topic: str) -> bool:
    """A topic is admissible once it has a committed manifest.
    create_topic makes the topic dir, data/ and manifest v1 in
    separate syscalls, so a concurrent directory listing can see the
    bare directory mid-create — admitting it then would crash on the
    missing pieces; skipping it (query-start resolution) or waiting
    one trigger (discovery) is the correct race outcome (review r09)."""
    try:
        manifest.latest_version(root, topic)
    except OSError:
        return False
    return True


def _topics_list(options: dict) -> list[str]:
    """The subscription: ``topic`` accepts a comma-separated list
    (Kafka ``subscribe`` parity). Single-name subscriptions keep the
    original schema and offset format unchanged. Repeated names dedup
    order-preserving — the streaming multi reader already dedups via
    its per-topic dict, so batch must agree (topic='a,a' would
    otherwise silently double every batch row; ADVICE r07)."""
    return list(
        dict.fromkeys(t.strip() for t in options["topic"].split(",") if t.strip())
    )


def _subscription(options: dict) -> tuple[list[str], bool]:
    """Resolve the subscription to (topics, multi_schema).

    Two mutually exclusive forms (Kafka parity):

    - ``topic``: a name or comma-separated list; multi_schema (the
      ``topic`` attribution column + nested stream offsets) iff the
      deduped list has >1 name;
    - ``subscribePattern``: a regex resolved against ``topics/`` here
      at query start; the STREAMING multi reader then re-resolves it
      at every trigger boundary and admits newly-created matching
      topics mid-query (Kafka connector parity — see
      RippleTopicMultiStreamReader). Batch reads resolve once. An
      initially-empty match set is still an error in both modes (the
      query would otherwise run against nothing silently). Pattern
      subscriptions ALWAYS take the multi-topic path, even on a single
      match, so the schema a pattern yields is stable as the topic set
      grows.
    """
    topic = options.get("topic")
    pattern = options.get("subscribepattern") or options.get("subscribePattern")
    if topic is not None and pattern is not None:
        raise ValueError("pass exactly one of 'topic' or 'subscribePattern'")
    if pattern is not None:
        import re

        root = _required_opt(options, "root")
        tdir = os.path.join(root, "topics")
        names = sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []
        # readiness-filtered: a topic whose create is mid-flight (bare
        # dir, no manifest/data yet) would crash the first read; it
        # joins at the next (re)resolution instead (review r09)
        matched = [
            n
            for n in names
            if re.fullmatch(pattern, n) and _topic_ready(root, n)
        ]
        if not matched:
            raise ValueError(
                f"subscribePattern {pattern!r} matches no topics under "
                f"{tdir} at query start (a running STREAM discovers "
                "topics created later at trigger boundaries, but starting "
                "against an empty match set is an error)"
            )
        return matched, True
    if topic is None:
        raise ValueError("option 'topic' or 'subscribePattern' is required")
    topics = _topics_list(options)
    return topics, len(topics) > 1


def _source_ddl(root: str, topics: list[str], multi: bool) -> str:
    """The subscription's schema, resolved once at query start: the
    topics' recorded message schemas merged in subscription order by
    :func:`manifest.merge_schema`'s union rule, typed by
    ``topics._message_ddl`` (plus ``topic`` for multi-topic
    subscriptions). :data:`TOPIC_SCHEMA_DDL` when no subscribed topic
    has recorded one yet. A column recorded under two types:
    ValueError naming it."""
    from ripple_server_spark.sources.topics import _message_ddl

    merged: dict = {"topic": ",".join(topics)}
    for t in topics:
        recorded = manifest.latest(root, t)[1].get("schema")
        if recorded:
            manifest.merge_schema(merged, recorded)
    ddl = _message_ddl(merged) or TOPIC_SCHEMA_DDL
    return ddl + ", topic string" if multi else ddl


class RippleTopicReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.root = _required_opt(options, "root")
        self.topics, self.multi = _subscription(options)
        self.schema = schema
        self._target = to_arrow_schema(schema)
        self.offset = int(options.get("offset", 0))
        self.limit = int(options["limit"]) if "limit" in options else None
        # VERSION AS OF: pin the read to a committed manifest version
        # (single-topic only — a version number is per-topic state)
        self.version = int(options["version"]) if "version" in options else None
        if self.version is not None and self.multi:
            raise ValueError("version pinning requires a single topic")

    def partitions(self):
        parts = []
        for t in self.topics:
            if self.version is None:
                m = manifest.latest(self.root, t)[1]
            else:
                m = _load_pinned(self.root, t, self.version)
            data = os.path.join(self.root, "topics", t, "data")
            span = (self.offset, _SEQ_END)
            planned = manifest.plan(m, {b: span for b in range(int(m["n_buckets"]))})
            parts += [
                BucketPartition(
                    [os.path.join(data, r) for r in rels],
                    b,
                    self.offset,
                    self.limit,
                    topic=t if self.multi else None,
                )
                for b, rels in sorted(planned.items())
            ]
        return parts

    def read(self, partition: BucketPartition) -> Iterator:
        if partition is None:
            # partitions() returned [] (created-but-empty topic, or all
            # files aged out): Spark substitutes a single None partition
            # and still calls read — an empty topic is a legitimate
            # broker state, serve zero rows (same contract as
            # TopicStore.read_topic), not an AttributeError
            return
        yield from _read_bucket_arrow(partition, self._target)


class RippleTopicStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch source read on the driver: an adapter over a
    :class:`RippleTopicPartitionedStreamReader`, with the same offsets
    ({bucket: next_seq} cursors plus the manifest version the batch was
    planned against).

    ``read(start)`` admits each bucket from ``start`` by the partitioned
    tier's rule (:func:`_admit`: clamp to the retained floor, then at
    most ``batch_size`` seqs, AskQuery.Count) against the latest
    manifest, and packs the end offset with that reader's ``_pack`` and
    per-version manifest cache. :meth:`readBetweenOffsets` — every
    trigger's read and crash replay alike — reads ``[start, end)``
    through that reader's ``partitions(start, end)`` plan and ``read``,
    on the driver instead of in tasks, so a trigger decodes only the
    files overlapping its range. Seq gaps left by retention or key
    compaction just make a batch carry fewer rows.

    ``start_at`` (default ``earliest``) controls the FIRST checkpoint
    only — the Kafka ``auto.offset.reset`` analog: ``earliest`` replays
    the whole retained log, ``latest`` snapshots the per-bucket high
    watermarks at query start and tails only rows produced after it.
    Restarts always resume from the checkpoint, never re-evaluate this.
    """

    def __init__(self, options: dict, schema: StructType):
        self._plan = RippleTopicPartitionedStreamReader(options, schema)

    def initialOffset(self) -> dict:
        # 'latest' reads the manifest's high-water marks (O(1) in topic
        # size — the same metadata TopicStore's cold path keeps to
        # avoid log scans); 'consumer:<id>' reads that consumer's
        # committed offsets (the A7/A8 bridge).
        p = self._plan
        return p._pack(_initial_cursors(p.root, p.topic, p.start_at), None)

    def read(self, start: dict):
        # The version rides in the end offset so crash recovery replays
        # the exact file set this batch saw (see partitions()).
        p = self._plan
        version, maxima, floors = p._cached_log_bounds()
        s = json.loads(start.get("cursors", "{}"))
        e = dict(s)
        for b, mx in maxima.items():
            e[b] = _admit(int(s.get(b, 0)), floors.get(b, 0), mx + 1, p.batch_size)
        end = p._pack(e, version)
        # Arrow record batches pass to the JVM Arrow stream verbatim;
        # a list, because Spark's prefetch cache copies the iterator
        return iter(list(self.readBetweenOffsets(start, end))), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        for part in self._plan.partitions(start, end):
            yield from self._plan.read(part)

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint owns committed offsets


class RippleTopicPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel micro-batch source — the scale tier.

    Offsets carry the same state as the Simple tier ({bucket: next_seq}
    cursors + the manifest version the batch was planned against), but
    the division of labor matches a real cluster:

    - ``latestOffset`` (driver) plans admission from the manifest's
      per-bucket ``maxima``/``floors`` — O(manifest), zero data read.
      Each trigger advances every bucket's cursor by at most
      ``batch_size`` seqs (AskQuery.Count, consumer/server/core.go:52);
      retention holes below a bucket's floor are skipped in one step
      instead of crawled through in empty batches.
    - ``partitions`` (driver) resolves the END offset's pinned manifest
      version (the latest one for a version-less end offset or a
      vacuumed pin), plans every bucket's ``[start, end)`` in one
      :func:`manifest.plan` walk, and gives each task only the files
      of its bucket whose recorded seq range overlaps its chunk: one
      task per bucket, and catch-up ranges wider than ``batch_size``
      seqs split into chunks cut from the bucket's planned list, so a
      backlog drain parallelizes WITHIN a bucket too (the chunk bounds
      push into the parquet scan as seq row-group filters).
    - ``read`` (EXECUTOR) scans its bucket's files with pyarrow and
      yields Arrow RecordBatches — rows never pass through the driver,
      which is the whole point of this tier (the Simple tier funnels
      every row through driver prefetch; measured ~21.5k rows/s at
      sf0.1 — fine for control-plane topics, a bottleneck at 100×).

    Per-bucket seq is contiguous above the floor (produce assigns
    dense seqs; compaction preserves them; truncate only raises the
    floor), so seq-space admission equals row-count admission except
    where compaction dropped overwritten keys — there a batch simply
    carries fewer rows, never more.

    Rate limiting is planned against the reader's last planned offset
    (``latestOffset`` has no start argument in the Python API, and the
    engine calls it BEFORE ``initialOffset`` on a fresh query). The
    FIRST trigger of a reader's life is therefore an uncapped catch-up
    batch — deliberately: any smaller first offer risks regressing
    below a checkpointed cursor this reader cannot see (a regressed
    offset in the WAL re-serves rows after a second restart — a
    correctness bug, not a tuning knob), and the HWM is the one value
    that is monotone-safe by log construction. The catch-up batch
    stays executor-parallel via chunking; every later trigger is
    capped at ``batch_size`` seqs per bucket (``partitions``/``commit``
    anchor the admission cursor). Crash-mid-batch replay takes the
    ordinary partitions() path with the END offset's pinned version,
    so a truncate committed between crash and recovery cannot shrink
    the replayed batch. The simple tier reads every batch, replays
    included, through this same ``partitions``.
    """

    def __init__(self, options: dict, schema: StructType):
        self.root = _required_opt(options, "root")
        self.topic = _required_opt(options, "topic")
        self.batch_size = int(options.get("batch_size", 10_000))
        self.start_at = _check_start_at(options.get("start_at", "earliest"))
        self.schema = schema
        self._target = to_arrow_schema(schema)
        # Last planned/committed per-bucket cursors — the admission
        # anchor. None until initialOffset/partitions/commit runs
        # (i.e. until the first offset state of this reader's life).
        self._last_cursors: dict[str, int] | None = None
        # Set by the multi reader for topics discovered MID-STREAM
        # (pattern mode, after this incarnation's first batch
        # boundary): such a topic provably has no checkpointed cursor
        # to regress below, so its first offer is safely capped at
        # batch_size per bucket instead of the full retained log —
        # a newly-matched 10B-row topic then drains across ordinary
        # triggers rather than making one micro-batch the whole log's
        # failure/replay granularity (VERDICT r09 item 4). Never set
        # for construction-time or checkpoint-recovered readers, whose
        # uncapped first offer IS correctness-required (see class
        # docstring).
        self._capped_first_offer = False
        # Per-version manifest cache: a steady-state tail triggers
        # every few seconds and would otherwise re-parse the FULL
        # manifest twice per trigger (latestOffset + partitions).
        # Version-stamped, so a commit invalidates naturally; it keeps
        # the last few versions because crash replay pins an older one.
        self._manifests: dict[int, dict] = {}

    def _manifest(self, version: int) -> dict:
        """Parsed manifest of a committed version (ValueError when it
        does not exist)."""
        m = self._manifests.get(version)
        if m is None:
            m = _load_pinned(self.root, self.topic, version)
            self._manifests[version] = m
            while len(self._manifests) > 4:
                self._manifests.pop(next(iter(self._manifests)))
        return m

    def _cached_log_bounds(self):
        version = manifest.latest_version(self.root, self.topic)
        return (version, *_bounds(self._manifest(version)))

    def _pack(self, cursors: dict[str, int], version: int | None) -> dict:
        # "topic" rides in the offset so consumers of the checkpoint
        # (streaming.api.commit_stream_position) can verify WHICH topic
        # a single-source checkpoint tracked — cursors alone pass the
        # range/HWM validation for any topic of compatible shape, which
        # would silently commit wrong consumer offsets. partitions()/
        # commit() ignore the extra key, so old checkpoints replay fine.
        off = {
            "cursors": json.dumps(cursors, sort_keys=True),
            "topic": self.topic,
        }
        if version is not None:
            off["version"] = str(version)
        return off

    def _note(self, cursors: dict[str, int]) -> None:
        """Advance the admission anchor (cursors only ever rise; a
        restore() rewind manifests as new produce past the old HWM)."""
        last = self._last_cursors or {}
        merged = dict(last)
        for b, c in cursors.items():
            merged[b] = max(int(c), last.get(b, 0))
        self._last_cursors = merged

    def initialOffset(self) -> dict:
        cursors = _initial_cursors(self.root, self.topic, self.start_at)
        self._note(cursors)
        return self._pack(cursors, None)

    def latestOffset(self) -> dict:
        version, maxima, floors = self._cached_log_bounds()
        last = self._last_cursors
        cursors = dict(last) if last is not None else {}
        for b, mx in maxima.items():
            hwm = mx + 1
            if last is None:
                if self._capped_first_offer:
                    # mid-stream discovered topic: no checkpointed
                    # cursor exists to regress below, so admit from the
                    # retained floor at the ordinary batch_size cap
                    cursors[b] = _admit(0, floors.get(b, 0), hwm, self.batch_size)
                    continue
                # post-restart catch-up: the checkpointed start cursor
                # is invisible here, so offer everything retained; the
                # batch stays executor-parallel via chunked partitions
                cursors[b] = max(hwm, cursors.get(b, 0))
                continue
            cursors[b] = _admit(last.get(b, 0), floors.get(b, 0), hwm, self.batch_size)
        self._note(cursors)
        return self._pack(cursors, version)

    def partitions(self, start: dict, end: dict) -> list[BucketPartition]:
        s = json.loads(start.get("cursors", "{}"))
        e = json.loads(end.get("cursors", "{}"))
        try:
            m = self._manifest(int(end["version"]))
        except (KeyError, ValueError):
            # a version-less end offset, or a pinned snapshot vacuumed
            # away (keep vacuum grace above checkpoint-recovery lag):
            # plan against the latest manifest — the same rows, since
            # no live row sits below a bucket's floor
            m = self._manifest(manifest.latest_version(self.root, self.topic))
        floors = _bounds(m)[1]
        spans = {}
        for b, c in e.items():
            upto = int(c)
            # clamp the chunk start at the snapshot's retained floor: a
            # consumer/earliest cursor far below a large floor would
            # otherwise emit ~hole/batch_size EMPTY tasks crawling seq
            # space no file retains (ADVICE r07); the clamp skips the
            # retention hole in one step, like latestOffset's admission
            spans[int(b)] = (max(int(s.get(b, 0)), min(upto, floors.get(b, 0))), upto)
        data_dir = os.path.join(self.root, "topics", self.topic, "data")
        parts: list[BucketPartition] = []
        for b, rels in sorted(manifest.plan(m, spans).items()):
            off, upto = spans[b]
            span = upto - off
            # Catch-up chunking (span > batch_size happens only on the
            # uncapped first offer / replay): a seq-range chunk can only
            # SKIP data at row-group granularity, so more chunks than
            # the bucket's scan can prune means every extra task
            # re-decodes the same row groups and filters them away —
            # measured r13: an 8-bucket single-file-per-bucket drain
            # split 5 chunks/bucket decoded every bucket 5x. Bound the
            # chunk count by the pruning granularity the driver can see
            # without opening footers: at least one chunk per FILE in
            # the span (every file is >= 1 row group) plus one per
            # _CATCH_UP_CHUNK_BYTES of span bytes (row groups inside a
            # large compacted file are far smaller than that, so decode
            # overlap per chunk stays bounded while a one-file backlog
            # still fans out). Steady-state triggers (span <=
            # batch_size) are a single task as before. Chunks are cut
            # from the bucket's planned list, never a fresh walk.
            want = -(-span // self.batch_size)
            if want > 1:
                try:
                    nbytes = sum(
                        os.path.getsize(os.path.join(data_dir, r)) for r in rels
                    )
                except OSError:
                    nbytes = 0
                cap = max(len(rels), -(-nbytes // _CATCH_UP_CHUNK_BYTES), 1)
                want = min(want, cap)
            width = -(-span // want)
            while off < upto:
                hi = min(upto, off + width)
                chunk = manifest.cut(m, rels, off, hi)
                if chunk:
                    files = [os.path.join(data_dir, r) for r in chunk]
                    parts.append(BucketPartition(files, b, off, None, upto=hi))
                off = hi
        # replay after a crash lands here without a commit() first, and
        # a post-restart batch may start from a checkpointed cursor this
        # reader never saw — anchor on BOTH ends so the next trigger is
        # capped from the true cursor
        self._note({b: int(c) for b, c in s.items()})
        self._note({b: int(c) for b, c in e.items()})
        return parts

    def read(self, partition: BucketPartition | None) -> Iterator:
        if partition is None:
            return iter(())
        return _read_bucket_arrow(partition, self._target)

    def commit(self, end: dict) -> None:
        self._note({b: int(c) for b, c in json.loads(end.get("cursors", "{}")).items()})


class RippleTopicMultiStreamReader(DataSourceStreamReader):
    """Multi-topic subscription (Kafka ``subscribe``-list parity):
    composes one partitioned reader per topic; the offset is the
    nested per-topic dict of the sub-readers' offsets, so each topic
    keeps its own cursors, pinned manifest version, admission cap, and
    crash-replay semantics, while the query sees one unioned stream
    with a ``topic`` column.

    Subscription dynamics (Kafka connector parity):

    - ``topic`` list: fixed while the query runs. Restarting a
      checkpoint with a CHANGED list is supported with the obvious
      semantics (review r09, test-pinned): topics removed from the
      list stop being served (their checkpointed offset keys are
      ignored, never resurrected), and topics added to the list join
      from their initial position (full retained log) — deliveries for
      continuing topics resume exactly from the checkpoint.
    - ``subscribePattern``: the regex re-resolves at every
      ``latestOffset`` (trigger boundary), so a topic created
      mid-query is admitted into the next trigger's nested offset,
      starting from its retained floor (Kafka's new-partition earliest
      rule — regardless of ``start_at``, which governs only the
      initially-matched set) and draining at the ordinary batch_size
      cap per trigger: a mid-stream discovery provably has no
      checkpointed cursor, so capping is safe and keeps micro-batch
      replay granularity bounded even when a huge topic newly matches.
      Once admitted, a topic is never dropped: the pattern can only
      stop matching a topic by the topic being deleted, and deleting a
      subscribed log mid-query fails loudly (same contract as fixed
      lists). Recovery is checkpoint-driven: ``partitions`` and
      ``commit`` materialize sub-readers from the OFFSET's topic keys,
      so a restarted query replays discovered topics exactly without
      re-running discovery first.
    """

    def __init__(self, options: dict, schema: StructType):
        self.topics, _multi = _subscription(options)
        self._root = _required_opt(options, "root")
        self.schema = schema
        self._target = to_arrow_schema(schema)
        self._pattern = options.get("subscribepattern") or options.get(
            "subscribePattern"
        )
        self._sub_opts = {
            k: v for k, v in options.items() if k.lower() != "subscribepattern"
        }
        self._subs = {t: self._make_sub(t) for t in self.topics}
        # False until this incarnation's first partitions()/commit():
        # only topics discovered AFTER a batch boundary are provably
        # absent from the checkpoint (a checkpointed topic is either in
        # the construction-time subs or re-materialized by that first
        # call), so only those get the capped first offer.
        self._saw_batch = False
        # Names the fixed pattern already rejected: a topic name never
        # starts matching later, so steady-state discovery is one
        # listdir + set lookups instead of a regex per topic per
        # trigger (measured 11 ms -> 3 ms per trigger at 10k topics;
        # memory is bounded by live topic names, a few bytes each).
        self._nonmatch: set[str] = set()

    def _make_sub(self, topic: str) -> RippleTopicPartitionedStreamReader:
        return RippleTopicPartitionedStreamReader(
            {**self._sub_opts, "topic": topic}, self.schema
        )

    def _sub(self, topic: str) -> RippleTopicPartitionedStreamReader:
        r = self._subs.get(topic)
        if r is None:  # discovered mid-query, or recovered from offsets
            r = self._make_sub(topic)
            self._subs[topic] = r
        return r

    def _offset_topics(self, end: dict) -> list[str]:
        """The offset keys this reader may serve — filtered to the
        CURRENT subscription in both modes: a checkpoint written with
        topic="a,b" then restarted with topic="a" (or a pattern
        narrowed between restarts) would otherwise resurrect the
        removed topic via _sub() and keep serving it forever (review
        r09, both passes). Pattern mode accepts already-admitted
        topics plus any offset key the CURRENT pattern matches (crash
        recovery re-materializes those sub-readers here)."""
        if self._pattern:
            import re

            return [
                t
                for t in end
                if t in self._subs or re.fullmatch(self._pattern, t)
            ]
        return [t for t in end if t in self._subs]

    def _discover(self) -> None:
        """Admit topics that newly match the pattern (trigger-boundary
        discovery) — Kafka's new-topic-at-earliest admission. Before
        this incarnation's first batch boundary a fresh sub-reader's
        first offer is its full retained log (it may be a checkpointed
        topic whose cursor this API cannot see — regressing below it
        would re-serve rows after a second restart); AFTER a batch
        boundary the topic is provably checkpoint-free, so admission
        starts at the floor and is capped at batch_size per bucket like
        any other trigger (VERDICT r09 item 4)."""
        if not self._pattern:
            return
        import re

        tdir = os.path.join(self._root, "topics")
        names = sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []
        for n in names:
            if n in self._subs or n in self._nonmatch:
                continue
            if not re.fullmatch(self._pattern, n):
                self._nonmatch.add(n)
                continue
            if _topic_ready(self._root, n):
                self._sub(n)._capped_first_offer = self._saw_batch

    def initialOffset(self) -> dict:
        return {t: r.initialOffset() for t, r in self._subs.items()}

    def latestOffset(self) -> dict:
        self._discover()
        return {t: r.latestOffset() for t, r in self._subs.items()}

    def partitions(self, start: dict, end: dict) -> list[BucketPartition]:
        parts: list[BucketPartition] = []
        empty = {"cursors": "{}"}
        # END's topic keys drive (filtered to the subscription): crash
        # recovery calls partitions() straight from checkpointed
        # offsets, which may name topics discovered in a previous
        # incarnation (pattern mode materializes their sub-readers here)
        for t in self._offset_topics(end):
            for p in self._sub(t).partitions(start.get(t, empty), end[t]):
                p.topic = t
                parts.append(p)
        self._saw_batch = True
        return parts

    def read(self, partition: BucketPartition | None) -> Iterator:
        if partition is None:
            return iter(())
        return _read_bucket_arrow(partition, self._target)

    def commit(self, end: dict) -> None:
        for t in self._offset_topics(end):
            self._sub(t).commit(end[t])
        self._saw_batch = True


class RippleTopicDataSource(DataSource):
    """DataSource entry point (batch + streaming)."""

    @classmethod
    def name(cls) -> str:
        return "ripple_topic"

    def schema(self) -> str:
        topics, multi = _subscription(self.options)
        return _source_ddl(_required_opt(self.options, "root"), topics, multi)

    def reader(self, schema: StructType) -> RippleTopicReader:
        return RippleTopicReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        # A5 produce at format() tier — per-task producer transactions
        # through the manifest protocol (sources/datasink.py)
        from ripple_server_spark.sources.datasink import RippleTopicBatchWriter

        return RippleTopicBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        from ripple_server_spark.sources.datasink import RippleTopicStreamWriter

        return RippleTopicStreamWriter(self.options, schema, overwrite)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self.options.get("reader_tier", "partitioned") == "simple":
            # raising the not-implemented marker makes Spark fall back
            # to simpleStreamReader (datasource_internal._streamReader)
            # — the documented tier-selection seam, not an error
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (reader_tier=simple)"},
            )
        _topics, multi = _subscription(self.options)
        if multi:
            return RippleTopicMultiStreamReader(self.options, schema)
        return RippleTopicPartitionedStreamReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> RippleTopicStreamReader:
        _topics, multi = _subscription(self.options)
        if multi:
            raise ValueError(
                "multi-topic subscriptions require the partitioned tier "
                "(reader_tier=partitioned, the default)"
            )
        return RippleTopicStreamReader(self.options, schema)
