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
- ``simple`` — the SimpleDataSourceStreamReader tier (driver-side
  prefetch), the right shape for control-plane-small topics where a
  task round-trip per bucket costs more than the rows.

The ``topic`` option accepts a comma-separated list (Kafka
``subscribe`` parity): multi-topic reads add a ``topic`` column and,
on the streaming side, keep fully independent per-topic cursors /
pinned versions / admission caps (partitioned tier only).

File lists come from the topic's MANIFEST (latest committed version),
so both batch and streaming reads are snapshot-consistent with
TopicStore's commit protocol: crashed-produce orphans and
mid-compaction files are never served.

The schema comes from the manifest too: each subscribed topic's
recorded message schema (the columns its producers wrote, ``seq``
included) plus ``bucket``, resolved once at query start
(:func:`_source_ddl`). A topic nothing was produced to yet reads as
:data:`TOPIC_SCHEMA_DDL`, the events layout. Every reader scans its
files with that schema, so a column an older file lacks comes back as
typed nulls, the same contract as ``TopicStore.read_topic``.
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


def _bucket_files(
    root: str, topic: str, version: int | None = None, span=None
) -> list[tuple[int, list[str]]]:
    """Per-bucket COMMITTED file lists from the topic's manifest —
    latest by default, or a pinned ``version`` (VERSION AS OF: the
    same time-travel contract as TopicStore.read_topic, so a reader
    can replay exactly the snapshot a past consumer saw, across later
    compactions/retention). Snapshot-consistent either way:
    crashed-produce orphans and mid-compaction files are invisible.
    ``span(bucket) -> (lo, hi)`` plans each bucket through
    :func:`manifest.files_for` — only files whose seq range overlaps
    ``[lo, hi)``, and buckets left with none are dropped."""
    if version is None:
        version = manifest.latest_version(root, topic)
    m = _load_pinned(root, topic, version)
    data_dir = os.path.join(root, "topics", topic, "data")
    by_bucket: dict[int, list[str]] = {}
    for rel in m["files"]:
        by_bucket.setdefault(manifest.bucket_of(rel), []).append(rel)
    if span is not None:
        by_bucket = {b: manifest.files_for(m, b, *span(b)) for b in by_bucket}
    return sorted(
        (b, sorted(os.path.join(data_dir, r) for r in rels))
        for b, rels in by_bucket.items()
        if rels
    )


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


def _topic_arrow_batches(tbl, target, fill: dict):
    """Record batches of exactly ``target``: the scanned file columns
    plus the partition-constant ``fill`` columns (``bucket``, and
    ``topic`` on multi-topic subscriptions). Shared by the executor
    kernel and the simple tier's driver prefetch."""
    import pyarrow as pa

    cols = [
        pa.repeat(pa.scalar(fill[f.name], f.type), tbl.num_rows)
        if f.name in fill
        else tbl.column(f.name)
        for f in target
    ]
    return pa.Table.from_arrays(cols, schema=target).to_batches()


def _read_bucket_arrow(part: BucketPartition, target):
    """Executor-side read of one partition: the bucket's rows with
    ``offset <= seq < upto``, seq-ordered, cut at ``limit`` rows, as
    ``pyarrow.RecordBatch`` of the reader's Arrow schema ``target`` —
    no per-row Python objects, the worker hands the batches straight to
    the JVM Arrow stream."""
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
    yield from _topic_arrow_batches(tbl, target, fill)


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
    """A required reader option, with a actionable error instead of a
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
    that consumer's committed offsets point (TopicStore.commit writes
    next-seq cursors, the same unit as stream offsets; an unregistered
    or never-committed consumer starts at 0 per bucket, matching
    register_consumer's contract). ``timestamp:<epoch_ms>`` starts at
    the first event at/after that instant per bucket (Kafka
    offsetsForTimes — see :func:`_timestamp_cursors`)."""
    if start_at == "latest":
        return _latest_cursors(root, topic)
    if start_at.startswith("timestamp:"):
        return _timestamp_cursors(root, topic, int(start_at.split(":", 1)[1]))
    if start_at.startswith("consumer:"):
        consumer_id = start_at.split(":", 1)[1]
        path = os.path.join(root, "offsets", f"{consumer_id}--{topic}.json")
        if not os.path.isfile(path):
            return {}
        with open(path) as f:
            doc = json.load(f)
        # one shared normalizer for wrapped (r11+, generation-stamped)
        # and legacy flat offsets documents — lazy import keeps this
        # module's import graph light for executor workers
        from ripple_server_spark.sources.topics import normalize_offsets_doc

        return {
            str(b): int(v)
            for b, v in normalize_offsets_doc(doc)["offsets"].items()
        }
    return {}


def _timestamp_cursors(root: str, topic: str, epoch_ms: int) -> dict[str, int]:
    """Kafka ``offsetsForTimes`` parity: per-bucket first seq whose
    event ``ts`` is >= the given epoch-millisecond instant; buckets
    with nothing at/after it start at their high-water mark (tail
    only, Kafka's null-offset-means-end convention).

    Per-bucket seq order is (ts, event_id) order within each produce
    batch, so the cursor replays exactly the rows with ts >= T when
    batches arrive in event-time order; late produces carrying earlier
    timestamps are still replayed (first-at/after-T, Kafka's
    offsetsForTimes semantics). One column-pruned seq read per bucket
    with the ts predicate PUSHED into the dataset scan (row-group
    stats prune below-T row groups) and the min folded over scanner
    BATCHES — driver memory stays one batch even when T matches the
    whole retained log (review r09) — once at query start, never on
    the per-trigger path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    _, maxima, _ = _log_bounds(root, topic)
    cursors = {b: mx + 1 for b, mx in maxima.items()}  # default: tail
    for b, files in _bucket_files(root, topic):
        lo: int | None = None
        # PER-FILE scalars: a topic upgraded across round 9 holds both
        # INT96 files (pyarrow: naive timestamp[ns]) and MICROS files
        # (timestamp[us, tz=UTC]); one dataset-level scalar typed from
        # the first fragment crashes the scan on the other era's files
        # (ArrowNotImplementedError kernel mismatch — review r09).
        # Epoch values are tz-independent, so the same T converts
        # per-file into that file's own unit/tz and compares exactly.
        for fpath in files:
            dset = ds.dataset(fpath, format="parquet")
            ts_type = dset.schema.field("ts").type
            # ms -> the file's unit; ts >= T with T on an exact ms
            # boundary is equivalent to floor_ms(ts) >= T_ms. Pushes to
            # row-group statistics where the file has them (micros);
            # INT96 files scan, batch-folded, one batch of driver RAM.
            mult = {"s": None, "ms": 1, "us": 1_000, "ns": 1_000_000}[ts_type.unit]
            t_units = -(-epoch_ms // 1000) if mult is None else epoch_ms * mult
            if t_units > (1 << 63) - 1:
                # T beyond int64 (e.g. a far-future sentinel on an ns
                # column overflows the unit): nothing representable in
                # this file can be >= T. Exact bound — values in
                # (2^62, 2^63) are valid int64 timestamps and must
                # still be compared, not skipped (ADVICE r09).
                continue
            t_scalar = pa.scalar(t_units, type=ts_type)
            scanner = dset.scanner(
                columns=["seq"], filter=pc.field("ts") >= t_scalar
            )
            for rb in scanner.to_batches():
                if rb.num_rows:
                    m = int(pc.min(rb.column("seq")).as_py())
                    lo = m if lo is None else min(lo, m)
        if lo is not None:
            cursors[str(b)] = lo
    return cursors


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
        # the id is interpolated into the offsets/<id>--<topic>.json
        # path — reject separators so 'consumer:../x' cannot escape the
        # offsets directory (ADVICE r07; TopicStore ids are flat names)
        consumer_id = start_at.split(":", 1)[1]
        if "/" in consumer_id or os.sep in consumer_id or ".." in consumer_id:
            raise ValueError(
                f"consumer id {consumer_id!r} must be a flat name "
                "(no path separators or '..')"
            )
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
    :func:`manifest.merge_schema`'s union rule, plus ``bucket`` (and
    ``topic`` for multi-topic subscriptions). :data:`TOPIC_SCHEMA_DDL`
    when no subscribed topic has recorded one yet. A column recorded
    under two types has no one Arrow type to scan it with: ValueError
    naming it."""
    from ripple_server_spark.sources.topics import _message_ddl

    merged: dict = {}
    for t in topics:
        recorded = manifest.latest(root, t)[1].get("schema")
        if recorded:
            manifest.merge_schema(merged, recorded)
    seen: dict[str, str] = {}
    for field in merged.get("schema", []):
        name, typ = field.split(":", 1)
        if seen.setdefault(name, typ) != typ:
            raise ValueError(
                f"ripple_topic: column {name!r} is recorded as both "
                f"{seen[name]} and {typ} across topics {', '.join(topics)}"
            )
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
        return [
            BucketPartition(
                files,
                b,
                self.offset,
                self.limit,
                topic=t if self.multi else None,
            )
            for t in self.topics
            for b, files in _bucket_files(
                self.root, t, self.version, lambda b: (self.offset, _SEQ_END)
            )
        ]

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
    """Micro-batch source: offset = {bucket: next_seq}. Each batch
    serves at most ``batch_size`` rows per bucket (AskQuery.Count).

    ``start_at`` (default ``earliest``) controls the FIRST checkpoint
    only — the Kafka ``auto.offset.reset`` analog: ``earliest`` replays
    the whole retained log, ``latest`` snapshots the per-bucket high
    watermarks at query start and tails only rows produced after it.
    Restarts always resume from the checkpoint, never re-evaluate this.
    """

    def __init__(self, options: dict, schema: StructType):
        self.root = _required_opt(options, "root")
        self.topic = _required_opt(options, "topic")
        self.batch_size = int(options.get("batch_size", 10_000))
        self.start_at = _check_start_at(options.get("start_at", "earliest"))
        self.schema = schema
        self._target = to_arrow_schema(schema)
        # decoded-tail cache for the driver prefetch, see _tail_slice
        self._tail_cache: dict[int, tuple] = {}

    def _tail_slice(self, version: int, bucket: int, files, off: int, max_rows):
        """Seq-sorted Arrow slice [off, off + max_rows-by-count) of one
        bucket, from a per-(bucket, manifest-version) DECODED tail
        cache; ``None`` when the bucket is drained past ``off``.

        This tier funnels every row through driver-side prefetch by
        design (control-plane topics). The fixture files hold one row
        group per produce, so the seq filter cannot prune inside a
        trigger: without a cache every trigger re-decoded the whole
        remaining tail and sliced ``max_rows`` off it — an n-row drain
        at batch size c decoded O(n^2/c) cells. Caching the
        seq-sorted Arrow table keyed by manifest version makes it one
        decode per (bucket, version): a produce/compaction/truncate
        commits a NEW version, which drops the stale entry, so the
        cache can never serve rows the live manifest no longer has.
        Memory is bounded by the retained tail of one control-plane
        topic — the same rows the stream is about to serve anyway —
        and the entry is freed as soon as the bucket is fully drained
        (or superseded by a new version). Replay (readBetweenOffsets)
        keeps scanning files directly.
        """
        import bisect

        cached = self._tail_cache.get(bucket)
        if cached is None or cached[0] != version or off < cached[2]:
            import pyarrow.dataset as ds

            tbl = _scan(files, self._target, {"bucket": bucket}, ds.field("seq") >= off)
            seqs = tbl.column("seq").to_pylist()
            self._tail_cache[bucket] = cached = (version, tbl, off, seqs)
        _, tbl, _, seqs = cached
        lo = bisect.bisect_left(seqs, off)
        if lo >= len(seqs):
            self._tail_cache.pop(bucket, None)  # fully drained: free it
            return None
        hi = len(seqs) if max_rows is None else min(len(seqs), lo + max_rows)
        return tbl.slice(lo, hi - lo)

    def initialOffset(self) -> dict:
        # 'latest' reads the manifest's high-water marks (O(1) in topic
        # size — the same metadata TopicStore's cold path keeps to
        # avoid log scans); 'consumer:<id>' reads that consumer's
        # committed offsets (the A7/A8 bridge).
        return {
            "cursors": json.dumps(
                _initial_cursors(self.root, self.topic, self.start_at)
            ),
            "topic": self.topic,  # checkpoint→topic pairing proof
        }

    def _read_range(self, start: dict, max_rows: int | None):
        cursors = json.loads(start.get("cursors", "{}"))
        slices: list = []  # (bucket, seq-sorted Arrow table)
        new_cursors = dict(cursors)
        # Resolve the manifest version FIRST and read that pinned
        # snapshot; the version rides in the end offset so crash
        # recovery can replay the exact file set this batch saw (see
        # readBetweenOffsets).
        version = manifest.latest_version(self.root, self.topic)
        for b, files in _bucket_files(self.root, self.topic, version):
            off = int(cursors.get(str(b), 0))
            got = self._tail_slice(version, b, files, off, max_rows)
            if got is not None and got.num_rows:
                slices.append((b, got))
                # Advance the cursor from the DATA (max served seq + 1),
                # not off + row count: after retention raises a bucket's
                # floor, seq is no longer contiguous from the cursor,
                # and a count-based cursor would lag and re-deliver the
                # tail forever. The slice is seq-sorted, so max = last.
                new_cursors[str(b)] = got.column("seq")[-1].as_py() + 1
        end = {
            "cursors": json.dumps(new_cursors),
            "topic": self.topic,
            "version": str(version),
        }
        return slices, end

    def read(self, start: dict):
        # Serve the prefetch as Arrow record batches, not Python
        # tuples: Spark's source runner passes pyarrow.RecordBatch
        # through to the JVM Arrow stream verbatim
        # (records_to_arrow_batches), so the per-row to_pylist +
        # tuple-zip materialization AND the runner's per-cell
        # tuple→Arrow reconversion both disappear from the per-trigger
        # cost (guide §4.2: keep whole batches in Arrow across the
        # boundary).
        slices, end = self._read_range(start, self.batch_size)
        batches: list = []
        for b, tbl in slices:
            batches.extend(_topic_arrow_batches(tbl, self._target, {"bucket": b}))
        return iter(batches), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        # Deterministic replay for recovery: serve exactly [start, end)
        # from the SAME manifest version the original batch read — a
        # truncate committed between the batch and the crash must not
        # shrink the replayed batch (the sink would see a different
        # batch N than the offset log recorded). Falls back to the
        # latest manifest only when the pinned version was vacuumed
        # away (the Delta-retention-horizon caveat: keep vacuum grace
        # above checkpoint-recovery lag).
        s = json.loads(start.get("cursors", "{}"))
        e = json.loads(end.get("cursors", "{}"))
        version = int(end["version"]) if "version" in end else None

        def span(b: int) -> tuple[int, int]:
            return int(s.get(str(b), 0)), int(e.get(str(b), 0))

        try:
            buckets = _bucket_files(self.root, self.topic, version, span)
        except ValueError:
            buckets = _bucket_files(self.root, self.topic, None, span)
        for b, files in buckets:
            off = int(s.get(str(b), 0))
            upto = int(e.get(str(b), 0))
            if upto > off:
                # bound by SEQ, not row count: a retention gap between
                # off and upto must shrink the replay, not let it slide
                # past upto — and the bound is pushed into the scan so
                # replay cost follows the batch, not the retained tail
                part = BucketPartition(files, b, off, None, upto=upto)
                yield from _read_bucket_arrow(part, self._target)

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
      version and gives each task only the files of its bucket whose
      recorded seq range overlaps its chunk: one task per bucket, and
      catch-up ranges wider than ``batch_size`` seqs split into chunks
      so a backlog drain parallelizes WITHIN a bucket too (the chunk
      bounds push into the parquet scan as seq row-group filters).
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
    the replayed batch (same contract as the Simple tier's
    readBetweenOffsets).
    """

    def __init__(self, options: dict, schema: StructType):
        self.root = _required_opt(options, "root")
        self.topic = _required_opt(options, "topic")
        self.batch_size = int(options.get("batch_size", 10_000))
        self.start_at = _check_start_at(options.get("start_at", "earliest"))
        self.schema = schema
        self._target = to_arrow_schema(schema)
        # Catch-up chunk sizing target (bytes of bucket data per chunk
        # task) — see partitions(); an option so a deployment can trade
        # task granularity against decode overlap without code changes.
        self._chunk_target_bytes = int(
            options.get("catch_up_chunk_bytes", 32 << 20)
        )
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
                    eff = floors.get(b, 0)
                    cursors[b] = min(hwm, eff + self.batch_size)
                    continue
                # post-restart catch-up: the checkpointed start cursor
                # is invisible here, so offer everything retained; the
                # batch stays executor-parallel via chunked partitions
                cursors[b] = max(hwm, cursors.get(b, 0))
                continue
            lb = last.get(b, 0)
            eff = max(lb, floors.get(b, 0))  # skip the retention hole
            cursors[b] = max(lb, min(hwm, eff + self.batch_size))
        self._note(cursors)
        return self._pack(cursors, version)

    def partitions(self, start: dict, end: dict) -> list[BucketPartition]:
        s = json.loads(start.get("cursors", "{}"))
        e = json.loads(end.get("cursors", "{}"))
        m = None
        if "version" in end:
            try:
                m = self._manifest(int(end["version"]))
            except ValueError:
                # pinned snapshot vacuumed away (keep vacuum grace above
                # checkpoint-recovery lag); serve from the latest manifest
                m = self._manifest(manifest.latest_version(self.root, self.topic))
        data_dir = os.path.join(self.root, "topics", self.topic, "data")
        if m is None:
            # version-less end offset: every file of the latest
            # manifest, unpruned, no floors
            unpruned = dict(_bucket_files(self.root, self.topic))
            buckets, floors = sorted(unpruned), {}
        else:
            buckets = sorted({manifest.bucket_of(r) for r in m["files"]})
            floors = _bounds(m)[1]

        def files(b: int, lo: int, hi: int) -> list[str]:
            # the manifest read planner: only files whose recorded seq
            # range overlaps [lo, hi)
            if m is None:
                return unpruned.get(b, [])
            rels = manifest.files_for(m, b, lo, hi)
            return [os.path.join(data_dir, r) for r in rels]

        parts: list[BucketPartition] = []
        for b in buckets:
            off = int(s.get(str(b), 0))
            upto = int(e.get(str(b), 0))
            # clamp the chunk start at the snapshot's retained floor: a
            # consumer/earliest cursor far below a large floor would
            # otherwise emit ~hole/batch_size EMPTY tasks crawling seq
            # space no file retains (ADVICE r07); the clamp skips the
            # retention hole in one step, like latestOffset's admission
            off = max(off, min(upto, floors.get(str(b), 0)))
            span = upto - off
            span_files = files(b, off, upto) if span > 0 else []
            if not span_files:
                continue
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
            # catch_up_chunk_bytes of span bytes (row groups inside a
            # large compacted file are far smaller than that, so decode
            # overlap per chunk stays bounded while a one-file backlog
            # still fans out). Steady-state triggers (span <=
            # batch_size) are a single task as before.
            want = -(-span // self.batch_size)
            if want > 1:
                try:
                    nbytes = sum(os.path.getsize(f) for f in span_files)
                except OSError:
                    nbytes = 0
                cap = max(
                    len(span_files), -(-nbytes // self._chunk_target_bytes), 1
                )
                want = min(want, cap)
            width = -(-span // want)
            while off < upto:
                hi = min(upto, off + width)
                chunk = files(b, off, hi)
                if chunk:
                    parts.append(BucketPartition(chunk, b, off, None, upto=hi))
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
