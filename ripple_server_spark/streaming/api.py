"""Structured Streaming source/sink over topic logs.

This is the live half of the reference's pub/sub surface:

- **source**: ``readStream.format("ripple_topic")`` — the manifest-
  pinned source (sources/datasource.py). Each micro-batch serves at
  most ``batch_size`` seqs per bucket — the AskQuery{Count} batching
  analog (internal/broker/consumer/server/core.go:16-19,52) — and its
  offsets live in the checkpoint and commit atomically per micro-batch,
  which *fixes* the reference's offset race (core.go:61-62 persists
  offset+Count while advancing by len(batch)) by construction: Spark's
  commit log records exactly what each batch read. Exactly-once per
  micro-batch — strictly stronger than the reference's at-least-once.
- **sink**: ``writeStream.format("ripple_topic")`` — the native sink
  (sources/datasink.py), whose write tasks append through the same
  manifest transaction as ``TopicStore.produce``, exactly-once per
  (producer, micro-batch, partition) via replay-stable applied ids.
- **fan-out** (:func:`fanout_write`): foreachBatch writing N copies —
  the *semantic* analog of leader->follower gossip replication
  (internal/broker/producer/server/core.go:68-103 + ack handling
  ack.go). Real durability comes from the storage layer; this exists to
  reproduce the reference's observable fan-out behavior for parity
  tests.
- **windows** (:func:`windowed_counts`, :func:`sessionized`):
  tumbling/sliding/session event-time aggregation with watermarks —
  late data handling the reference cannot express (it has no event
  time; SURVEY.md §2 Table B).
- **dedup** (:func:`dedup_stream`): watermarked streaming
  dropDuplicates on event_id: converts at-least-once delivery into
  exactly-once *processing* downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ripple_server_spark.sources.topics import TopicStore


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed counts with a watermark: state for a window
    is dropped once the watermark passes its end (bounded state at any
    scale); late rows beyond the watermark are dropped — a policy the
    reference cannot express (no event time)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n", "sum_value")
    )


def sessionized(events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Session windows keyed by user: gap-based session close."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "user_id", "n")
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked exactly-once-processing filter over an at-least-once
    stream: duplicates of event_id within the watermark horizon are
    dropped; state is GC'd as the watermark advances."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair each left row with right rows
    of the same ``key`` whose event time falls in
    ``[left.ts, left.ts + within]``.

    Both sides are watermarked, and the join condition bounds right.ts
    relative to left.ts — together these let Spark GC join state for
    rows older than watermark + interval, so state stays bounded at any
    scale (an unbounded-condition stream join would accumulate forever).
    The reference cannot express this at all (no event time, no joins).
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def fanout_write(
    df: DataFrame, paths: list[str], checkpoint: str
) -> StreamingQuery:
    """Replication fan-out analog (A9-A11): each micro-batch is written
    to every replica path, idempotently — batch-id-keyed subdirectory +
    overwrite means a replayed batch (restart between sink write and
    checkpoint commit) rewrites the same bytes instead of appending
    duplicates. This replaces the reference's per-message acks + 3 s
    timeout (internal/broker/ack/ack.go:89-94) with exactly-once
    replicas. Readers see ``batch`` as a partition column of each
    replica dir.

    A plain ``mode("append")`` here would silently be at-least-once —
    foreachBatch re-invokes the function for uncommitted batch ids."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # one materialization serves every replica: without the persist
        # the batch plan re-executes (source re-read included) once per
        # path, scaling trigger latency linearly with replica count
        batch.persist()
        try:
            for p in paths:
                batch.write.mode("overwrite").parquet(f"{p}/batch={batch_id}")
        finally:
            batch.unpersist()

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def pick_replica(consumer_id: str, n_replicas: int) -> int:
    """Read-request load balancing (A4/A19 analog): the reference's
    consumer loadbalancer picks a random follower index per read
    (internal/broker/consumer/loadbalancer/loadbalancer.go:13-19).
    Deterministic md5-of-consumer variant: the same consumer always
    lands on the same replica (read-your-own-cache affinity) while the
    consumer population spreads uniformly — and reruns are
    reproducible, the engine-wide invariant (no rand())."""
    import hashlib

    if n_replicas <= 0:
        raise ValueError(
            "no replicas configured (n_replicas must be positive)"
        )
    return int(hashlib.md5(consumer_id.encode()).hexdigest(), 16) % n_replicas


def read_from_replica(
    spark: SparkSession, replica_paths: list[str], consumer_id: str
) -> DataFrame:
    """Consume path through the load balancer: pick this consumer's
    replica and read only that copy. Replica parity (every copy is
    byte-identical — fanout_write's exactly-once contract, proven by
    q_fanout_replicas) is what makes serving reads from ANY single
    follower correct."""
    return spark.read.parquet(replica_paths[pick_replica(consumer_id, len(replica_paths))])


def run_available_now(writer: DataStreamWriter) -> None:
    """Drain everything currently in the source, then stop (the batch-
    parity trigger used by tests)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


class StreamingGate:
    """Per-micro-batch quality gating for streaming writes: attach
    observed metrics (Spark Observation expressions) to the streaming
    DataFrame, collect them per batch from the progress events, and
    expose violations — the streaming face of
    ``operators/observe.QualityGate``.

    Metrics accumulate inside each micro-batch's execution (no extra
    pass over the stream); progress events deliver them to the driver
    after every batch. ``violations()`` replays the rules over every
    batch seen so far, so a pipeline can poll between batches or assert
    once at the end of an ``availableNow`` run.

    At scale this is how streaming ingest enforces contracts (null keys,
    empty payloads, late-data floods) without a second subscription on
    the topic.

    Listener delivery is ASYNCHRONOUS (the listener bus runs beside the
    query): call :meth:`wait` after ``awaitTermination`` before reading
    ``violations()``/``batches``, or the final batches' metrics may not
    have arrived yet."""

    _SEQ = [0]

    def __init__(self, name: str | None = None) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        # Default name is unique PER GATE: two gates sharing one metric
        # name on concurrent queries would silently collect each
        # other's rows (observedMetrics are matched by name only).
        self._SEQ[0] += 1
        self.name = name or f"stream_gate_{self._SEQ[0]}"
        self.batches: list[dict] = []
        self._rules: list[tuple[str, object, str]] = []
        self._attached = False
        gate = self

        class _Listener(StreamingQueryListener):
            # onQueryStarted/onQueryIdle are required listener hooks
            # with nothing to do for a metrics gate — the no-op bodies
            # are event handlers, not swallowed errors.
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                om = event.progress.observedMetrics
                row = om.get(gate.name)
                if row is not None:
                    gate.batches.append(row.asDict())

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                # A stream that dies with an exception must not vanish
                # silently — the gate's consumer would otherwise see an
                # empty batch list and no clue why.
                if getattr(event, "exception", None):
                    import logging

                    logging.getLogger(__name__).warning(
                        "streaming query terminated with exception "
                        "(gate=%s): %s",
                        gate.name,
                        event.exception,
                    )

        self._listener = _Listener()

    def attach(self, spark, df: DataFrame, **metrics) -> DataFrame:
        """Register the listener (once — re-attaching must not
        double-subscribe it, or every batch would be counted twice) and
        attach named metric expressions. Streaming DataFrames use the
        string-name observe form (an Observation object is
        batch-only)."""
        if not self._attached:
            spark.streams.addListener(self._listener)
            self._attached = True
        named = [expr.alias(n) for n, expr in metrics.items()]
        return df.observe(self.name, *named)

    def wait(self, n_batches: int, timeout_s: float = 20.0) -> bool:
        """Block until at least ``n_batches`` metric rows have arrived
        (or the timeout passes). The listener bus delivers progress
        events asynchronously, so a violations() read immediately after
        awaitTermination() can miss the final batches."""
        import time

        deadline = time.time() + timeout_s
        while len(self.batches) < n_batches and time.time() < deadline:
            time.sleep(0.1)
        return len(self.batches) >= n_batches

    def require(self, metric: str, pred, rule: str) -> "StreamingGate":
        self._rules.append((metric, pred, rule))
        return self

    def violations(self) -> list[tuple[int, str, object, str]]:
        """(batch_index, metric, value, rule) for every rule failure.

        Empty micro-batches (e.g. a source's startup batch) report
        count metrics as 0 and sum metrics as None — predicates must
        tolerate both (or the caller filters batches by n_rows).

        A rule whose metric name never appeared in ANY observed batch is
        itself reported as a violation (batch -1): a typo'd require()
        must fail the gate, not pass it vacuously."""
        out = []
        for i, row in enumerate(self.batches):
            for m, pred, rule in self._rules:
                if m in row and not pred(row[m]):
                    out.append((i, m, row[m], rule))
        if self.batches:
            seen = set().union(*(row.keys() for row in self.batches))
            for m, _pred, rule in self._rules:
                if m not in seen:
                    out.append((-1, m, None, f"metric never observed: {rule}"))
        return out

    def close(self, spark) -> None:
        spark.streams.removeListener(self._listener)
        # allow a later attach() to re-register — leaving _attached True
        # would make the next query's gate collect nothing and report
        # vacuously clean
        self._attached = False


def commit_stream_position(
    store: TopicStore,
    checkpoint: str,
    topic: str,
    consumer_id: str,
    group_id: str | None = None,
    generation: int | None = None,
) -> dict[int, int]:
    """Hand a STREAM's position over to a batch CONSUMER GROUP — the
    reverse of the ``ripple_topic`` source's ``start_at=consumer:<id>``
    bridge (A7/A8 in both directions): write the checkpoint's last
    COMMITTED per-bucket cursors into the consumer's offsets, so a
    batch ``consume()`` resumes at exactly the next undelivered seq
    without replaying anything the stream already processed.

    Reads the offset-WAL entry of the newest micro-batch that reached
    the commit log (offsets/N is written before batch N runs and holds
    its END cursors; commits/N exists only after the sink finished, so
    those cursors are fully delivered — the same pair of logs Spark
    itself recovers from). Raises if the checkpoint has no committed
    batch yet, or if the query subscribed to multiple sources and none
    (or more than one) carries cursors for ``topic``.

    With ``group_id`` + ``generation`` the handover is GROUP-FENCED
    through :meth:`TopicStore.commit_many`: every cursor bucket is
    pre-fenced against the group's CURRENT epoch, the whole set lands
    in ONE atomic file publish, and the fence is RE-VALIDATED after
    the write — a rebalance racing the handover rolls the entire set
    back and raises :class:`~ripple_server_spark.sources.topics.
    StaleGenerationError`, so there is never a partial or stale cursor
    set in a crash-free execution (Kafka zombie fencing extended to
    the stream-to-batch bridge; commit_many documents the residual
    crash-mid-rollback window).

    Returns the committed {bucket: next_seq} offsets.
    """
    import json

    ckpt = os.path.abspath(checkpoint)
    commit_dir = os.path.join(ckpt, "commits")
    batches = (
        [int(n) for n in os.listdir(commit_dir) if n.isdigit()]
        if os.path.isdir(commit_dir)
        else []
    )
    if not batches:
        raise ValueError(
            f"checkpoint {ckpt!r} has no committed micro-batch — nothing "
            "to hand over yet"
        )
    n = max(batches)
    with open(os.path.join(ckpt, "offsets", str(n))) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    # offset-WAL layout: "v1" header, query metadata JSON, then one
    # offset JSON per source
    named: list[dict] = []  # offsets that record their topic (r09+)
    legacy: list[dict] = []  # pre-stamp offsets: shape-only heuristic
    wrong: list[str] = []  # offsets provably tracking OTHER topics
    for ln in lines[2:]:
        try:
            off = json.loads(ln)
        except json.JSONDecodeError:
            continue
        if not isinstance(off, dict):
            continue
        if "cursors" in off:
            recorded = off.get("topic")
            if recorded == topic:
                named.append(off)
            elif recorded is not None:
                wrong.append(str(recorded))
            else:
                legacy.append(off)
        elif topic in off and isinstance(off[topic], dict) and "cursors" in off[topic]:
            named.append(off[topic])  # multi-topic offset, keyed by name
    if named:
        candidates = named
    elif wrong and not legacy:
        raise ValueError(
            f"checkpoint {ckpt!r} batch {n} tracked topic "
            f"{', '.join(sorted(set(wrong)))!s}, not {topic!r} — this "
            "checkpoint belongs to a different topic; committing its "
            "cursors would skip or replay arbitrary ranges"
        )
    else:
        # legacy checkpoints (offsets written before the topic stamp)
        # fall back to the uniqueness heuristic; the manifest-shape
        # validation below still guards against gross mismatches
        candidates = legacy
    if len(candidates) != 1:
        raise ValueError(
            f"checkpoint {ckpt!r} batch {n}: expected exactly one "
            f"ripple_topic source offset for topic {topic!r}, found "
            f"{len(candidates)} — hand over per-source checkpoints "
            "individually"
        )
    cursors = {
        int(b): int(c) for b, c in json.loads(candidates[0]["cursors"]).items()
    }
    # a single-topic offset does not record WHICH topic it tracks, so a
    # wrong checkpoint/topic pairing would silently skip or replay
    # arbitrary ranges — validate the cursors against the target
    # topic's manifest: bucket ids must exist and no cursor may exceed
    # the topic's high-water mark (review r08)
    n_buckets = int(store.topic_meta(topic)["n_buckets"])
    maxima = store._bucket_maxima(topic)
    for b, c in cursors.items():
        if b < 0 or b >= n_buckets:
            raise ValueError(
                f"checkpoint cursors name bucket {b}, but topic "
                f"{topic!r} has {n_buckets} buckets — is this "
                "checkpoint from a different topic?"
            )
        hwm = maxima.get(b, -1) + 1
        if c > hwm:
            raise ValueError(
                f"checkpoint cursor for bucket {b} is {c}, beyond topic "
                f"{topic!r}'s high-water mark {hwm} — is this "
                "checkpoint from a different topic?"
            )
    store.register_consumer(consumer_id, topic)
    # ONE atomic multi-bucket commit (commit_many): the whole cursor
    # set lands in a single file publish, pre-fenced AND re-validated
    # after the write — a rebalance racing the handover rolls the
    # entire set back and raises, never leaving a partial or stale
    # cursor set behind (ADVICE r10: the old fence-then-loop left the
    # check-to-write window open across the whole loop).
    store.commit_many(
        consumer_id, topic, cursors, group_id=group_id, generation=generation
    )
    return cursors
