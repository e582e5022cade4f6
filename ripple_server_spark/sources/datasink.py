"""Native write path for the ``ripple_topic`` DataSource (A5 produce).

Gives ``df.write.format("ripple_topic")`` and
``df.writeStream.format("ripple_topic")`` first-class parity with the
read side — the same API tier Kafka's Spark connector has — without
importing engine helpers:

    df.write.format("ripple_topic").mode("append")
      .option("root", root).option("topic", "t1").save()

    (df.writeStream.format("ripple_topic")
       .option("root", root).option("topic", "t1")
       .option("checkpointLocation", ckpt).start())

Reference semantics: the produce path (internal/broker/producer/
server/core.go:21-34 + queue.Push queue.go:49-51) — append assigning
each bucket a contiguous, gap-free per-bucket ``seq``.

Execution model — EVERY write task is an independent producer client:

- each task buffers its Arrow batches and hands them to
  ``staging.append_arrow``, the SAME append a ``TopicStore.produce`` of
  a ``pyarrow.Table`` or of a local relation runs on the driver: one
  Arrow router (``pmod(key, n_buckets)``, NULL -> 0), one sort by
  (bucket, ts, event_id) NULLS FIRST, the staging kernel
  (``staging.stage_kernel``: seq assignment, file naming, row-group
  flush, seq ranges) and the SAME transaction (``manifest.append``:
  epoch check, applied-id idempotence, atomic claim of version v+1,
  seq-race restage) — all executor-side, rows never pass through the
  driver;
- the input is checked once, on the driver, before any task runs
  (``staging.message_fields`` in :func:`_writer_common`, the check
  ``produce`` runs too): the routing key and ``ts``/``event_id`` must
  be columns, and a fractional key (FLOAT, DOUBLE, DECIMAL) is refused
  with ``staging.AppendInputError``; the recorded schema follows
  produce's rule (an input ``seq`` keeps its position);
- seqs stay contiguous per bucket: a task claims ``[maxima+1, +n)``
  atomically with its manifest commit; on a lost race it restages its
  sorted rows through the kernel with seqs from the new base and
  retries, scoped to one task's rows;
- FIFO within a bucket = task commit order, each task's rows internally
  ordered by (ts, event_id) — the arrival-order contract of the
  reference's per-bucket queue under concurrent producers.

Delivery semantics (documented, test-pinned):

- **task-atomic, idempotent task retry**: a task's rows commit in one
  manifest version or not at all; retried/speculative attempts no-op on
  the per-partition applied id (checked at entry AND inside the commit).
- **batch writes**: with ``option("batch_id", ...)`` a re-run of the
  whole job is idempotent per partition (Kafka-sink parity plus ids);
  without it, a failed job leaves the committed prefix of tasks visible
  — exactly the Kafka sink's at-least-once contract. The whole-batch
  transactional form is :meth:`TopicStore.produce` (one commit for the
  entire batch).
- **streaming writes**: the per-task applied id is
  ``dsw/<producer_id>#b<batchId>/p<partition>`` (batch id from the
  ``streaming.sql.batchId`` task property, producer id from the
  ``producer_id`` option or derived from ``checkpointLocation``), so a
  replayed micro-batch — crash between sink write and checkpoint
  commit — is a per-task no-op: EXACTLY-ONCE whenever the replayed
  batch re-partitions deterministically (true for ``ripple_topic``
  sources, which replay pinned manifest snapshots), at-least-once under
  a nondeterministic upstream (Spark's general sink bound). The
  idempotency window is BOUNDED: applied ids are retained for the
  newest 4096 commits (manifests are full snapshots, so retention is a
  size/exactness tradeoff) — a replay arriving after more than 4096
  interleaved commits re-appends; size tasks-per-trigger well below
  that.

Scale notes: commit throughput is bounded by the manifest log — the
same single-leader-log bound the reference's one-broker produce path
has; rows/bytes scale with executors (each task writes its own parquet
directly into the bucket dirs; files are invisible until its manifest
commit), only the O(KB) manifest commits serialize. Bulk backfills
should prefer ``TopicStore.produce`` (one commit per batch); the sink
is the per-micro-batch/streaming tier where tasks-per-commit is small.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ripple_server_spark.config import N_BUCKETS
from ripple_server_spark.sources import manifest, staging


class TaskCommit(WriterCommitMessage):
    """Rows committed by one write task (0 when the task had no rows or
    no-op'd on its applied id)."""

    def __init__(self, rows: int):
        self.rows = rows


def _task_append(
    root: str,
    topic: str,
    key_col: str,
    applied_id: str,
    batches: Iterator,
    fields: list[str],
    producer_epoch: int | None = None,
) -> TaskCommit:
    """Append one task's Arrow batches as a producer transaction through
    ``staging.append_arrow``, executor-side. A task with no rows commits
    nothing (no version, no applied id). Raced/leftover staged files are
    crash-orphan-equivalent (vacuum reclaims them).

    ``producer_epoch`` (``option("producer_epoch", N)``) opts this
    transaction into topic-level producer fencing, checked at entry AND
    inside the commit (VERDICT r10 item 6; mirrors produce()).
    """
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return TaskCommit(0)
    tbl = pa.Table.from_batches(batches)
    return TaskCommit(
        staging.append_arrow(
            lambda: tbl,
            root,
            topic,
            key_col,
            fields,
            applied_id=applied_id,
            producer_epoch=producer_epoch,
            prefix="dsw",
        )
    )


# -- writer classes ---------------------------------------------------------


def _writer_common(options: dict, schema: StructType, overwrite: bool):
    if overwrite:
        raise ValueError(
            "ripple_topic is an append-only log (reference produce is "
            "Push-only, queue.go:49-51): use mode('append')"
        )
    root = options["root"]
    if "topic" not in options:
        raise ValueError(
            "ripple_topic writes need option('topic', <name>) — "
            "subscribePattern is a READ subscription form"
        )
    topics = [t.strip() for t in options["topic"].split(",") if t.strip()]
    if len(topics) != 1:
        raise ValueError("ripple_topic writes go to exactly one topic")
    key_col = options.get("key_col", "user_id")
    # checked here, on the driver, before any task runs; the recorded
    # MESSAGE schema is what produce records for the same input, so a
    # sink-established topic's empty-frame DDL carries seq (poll()
    # orders on it) and a produce() after a sink write records no
    # spurious schema evolution (review r08 finding)
    fields = staging.message_fields(schema, key_col)
    create = str(options.get("create_topic", "false")).lower() == "true"
    n_buckets = int(options.get("n_buckets", N_BUCKETS))
    epoch = options.get("producer_epoch")
    producer_epoch = int(epoch) if epoch is not None else None
    return root, topics[0], key_col, fields, create, n_buckets, producer_epoch


class RippleTopicBatchWriter(DataSourceArrowWriter):
    """``df.write.format("ripple_topic").mode("append")`` — see module
    docstring for the per-task producer model and delivery semantics."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        (
            self.root,
            self.topic,
            self.key_col,
            self.fields,
            self.create,
            self.n_buckets,
            self.producer_epoch,
        ) = _writer_common(options, schema, overwrite)
        # one token per job (generated once driver-side, pickled into
        # every task); option('batch_id') pins it so a re-run of the
        # same job is per-partition idempotent
        self.batch_token = options.get("batch_id") or f"job-{uuid.uuid4().hex[:16]}"

    def write(self, iterator) -> TaskCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if self.create:
            manifest.create(self.root, self.topic, self.n_buckets)
        return _task_append(
            self.root,
            self.topic,
            self.key_col,
            f"dsw/{self.batch_token}/p{pid}",
            iterator,
            self.fields,
            producer_epoch=self.producer_epoch,
        )

    def commit(self, messages) -> None:
        pass  # tasks committed through the manifest; nothing to finalize

    def abort(self, messages) -> None:
        # Kafka-sink contract: tasks that committed stay committed (no
        # distributed rollback of an append-only log); the retry of the
        # job no-ops those partitions when batch_id is pinned.
        pass


class RippleTopicStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("ripple_topic")`` — exactly-once per
    (producer, micro-batch, partition): see module docstring."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        (
            self.root,
            self.topic,
            self.key_col,
            self.fields,
            self.create,
            self.n_buckets,
            self.producer_epoch,
        ) = _writer_common(options, schema, overwrite)
        producer = options.get("producer_id")
        if producer is None:
            # normalized: 'ckpt' and 'ckpt/' name the same checkpoint
            # and must yield the same idempotency ids
            ckpt = options.get("checkpointlocation") or options.get(
                "checkpointLocation"
            )
            if ckpt is None:
                raise ValueError(
                    "ripple_topic stream sink needs option('producer_id') "
                    "or a checkpointLocation to derive replay-stable "
                    "idempotency ids from"
                )
            producer = os.path.abspath(ckpt)
        self.producer_id = producer

    def write(self, iterator) -> TaskCommit:
        from pyspark import TaskContext

        tc = TaskContext.get()
        batch_id = tc.getLocalProperty("streaming.sql.batchId")
        if batch_id is None:
            raise RuntimeError(
                "streaming.sql.batchId task property missing — cannot "
                "build a replay-stable idempotency id"
            )
        if self.create:
            manifest.create(self.root, self.topic, self.n_buckets)
        return _task_append(
            self.root,
            self.topic,
            self.key_col,
            f"dsw/{self.producer_id}#b{batch_id}/p{tc.partitionId()}",
            iterator,
            self.fields,
            producer_epoch=self.producer_epoch,
        )

    def commit(self, messages, batchId: int) -> None:
        pass  # tasks committed through the manifest (see module doc)

    def abort(self, messages, batchId: int) -> None:
        # replay of this batchId no-ops the partitions that committed
        # (per-task applied ids) and lands the rest — net effect is
        # exactly-once under deterministic re-partitioning
        pass
