"""Scan / project / filter / ranged-read / top-k / set ops.

These reproduce the reference's entire data-path query surface
(SURVEY.md §2 Table A): an offset-addressable ordered log with ranged
batch reads (``internal/broker/queue/queue.go:59-61`` SubArray,
``internal/broker/consumer/server/core.go:27-64`` AskQuery) — plus the
standard relational operators the reference lacks, expressed so each
one compiles to a pushed-down columnar scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ripple_server_spark.config import N_BUCKETS


def bucket_of(key: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Topic-bucket routing key (reference: internal/topic/topic.go:23-25
    routes by explicit bucket name; we derive bucket = pmod(key, n)).

    Scale: this is the table's physical partition key — co-partitioning
    producers and consumers by the same expression makes per-bucket FIFO
    reads partition-local (no shuffle).
    """
    return F.pmod(key, F.lit(n_buckets)).cast("int")


def ranged_read(df: DataFrame, seq_col: str, offset: int, count: int) -> DataFrame:
    """The Consume/SubArray semantics: ``count`` messages from ``offset``.

    Reference: ``queue.SubArray(offset, offset+count)`` with end clamped
    to len (pkg/utils/collection/concurrent_list.go:63-73), served in
    FIFO order (internal/broker/consumer/server/core.go:52-57).

    Scale: the ``seq >= offset`` predicate is pushed to the parquet scan
    (min/max row-group skipping), so resuming a consumer deep into a
    100 TB log reads only the tail files; the global sort is bounded by
    LIMIT (Spark plans a TakeOrderedAndProject, not a full sort).
    """
    return (
        df.filter(F.col(seq_col) >= F.lit(offset))
        .orderBy(seq_col)
        .limit(count)
    )


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Deterministic top-k: always pass tie-breaking columns in ``order``.

    Spark plans orderBy+limit as TakeOrderedAndProject: each partition
    keeps a k-row heap and the driver merges — no global sort/shuffle.
    """
    return df.orderBy(*order).limit(k)


def union_topics(*dfs: DataFrame) -> DataFrame:
    """Multi-topic merge (the reference has no cross-topic ops; a client
    subscribing to two topics sees an interleaved union). UNION ALL —
    no shuffle; partitions are simply concatenated."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
