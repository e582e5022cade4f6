"""The staging kernel and the one Arrow append: the one place sorted
rows become staged topic files, shared by every file-writing path of
the topic log. Its callers reach the kernel in one of two ways:

- ``topics._stage_by_bucket``'s exchange + JVM sort + ``mapInArrow``:
  ``TopicStore.produce`` of a distributed (non-local) DataFrame and the
  compactions;
- :func:`append_arrow`, which routes, sorts and stages rows already in
  memory as one Arrow table and commits them through
  ``manifest.append``: ``TopicStore.produce`` of a ``pyarrow.Table``
  or of a local relation (on the driver) and the native sink's write
  tasks (``datasink._task_append``, on the executors).

:func:`message_fields` is the one input check and recorded-schema rule
of both append surfaces (``produce`` and the sink): the routing key and
the ``(ts, event_id)`` FIFO order key must be present, and the key must
be an integer or a string holding one, the keys on which Spark's
``pmod`` and :func:`append_arrow`'s Arrow router agree.

The kernel owns the per-bucket split of sorted rows into runs, seq
assignment from the base maxima, the file naming
``bucket=<n>/<prefix>-<hex>.parquet``, the bounded row-group flush, and
the ``(bucket, n, rel, lo, hi)`` rows whose ``[lo, hi]`` become the
manifest's ``seq_ranges``.

Spark-free on purpose: it runs inside executor Python workers and on
the driver, with or without a SparkSession.
"""

from __future__ import annotations

import os
import uuid

from ripple_server_spark.sources import manifest

# Per-task staging buffer target: rows of the CURRENT bucket accumulate
# until this many Arrow bytes, then flush as one parquet row group — the
# kernel's memory bound (plus one in-flight Arrow batch). Small batches
# still land as one row group per file; a skewed batch whose rows all
# route to one bucket streams through in bounded memory instead of
# buffering the task's entire input.
FLUSH_BYTES = 64 << 20


def stage_kernel(
    data_dir: str,
    base: dict[int, int],
    file_cols: list[str],
    prefix: str = "prd",
    assign_seq: bool = True,
    flush_bytes: int = FLUSH_BYTES,
):
    """``batches -> [RecordBatch of (bucket, n, rel, lo, hi)]`` — a
    ``mapInArrow`` function, also called directly by
    :func:`append_arrow`.

    Input contract: the batches carry a ``bucket`` column, every bucket's
    rows arrive contiguously in one call (the caller partitions by
    bucket), and each bucket's rows are in FIFO order — (ts, event_id)
    ascending NULLS FIRST when assigning seqs, seq order otherwise. The
    kernel STREAMS: it walks the batches, assigns contiguous per-bucket
    seqs from ``base`` (bucket -> max seq) as running counters, and
    appends row groups to ONE open ``pq.ParquetWriter`` per bucket,
    buffering at most ``flush_bytes`` of the current bucket plus one
    Arrow batch. Files land straight in the live bucket dirs under
    collision-free names, invisible until the manifest commit; a failed
    or superseded attempt leaves only uniquely-named orphans that vacuum
    reclaims. Returns one (bucket, n, rel, lo, hi) row per file, where
    ``[lo, hi]`` is the file's seq range.

    pyarrow writes TIMESTAMP_MICROS with min/max statistics and snappy,
    so time predicates over topic files prune row groups; no Hadoop
    committer (its per-partition-dir driver renames cost ~0.3-0.5 s per
    produce at bench scale) is involved.

    An input ``seq`` column is dropped and recomputed at its position in
    ``file_cols``. ``assign_seq=False`` keeps the input ``seq`` verbatim
    (compaction's bucket rewrite). ``prefix`` names the staged files
    (``prd`` produce, ``cmp`` compaction, ``dsw`` native sink) so
    operators can attribute orphans."""

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


class AppendInputError(ValueError):
    """An append input the topic log cannot take: a missing routing or
    FIFO-order column, or a routing key that is not an integer (or a
    string holding one)."""


# Spark types of the routing keys every surface routes alike: Spark's
# pmod and the Arrow router below both read them as BIGINT. A
# fractional key would route by its truncation in one and fail in the
# other, so it is refused at entry instead.
_KEY_TYPES = ("tinyint", "smallint", "int", "bigint", "string", "void")


def message_fields(schema, key_col: str) -> list[str]:
    """The recorded message schema (``"name:type"`` entries) of an
    append input with Spark schema ``schema``, after the one input
    check of both append surfaces: ``key_col``, ``ts`` and ``event_id``
    must be columns, and the key must be an integer or a string holding
    one (:class:`AppendInputError` otherwise). ``bucket`` is a
    partition dir, not a file column, and is left out; ``seq`` keeps
    its position when the input carries one (a consume -> produce round
    trip), and is appended otherwise. The entries' names, in order, are
    the staged files' columns. Reads only the fields' names and
    ``dataType.simpleString()``."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    for req in (key_col, "ts", "event_id"):
        if req not in types:
            raise AppendInputError(
                f"a topic append requires column {req!r} (the routing key "
                "and the (ts, event_id) FIFO order key)"
            )
    if types[key_col] not in _KEY_TYPES:
        raise AppendInputError(
            f"routing key {key_col!r} has type {types[key_col]}: topics "
            "route integer keys (or strings holding one) by pmod(key, "
            "n_buckets), and refuse a fractional or other key rather "
            "than route its truncation"
        )
    types.pop("bucket", None)
    types["seq"] = "bigint"
    return [f"{n}:{t}" for n, t in types.items()]


def append_arrow(
    load,
    root: str,
    topic: str,
    key_col: str,
    fields: list[str],
    applied_id: str | None = None,
    producer_epoch: int | None = None,
    prefix: str = "prd",
) -> int:
    """The one append of in-memory Arrow rows: ``load() -> pyarrow.Table``
    is called once, inside the first staging, so a replayed
    ``applied_id`` loads nothing. The table drops any ``bucket``/``seq``
    it carries, is routed by the first base's ``n_buckets`` (bucket =
    pmod(key, n), NULL to 0: the one Arrow router), and is sorted once
    in the produce FIFO order. Every staging (the first and each
    seq-race restage) runs :func:`stage_kernel` over the same sorted
    rows with seqs from its base, and ``manifest.append`` commits them
    under ``fields`` (:func:`message_fields`; their names are the file
    columns). No Spark job, so it runs on the driver and in executor
    tasks alike. Returns the rows appended: 0 when nothing was
    committed.

    The Arrow sort holds the whole table, so callers pass only rows
    already in memory: one write task's input, or a batch that sits on
    the driver."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    data_dir = os.path.join(root, "topics", topic, "data")
    file_cols = [f.split(":", 1)[0] for f in fields]
    ordered = None  # the routed, sorted batch

    def stage(m: dict) -> dict[str, list[int]]:
        nonlocal ordered
        if ordered is None:
            tbl = load()
            tbl = tbl.drop_columns([c for c in ("bucket", "seq") if c in tbl.column_names])
            key = pc.fill_null(pc.cast(tbl[key_col], pa.int64()), 0)
            n = int(m["n_buckets"])
            bucket = (key.to_numpy(zero_copy_only=False) % n).astype(np.int32)
            # the produce FIFO order, NULLS FIRST like the JVM sort in
            # front of the exchange path's kernel (pyarrow's default
            # nulls-at-end would give NULL-ts rows the highest seqs here
            # but the lowest there; test-pinned)
            ordered = tbl.append_column("bucket", pa.array(bucket)).sort_by(
                [("bucket", "ascending"), ("ts", "ascending"), ("event_id", "ascending")],
                null_placement="at_start",
            )
        base = {int(b): int(x) for b, x in m.get("maxima", {}).items()}
        kernel = stage_kernel(data_dir, base, file_cols, prefix=prefix)
        return staged_ranges(
            r for rb in kernel(iter(ordered.to_batches())) for r in rb.to_pylist()
        )

    committed = manifest.append(
        root, topic, stage, fields, applied_id=applied_id, producer_epoch=producer_epoch
    )
    return 0 if committed is None else ordered.num_rows


def staged_ranges(staged) -> dict[str, list[int]]:
    """``{rel: [lo, hi]}`` of staging-kernel rows — the ``seq_ranges``
    entries the commit adding these files records."""
    return {r["rel"]: [int(r["lo"]), int(r["hi"])] for r in staged}
