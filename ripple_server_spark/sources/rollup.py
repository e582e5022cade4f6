"""Incrementally-maintained rollups (continuous aggregates) over topic
logs — the hypertable-rollup / materialized-view-maintenance surface.

The reference has a TODO for periodic batch jobs over its queues
(`internal/broker/broker.go:51,79`, cron wiring `internal/cronjob/
cronjob.go:28-37`) that was never implemented; this is that capability
done Spark-first: a parquet aggregate table partitioned by hour that a
scheduler (cron trigger / `Trigger(availableNow)`) refreshes cheaply.

Refresh strategy — *recompute affected partitions*:

1. The seq high-water mark per bucket (from the last refresh) bounds
   the NEW slice of the log. The tail is read through the topic
   store's one manifest-planned scan: only files whose recorded seq
   range reaches past a bucket's mark are opened, a bucket with no
   mark (its first rows arrived after the last refresh) is read whole,
   and the lowest mark prunes row groups inside large compacted files,
   so discovering what changed reads only the log tail, never the
   history.
2. Only the hours PRESENT in that new slice are recomputed — from the
   base log, so refresh is idempotent: re-running after a crash between
   data write and state write just rewrites the same partitions with
   the same bytes. (The alternative — merging delta partials into the
   old rollup — saves the base re-read but double-counts on replay
   unless the state commit is transactional with the write; recompute
   is the right default without a transactional table format.)
3. The rewrite uses dynamic partition overwrite: untouched hours keep
   their files; the job writes exactly ``|affected hours|`` partitions.

At 100 TB: the tail read is bounded by produce rate × refresh interval,
the recompute by rows-per-hour × affected hours (late data touches old
hours but only the ones it lands in), and the output write by the
rollup's own (tiny) size. Nothing scans the full log after the first
refresh.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ripple_server_spark.sources.topics import TopicStore

HOUR_FMT = "yyyy-MM-dd-HH"


def _fold(log: DataFrame, hours: list[str] | None = None) -> DataFrame:
    """The rollup's aggregate of ``log`` rows, per (hour, event_type);
    restricted to ``hours`` when given."""
    keyed = log.withColumn("hour_key", F.date_format("ts", HOUR_FMT))
    if hours is not None:
        keyed = keyed.filter(F.col("hour_key").isin(hours))
    return keyed.groupBy("hour_key", "event_type").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


class HourlyRollup:
    """Continuous per-(hour, event_type) aggregate of one topic."""

    def __init__(self, spark: SparkSession, store: TopicStore, topic: str, dest: str):
        self.spark = spark
        self.store = store
        self.topic = topic
        self.dest = dest
        os.makedirs(dest, exist_ok=True)

    def _state_path(self) -> str:
        return os.path.join(self.dest, "_rollup_state.json")

    def _load_state(self) -> tuple[dict[int, int], object]:
        """(hwm map, restore marker at last refresh). Accepts the
        legacy flat {bucket: hwm} layout."""
        if not os.path.exists(self._state_path()):
            return {}, None
        with open(self._state_path()) as f:
            raw = json.load(f)
        if "hwm" in raw:
            return {int(k): v for k, v in raw["hwm"].items()}, raw.get("restore")
        return {int(k): v for k, v in raw.items()}, None

    def refresh(self) -> dict:
        """Fold all log rows newer than the high-water mark into the
        rollup. Returns {"hours_refreshed": k, "new_rows": n}."""
        # ONE manifest read serves both the folded snapshot and the new
        # high-water mark: taking maxima from a separate (possibly
        # newer) read would advance the HWM past rows a concurrent
        # produce landed AFTER our snapshot — silently never folded.
        _v, manifest = self.store.latest_manifest(self.topic)
        hwm, seen_restore = self._load_state()
        maxima = {
            int(b): x for b, x in manifest.get("maxima", {}).items()
        }
        # A restore between refreshes rewinds the seq high-water marks,
        # so "seq > hwm" no longer means "new" (reused seqs would be
        # silently never folded — the same continuity break
        # read_increment() refuses on). The rollup can self-heal
        # instead: drop the HWM, clear the aggregate table, and rebuild
        # from the restored snapshot — clearing matters because dynamic
        # partition overwrite only rewrites hours PRESENT in the
        # restored log, and an hour whose rows were entirely rolled
        # back would otherwise keep serving rolled-back aggregates
        # forever.
        restored = bool(hwm) and manifest.get("restored_from") != seen_restore
        if restored:
            hwm = {}
            shutil.rmtree(os.path.join(self.dest, "data"), ignore_errors=True)
            # crash-safe: the old state (with the stale restore marker)
            # survives until the normal post-write commit below, so a
            # crash anywhere in the rebuild re-detects the restore and
            # rebuilds again

        if not manifest.get("files"):
            # nothing retained (never produced, or restored/truncated to
            # empty): there are no event columns to aggregate — and after
            # a restore-to-empty the cleared table must STAY empty, with
            # the marker committed so later refreshes don't re-detect it
            if restored:
                self._write_state(maxima, manifest)
            return {"hours_refreshed": 0, "new_rows": 0}

        log_after = functools.partial(self.store._read, self.topic, manifest)
        if hwm:
            # The tail: rows past the saved HWM, planned per bucket from
            # the manifest's seq ranges (a bucket absent from the map
            # first got rows after the last refresh and is read whole).
            # ONE job over it yields both the affected hours and the
            # new-row count.
            hour_counts = (
                log_after(hwm)
                .groupBy(F.date_format("ts", HOUR_FMT).alias("hk"))
                .agg(F.count("*").alias("c"))
                .collect()
            )
            hours = [r["hk"] for r in hour_counts]
            n_new = sum(r["c"] for r in hour_counts)
            if hours:
                self._write_hours(_fold(log_after({}), hours))
        else:
            # First refresh (or post-restore rebuild): every log row is
            # new, so the fold itself already yields both the affected
            # hours and the new-row count — ONE full pass over the log
            # instead of a separate hour-count scan plus the fold
            # (guide §1.2: remove whole passes before tuning anything).
            written = self._write_hours(_fold(log_after({})))
            hours = [h for h, _ in written]
            n_new = sum(c for _, c in written)
        if not hours:
            if restored:
                # restored-to-empty: the table was cleared above and
                # stays empty; commit the new marker so later refreshes
                # don't re-detect the same restore
                self._write_state(maxima, manifest)
            return {"hours_refreshed": 0, "new_rows": 0}
        # State commits AFTER the data write: a crash in between replays
        # the same hours idempotently on the next refresh. The restore
        # marker rides along so the next refresh can detect a rollback.
        self._write_state(maxima, manifest)
        return {"hours_refreshed": len(hours), "new_rows": n_new}

    def _write_hours(self, rolled: DataFrame) -> list[tuple[str, int]]:
        """Write the folded hours as ``data/hour_key=H/part-00000.parquet``
        — the SAME layout ``partitionBy("hour_key")`` produced — via
        direct per-hour pyarrow writes in the executors, returning
        ``[(hour_key, folded_log_rows)]``.

        Why not ``df.write.partitionBy``: the Hadoop commit protocol
        serializes one driver-side rename (plus existence checks) per
        partition directory, ~20 ms each — linear in |affected hours|,
        and at a month of hourly partitions it was ~4 s of the refresh,
        dwarfing the actual fold (measured sf0.1: 216-dir commit 4.1 s
        vs 0.3 s flat write of the same rows; guide §6 "small files
        hurt twice... commit overhead"). Here each task writes its
        hours' files straight to their final directories:

        - one file per hour (the repartition below puts an hour's rows
          in exactly one task), DETERMINISTIC name, so a replaced hour
          OVERWRITES its previous file via atomic ``os.replace`` — the
          dynamic-partition-overwrite semantics, without the committer;
        - stale extra files in a replaced hour dir (older layouts,
          crashed attempts) are removed after the new file lands;
        - a crash mid-job leaves some hours new and some old — exactly
          the window the state-commits-after-data protocol already
          covers: the HWM is unchanged, so the next refresh recomputes
          and rewrites the same hours idempotently (test_rollup
          replay test);
        - task retries/speculation write to a uuid temp then replace:
          last attempt wins with identical content.
        """
        data_dir = os.path.join(self.dest, "data")
        os.makedirs(data_dir, exist_ok=True)
        part_name = "part-00000.parquet"

        def write_hours(batches):
            import uuid

            import pandas as pd
            import pyarrow as pa

            from ripple_server_spark.sources import fsio

            chunks = [b for b in batches if len(b)]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            schema = pa.schema(
                [
                    ("event_type", pa.string()),
                    ("n", pa.int64()),
                    ("sum_value", pa.float64()),
                    ("min_value", pa.float64()),
                    ("max_value", pa.float64()),
                ]
            )
            out = []
            fs = fsio.DATA_FS
            for hk, grp in pdf.groupby("hour_key", sort=False):
                hdir = os.path.join(data_dir, f"hour_key={hk}")
                fs.makedirs(hdir)
                tbl = pa.Table.from_pandas(
                    grp.drop(columns=["hour_key"]),
                    schema=schema,
                    preserve_index=False,
                )
                tmp = os.path.join(hdir, f".tmp-{uuid.uuid4().hex[:12]}")
                fs.write_table(tbl, tmp)
                fs.replace(tmp, os.path.join(hdir, part_name))
                for entry in fs.listdir(hdir):
                    if entry != part_name and not entry.startswith(".tmp-"):
                        try:
                            fs.remove(os.path.join(hdir, entry))
                        except OSError:
                            pass
                out.append((hk, int(grp["n"].sum())))
            yield pd.DataFrame(out, columns=["hour_key", "folded_rows"])

        # one task per hour (hash on the partition value); the write
        # result is hour-level stats — |hours| rows — so the collect
        # that drives the job is bounded by the rollup's own size
        return [
            (r["hour_key"], r["folded_rows"])
            for r in rolled.repartition("hour_key")
            .mapInPandas(write_hours, "hour_key string, folded_rows bigint")
            .collect()
        ]

    def _write_state(self, maxima: dict, manifest: dict) -> None:
        # atomic (tmp + rename): a crash mid-dump must leave the
        # previous state readable, not a truncated JSON that breaks
        # every later refresh
        path = self._state_path()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "hwm": {str(b): m for b, m in maxima.items()},
                    "restore": manifest.get("restored_from"),
                },
                f,
            )
        os.replace(tmp, path)

    # partition column (hour_key) LAST — the order spark.read.parquet
    # yields for a partitioned table, so the empty frame's schema equals
    # the folded table's
    ROLLUP_DDL = (
        "event_type string, n bigint, sum_value double, "
        "min_value double, max_value double, hour_key string"
    )

    def read(self) -> DataFrame:
        data = os.path.join(self.dest, "data")
        if not os.path.isdir(data) or not any(
            e.startswith("hour_key=") for e in os.listdir(data)
        ):
            # nothing folded yet (or restored-to-empty): an empty typed
            # frame, not a PATH_NOT_FOUND crash for a scheduler that
            # reads before the first produce
            return self.spark.createDataFrame([], self.ROLLUP_DDL)
        return self.spark.read.parquet(data)
