"""``stream_tail``: an open-loop producer feeding a streaming dedup
pipeline.

One producer thread produces a small seeded batch into topic ``in``
in every ``INTERVAL_S`` slot, at a seeded random point of the slot;
each batch is generated before it is due and timed from when it was
due. The pipeline is ``readStream.format("ripple_topic")`` (partitioned tier,
``batch_size`` cap) -> ``streaming.api.dedup_stream`` ->
``writeStream.format("ripple_topic")`` into topic ``out``. A seeded
share of every batch is redelivered copies of recent rows, placed
inside the watermark horizon, so dedup must drop exactly those.

The workload's tail latency (due time -> completion of the micro-batch
that delivered the batch's rows in a bucket) is reported as
``delivery_p50_ms`` / ``delivery_p90_ms``, the names ``pubsub_closed``
uses for the same question.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen
from perfbench.common import Phase, manifest_stats
from perfbench.engine import wait_until
from perfbench.stats import match_deliveries, median, percentile, touched
from ripple_server_spark.sources.datasource import RippleTopicDataSource
from ripple_server_spark.sources.topics import TopicStore
from ripple_server_spark.streaming.api import dedup_stream

# Fresh rows per batch; duplicates come on top. Offered rate = ROWS *
# 1.1 / INTERVAL_S = 3.5k rows/s, about half of the highest rate a load
# sweep saw sustained on 4 CPUs (6.6k rows/s; see NOTES.md).
ROWS = 4800
# Send slot. A produce costs ~0.6 s on 4 busy CPUs almost regardless
# of size, so a slot leaves the producer idle over half the time and a
# slow patch of the machine does not push every later batch past its
# due time.
INTERVAL_S = 1.5
BATCH_SIZE = 2000  # source admission cap, seqs per bucket per trigger
N_BUCKETS = 8
CATCH_UP_TIMEOUT_S = 60.0


class _Progress(StreamingQueryListener):
    """Collects every progress report, parsed, keyed by query id."""

    def __init__(self) -> None:
        self.reports: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.reports.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return list(self.reports.get(query_id, ()))


@dataclass
class Ctx:
    engine: object
    store: TopicStore
    plan: gen.StreamPlan
    listener: _Progress
    root: str
    primed: dict = field(default_factory=dict)  # tag -> running query


def _wall(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _completion(p: dict) -> float:
    return _wall(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3


def _cursors(p: dict) -> dict[int, int]:
    end = p["sources"][0].get("endOffset") or {}
    return {int(b): int(c) for b, c in json.loads(end.get("cursors", "{}")).items()}


def _start(ctx: Ctx, tag: str):
    spark = ctx.engine.spark
    src = (
        spark.readStream.format("ripple_topic")
        .option("root", ctx.root)
        .option("topic", f"in_{tag}")
        .option("batch_size", BATCH_SIZE)
        .load()
    )
    return (
        dedup_stream(src)
        .writeStream.format("ripple_topic")
        .option("root", ctx.root)
        .option("topic", f"out_{tag}")
        .option("checkpointLocation", os.path.join(ctx.root, f"ckpt_{tag}"))
        .start()
    )


def _produce(ctx: Ctx, topic: str, index: int) -> None:
    df = ctx.engine.spark.createDataFrame(ctx.plan.batch(index))
    ctx.store.produce(df, topic, batch_id=f"b{index}")


def _covered(ctx: Ctx, query, maxima: dict[int, int]) -> bool:
    reports = ctx.listener.of(str(query.id))
    if not reports:
        return False
    cur = _cursors(reports[-1])
    return all(cur.get(b, 0) > mx for b, mx in maxima.items())


def _prime(ctx: Ctx, tag: str):
    """Create the phase's topics, start the query and push batch 0
    through it, so the timed loop starts on a running pipeline."""
    for t in (f"in_{tag}", f"out_{tag}"):
        ctx.store.create_topic(t, n_buckets=N_BUCKETS)
    query = _start(ctx, tag)
    _produce(ctx, f"in_{tag}", 0)
    maxima = manifest_stats(ctx.store, f"in_{tag}")[3]
    if not wait_until(lambda: _covered(ctx, query, maxima), CATCH_UP_TIMEOUT_S):
        raise RuntimeError("stream did not process the priming batch")
    return query


def setup(engine, work_dir: str, seed: int) -> Ctx:
    """Register the source and listener, generate the priming batch and
    prime the first measured phase's pipeline (topics ``in_a`` and
    ``out_a``), which runs the whole path once."""
    spark = engine.spark
    spark.dataSource.register(RippleTopicDataSource)
    listener = _Progress()
    spark.streams.addListener(listener)
    root = os.path.join(work_dir, "topics")
    ctx = Ctx(engine, TopicStore(spark, root), gen.StreamPlan(seed, ROWS), listener, root)
    ctx.primed["a"] = _prime(ctx, "a")
    return ctx


def teardown(ctx: Ctx) -> None:
    for q in ctx.engine.spark.streams.active:
        q.stop()
    ctx.engine.spark.streams.removeListener(ctx.listener)


def measure(ctx: Ctx, seconds: float, tracer, traced: bool, tag: str) -> Phase:
    store, engine = ctx.store, ctx.engine
    topic_in, topic_out = f"in_{tag}", f"out_{tag}"
    query = ctx.primed.pop(tag, None) or _prime(ctx, tag)
    v_in0, _files, _bytes, prev = manifest_stats(store, topic_in)
    v_out0 = store.latest_manifest(topic_out)[0]
    n_prime = len(ctx.listener.of(str(query.id)))

    produce_ms, manifest_ms, lateness_ms, produce_jobs = [], [], [], []
    thresholds: list[tuple[int, float, dict[int, int]]] = []
    maxima_log: list[tuple[float, dict[int, int]]] = []
    failures: list[str] = []
    rows_offered = 0
    t0 = time.time() + INTERVAL_S
    i = 1
    while True:
        due = t0 + (i - 1 + ctx.plan.arrival(i)) * INTERVAL_S
        if due > t0 + seconds:
            break
        batch = ctx.plan.batch(i)
        time.sleep(max(0.0, due - time.time()))
        lateness_ms.append(max(0.0, time.time() - due) * 1e3)
        df = engine.spark.createDataFrame(batch)
        try:
            with tracer.span("op.produce", f"b{i}"):
                p0 = time.perf_counter()
                jobs = engine.jobs(produce_jobs) if traced else contextlib.nullcontext()
                with tracer.span("sources.topics.produce"), jobs:
                    store.produce(df, topic_in, batch_id=f"b{i}")
                p1 = time.perf_counter()
                with tracer.span("sources.topics.latest_manifest"):
                    _v, m = store.latest_manifest(topic_in)
                p2 = time.perf_counter()
        except Exception as e:  # counted, and fails the correctness check
            failures.append(f"produce b{i}: {e!r}")
            break
        produce_ms.append((p1 - p0) * 1e3)
        manifest_ms.append((p2 - p1) * 1e3)
        maxima = {int(b): int(x) for b, x in m["maxima"].items()}
        thresholds.append((i, due, touched(prev, maxima)))
        maxima_log.append((time.time(), maxima))
        prev = maxima
        rows_offered += batch.num_rows
        i += 1
    n_batches = i  # batches 0..i-1 went in, 0 being the priming batch
    t_end = time.time()
    if not wait_until(lambda: _covered(ctx, query, prev), CATCH_UP_TIMEOUT_S):
        failures.append("stream did not catch up with the producer in time")
    query.stop()

    reports = [p for p in ctx.listener.of(str(query.id))[n_prime:] if p["numInputRows"] > 0]
    ph = Phase()
    ph.attempted = len(produce_ms) + len(reports) + len(failures)  # produces, micro-batches
    ph.failed = len(failures)
    ph.errors.extend(failures)

    deliveries = match_deliveries(thresholds, [(_completion(p), _cursors(p)) for p in reports])
    n_pairs = sum(len(t[2]) for t in thresholds)
    if len(deliveries) != n_pairs:
        ph.errors.append(f"delivered {len(deliveries)} of {n_pairs} (batch, bucket) pairs")
    ph.latency("delivery", [d[2] * 1e3 for d in deliveries])
    if not traced:
        print("stream_tail: delivery_* is the tail latency, from each batch's due time")
    ph.latency("produce", produce_ms)
    ph.e2e["offered_rows_per_s"] = (rows_offered / (t_end - t0), "rows/s", len(produce_ms))

    dropped_late = sum(
        sum(op.get("numRowsDroppedByWatermark", 0) for op in p.get("stateOperators", ()))
        for p in reports
    )
    ph.errors.extend(_verify(ctx, topic_out, n_batches, dropped_late))

    if traced:
        _record_microbatches(tracer, reports)
    dur = [p["durationMs"] for p in reports]
    state = [p["stateOperators"][0] for p in reports if p.get("stateOperators")]
    rows_in = sum(p["numInputRows"] for p in reports)
    dup_dropped = sum(s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for s in state)
    v_in, files_in, bytes_in, maxima_in = manifest_stats(store, topic_in)
    v_out, files_out, _bytes_out, maxima_out = manifest_stats(store, topic_out)
    per_bucket = [maxima_in.get(b, -1) + 1 for b in range(N_BUCKETS)]
    busy_s = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
    ph.layer.update(
        {
            "loadgen.lateness_p90_ms": (percentile(lateness_ms, 90), "ms"),
            "loadgen.rows_offered": (float(rows_offered), "rows"),
            "topics.produce.p50_ms": (median(produce_ms), "ms"),
            "topics.latest_manifest.p50_ms": (median(manifest_ms), "ms"),
            "topics.manifest.versions_per_produce": ((v_in - v_in0) / max(1, len(produce_ms)), "count"),
            "topics.manifest.files_end": (float(files_in), "count"),
            "topics.manifest.bytes_end": (float(bytes_in), "bytes"),
            "topics.bucket_skew": (max(per_bucket) / (sum(per_bucket) / N_BUCKETS), "ratio"),
            "source.microbatches": (float(len(reports)), "count"),
            "source.rows_per_batch_p50": (median([p["numInputRows"] for p in reports]), "rows"),
            "source.latest_offset_p50_ms": (median([d.get("latestOffset", 0) for d in dur]), "ms"),
            "source.backlog_rows_p90": (_backlog_p90(reports, maxima_log), "rows"),
            "stream.query_planning_p50_ms": (median([d.get("queryPlanning", 0) for d in dur]), "ms"),
            "stream.add_batch_p50_ms": (median([d.get("addBatch", 0) for d in dur]), "ms"),
            "stream.wal_commit_p50_ms": (median([d.get("walCommit", 0) for d in dur]), "ms"),
            "stream.commit_offsets_p50_ms": (median([d.get("commitOffsets", 0) for d in dur]), "ms"),
            "stream.trigger_p90_ms": (percentile([d.get("triggerExecution", 0) for d in dur], 90), "ms"),
            "stream.idle_share": (max(0.0, 1.0 - busy_s / (t_end - t0)), "ratio"),
            "state.rows_total_end": (float(state[-1].get("numRowsTotal", 0)), "rows"),
            "state.memory_bytes_end": (float(state[-1].get("memoryUsedBytes", 0)), "bytes"),
            "state.commit_p50_ms": (median([s.get("commitTimeMs", 0) for s in state]), "ms"),
            "state.rows_dropped_by_watermark": (float(dropped_late), "rows"),
            "dedup.drop_share": (dup_dropped / max(1, rows_in), "ratio"),
            "sink.manifest_commits_per_batch": ((v_out - v_out0) / max(1, len(reports)), "count"),
            "sink.rows_written": (float(sum(m + 1 for m in maxima_out.values())), "rows"),
            "sink.files_end": (float(files_out), "count"),
        }
    )
    if traced:
        ph.layer["topics.produce.jobs_per_call"] = (median(produce_jobs), "count")
    return ph


def _backlog_p90(reports: list[dict], maxima_log) -> float:
    """p90 over micro-batches of (input maxima known when the batch
    completed) minus its endOffset cursors, summed over buckets."""
    backlog = []
    for p in reports:
        done = _completion(p)
        known = [m for t, m in maxima_log if t <= done]
        if not known:
            continue
        cur = _cursors(p)
        backlog.append(sum(max(0, mx + 1 - cur.get(b, 0)) for b, mx in known[-1].items()))
    return percentile(backlog, 90) if backlog else 0.0


def _record_microbatches(tracer, reports: list[dict]) -> None:
    """Micro-batch spans from progress ``durationMs``: the trigger and
    its phases laid end to end from the trigger start (the phases run
    one after another inside the trigger)."""
    offset = time.perf_counter() - time.time()
    for p in reports:
        start = _wall(p["timestamp"]) + offset
        d = p["durationMs"]
        root = tracer.record("stream.trigger", start, start + d.get("triggerExecution", 0) / 1e3, p["batchId"])
        t = start
        for phase in ("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch", "commitOffsets"):
            ms = d.get(phase, 0)
            tracer.record(f"stream.{phase}", t, t + ms / 1e3, p["batchId"], root)
            t += ms / 1e3


def _verify(ctx: Ctx, topic_out: str, n_batches: int, dropped_late: int) -> list[str]:
    """``out`` holds exactly the generator's distinct event ids, once
    each, and the watermark dropped nothing."""
    errors = []
    _v, m = ctx.store.latest_manifest(topic_out)  # the files the sink committed
    data = ctx.store.data_dir(topic_out)
    got = np.concatenate(
        [pq.read_table(os.path.join(data, f), columns=["event_id"])["event_id"].to_numpy() for f in m["files"]]
        or [np.empty(0, np.int64)]
    )
    want = np.concatenate([ctx.plan.fresh(i)["event_id"].to_numpy() for i in range(n_batches)])
    if len(np.unique(got)) != len(got):
        errors.append(f"out holds {len(got) - len(np.unique(got))} duplicate rows")
    if not np.array_equal(np.sort(got), np.sort(want)):
        errors.append(f"out holds {len(got)} event ids, expected the {len(want)} distinct ones")
    if dropped_late:
        errors.append(f"watermark dropped {dropped_late} rows")
    for i in range(n_batches):
        if ctx.plan.duplicate_slack_us(i) <= 0:
            errors.append(f"batch {i} places a duplicate outside the watermark horizon")
    return errors

