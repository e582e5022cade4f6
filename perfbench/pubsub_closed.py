"""``pubsub_closed``: one producer thread and one consumer thread in a
closed loop on one topic.

The producer calls ``TopicStore.produce`` back to back with seeded
batches, each generated by index just before its (timed) produce call,
so the producer never runs out of input; the consumer round-robins the buckets, each poll being
``consume(count=5000)`` + materializing the batch to the driver +
``commit``. Writes run beside reads on the same manifest log and cores.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass

import numpy as np

from perfbench import gen
from perfbench.common import Phase, manifest_stats
from perfbench.stats import match_deliveries, median, percentile, touched
from ripple_server_spark.sources.topics import TopicStore

ROWS = 600  # rows per produced batch
N_BUCKETS = 8
POLL_COUNT = 5000
DRAIN_TIMEOUT_S = 90.0


@dataclass
class Ctx:
    engine: object
    store: TopicStore
    seed: int


def setup(engine, work_dir: str, seed: int) -> Ctx:
    """Generate a warm-up batch and push it once through the
    produce/consume/commit path on a scratch topic."""
    store = TopicStore(engine.spark, os.path.join(work_dir, "topics"))
    warm = "warm"
    store.create_topic(warm, n_buckets=N_BUCKETS)
    store.register_consumer("warm", warm)
    store.produce(engine.spark.createDataFrame(gen.pubsub_batch(seed, 0, ROWS)), warm, batch_id="w")
    for b in range(N_BUCKETS):
        df, nxt = store.consume("warm", warm, bucket=b, count=POLL_COUNT)
        df.toArrow()
        store.commit("warm", warm, b, nxt)
    return Ctx(engine, store, seed)


def teardown(ctx: Ctx) -> None:
    """Nothing to release: topics are files under the run directory."""


def measure(ctx: Ctx, seconds: float, tracer, traced: bool, tag: str) -> Phase:
    spark, store, engine = ctx.engine.spark, ctx.store, ctx.engine
    topic, cid = f"events_{tag}", f"c_{tag}"
    store.create_topic(topic, n_buckets=N_BUCKETS)
    store.register_consumer(cid, topic)
    v0 = store.latest_manifest(topic)[0]

    produce_ms: list[float] = []
    manifest_ms: list[float] = []
    produce_jobs: list[int] = []
    thresholds: list[tuple[int, float, dict[int, int]]] = []
    produced = {"n": 0, "rows": 0, "elapsed": 0.0, "maxima": {}, "done": False}
    polls: list[tuple[float, int]] = []  # (latency ms, rows)
    plan_ms, exec_ms, commit_ms, poll_jobs = [], [], [], []
    commits: list[tuple[float, dict[int, int]]] = []
    consumed: dict[int, list] = {b: [] for b in range(N_BUCKETS)}
    made: list = []  # the produced batches, for the correctness check
    failures: list[str] = []
    deadline = time.perf_counter() + seconds

    def producer() -> None:
        start = time.perf_counter()
        prev: dict[int, int] = {}
        i = 0
        while time.perf_counter() < deadline:
            made.append(gen.pubsub_batch(ctx.seed, i, ROWS))
            df = spark.createDataFrame(made[i])
            t0 = time.perf_counter()
            try:
                with tracer.span("op.produce", f"b{i}"):
                    jobs = engine.jobs(produce_jobs) if traced else contextlib.nullcontext()
                    with tracer.span("sources.topics.produce"), jobs:
                        store.produce(df, topic, batch_id=f"b{i}")
                    t1 = time.perf_counter()
                    with tracer.span("sources.topics.latest_manifest"):
                        _v, m = store.latest_manifest(topic)
                    t2 = time.perf_counter()
            except Exception as e:  # counted, and fails the correctness check
                failures.append(f"produce b{i}: {e!r}")
                break
            produce_ms.append((t1 - t0) * 1e3)
            manifest_ms.append((t2 - t1) * 1e3)
            maxima = {int(b): int(x) for b, x in m["maxima"].items()}
            thresholds.append((i, t0, touched(prev, maxima)))
            prev = maxima
            i += 1
            produced.update(n=i, rows=i * ROWS, elapsed=time.perf_counter() - start)
        produced["maxima"] = prev
        produced["done"] = True

    def drained(offsets: dict[int, int]) -> bool:
        return produced["done"] and all(
            offsets.get(b, 0) > mx for b, mx in produced["maxima"].items()
        )

    def consumer() -> None:
        offsets: dict[int, int] = {}
        b = 0
        drain_deadline = deadline + DRAIN_TIMEOUT_S
        while not drained(offsets):
            if time.perf_counter() > drain_deadline:
                failures.append("consumer did not drain the topic in time")
                return
            t0 = time.perf_counter()
            try:
                with tracer.span("op.poll", f"bucket{b}"):
                    with engine.jobs(poll_jobs) if traced else contextlib.nullcontext():
                        with tracer.span("sources.topics.consume"):
                            df, nxt = store.consume(cid, topic, bucket=b, count=POLL_COUNT)
                        ta = time.perf_counter()
                        with tracer.span("materialize"):
                            tbl = df.toArrow()
                        tb = time.perf_counter()
                        with tracer.span("sources.topics.commit"):
                            store.commit(cid, topic, b, nxt)
            except Exception as e:
                failures.append(f"poll bucket {b}: {e!r}")
                return
            t1 = time.perf_counter()
            polls.append(((t1 - t0) * 1e3, tbl.num_rows))
            plan_ms.append((ta - t0) * 1e3)
            exec_ms.append((tb - ta) * 1e3)
            commit_ms.append((t1 - tb) * 1e3)
            commits.append((t1, {b: nxt}))
            if tbl.num_rows:  # an empty poll may carry no message columns yet
                consumed[b].append((tbl["seq"].to_numpy(), tbl["event_id"].to_numpy()))
            offsets[b] = nxt
            b = (b + 1) % N_BUCKETS

    threads = [
        threading.Thread(target=producer, name="producer"),
        threading.Thread(target=consumer, name="consumer"),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    ph = Phase()
    ph.attempted = len(produce_ms) + 2 * len(polls) + len(failures)  # produces, polls, commits
    ph.failed = len(failures)
    ph.errors.extend(failures)
    n_batches = produced["n"]
    ph.errors.extend(_verify(made[:n_batches], consumed, thresholds))

    deliveries = match_deliveries(thresholds, commits)
    n_pairs = sum(len(t[2]) for t in thresholds)
    if len(deliveries) != n_pairs:
        ph.errors.append(f"delivered {len(deliveries)} of {n_pairs} (batch, bucket) pairs")
    poll_lat = [p[0] for p in polls]
    ph.e2e["produce_rows_per_s"] = (
        produced["rows"] / produced["elapsed"] if produced["elapsed"] else 0.0,
        "rows/s",
        n_batches,
    )
    ph.latency("produce", produce_ms)
    ph.latency("poll", poll_lat)
    ph.latency("delivery", [d[2] * 1e3 for d in deliveries])

    version, files, nbytes, maxima = manifest_stats(store, topic)
    per_bucket = [maxima.get(b, -1) + 1 for b in range(N_BUCKETS)]
    rows_per_poll = [p[1] for p in polls]
    ph.layer.update(
        {
            "loadgen.rows_offered": (float(produced["rows"]), "rows"),
            "topics.produce.p50_ms": (median(produce_ms), "ms"),
            "topics.latest_manifest.p50_ms": (median(manifest_ms), "ms"),
            "topics.manifest.versions_per_produce": ((version - v0) / max(1, n_batches), "count"),
            "topics.manifest.files_end": (float(files), "count"),
            "topics.manifest.bytes_end": (float(nbytes), "bytes"),
            "topics.bucket_skew": (max(per_bucket) / (sum(per_bucket) / N_BUCKETS), "ratio"),
            "topics.consume.plan_p50_ms": (median(plan_ms), "ms"),
            "topics.consume.exec_p50_ms": (median(exec_ms), "ms"),
            "topics.commit.p50_ms": (median(commit_ms), "ms"),
            "topics.consume.rows_per_poll_p50": (percentile(rows_per_poll, 50), "rows"),
            "topics.consume.empty_poll_share": (
                sum(1 for r in rows_per_poll if r == 0) / len(rows_per_poll),
                "ratio",
            ),
            "topics.consume.polls": (float(len(polls)), "count"),
        }
    )
    if traced:
        ph.layer["topics.produce.jobs_per_call"] = (median(produce_jobs), "count")
        ph.layer["topics.consume.jobs_per_poll"] = (median(poll_jobs), "count")
    return ph


def _verify(batches: list, consumed, thresholds) -> list[str]:
    """Every produced row delivered exactly once per bucket, in seq
    order and in the generator's FIFO order; manifest maxima agree with
    the generator's cumulative per-bucket counts."""
    errors = []
    expected = {b: [] for b in range(N_BUCKETS)}
    cum = {b: 0 for b in range(N_BUCKETS)}
    for i, batch in enumerate(batches):
        order = gen.bucket_order(batch, N_BUCKETS)
        for b in range(N_BUCKETS):
            expected[b].append(order[b])
            cum[b] += len(order[b])
        got = thresholds[i][2]
        want = {b: cum[b] - 1 for b in range(N_BUCKETS) if len(order[b])}
        if got != want:
            errors.append(f"batch {i}: manifest maxima {got} != generator counts {want}")
            break
    for b in range(N_BUCKETS):
        exp = np.concatenate(expected[b]) if expected[b] else np.empty(0, np.int64)
        chunks = consumed[b]
        seqs = np.concatenate([c[0] for c in chunks]) if chunks else np.empty(0, np.int64)
        eids = np.concatenate([c[1] for c in chunks]) if chunks else np.empty(0, np.int64)
        if not np.array_equal(seqs, np.arange(len(seqs))):
            errors.append(f"bucket {b}: seqs are not 0..n-1 in order")
        if len(eids) != len(exp) or gen.fingerprint(eids) != gen.fingerprint(exp):
            errors.append(
                f"bucket {b}: consumed {len(eids)} rows (fingerprint "
                f"{gen.fingerprint(eids)[:12]}), expected {len(exp)} "
                f"({gen.fingerprint(exp)[:12]})"
            )
    return errors
