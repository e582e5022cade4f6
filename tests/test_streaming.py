"""Structured Streaming semantics tests: source batching, FIFO per
bucket, offset resume across restarts, windowed aggregation with
watermarks, streaming dedup, and replication fan-out.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.topics import TopicStore
from ripple_server_spark.streaming import api


@pytest.fixture()
def store(spark, sf_dir, tmp_path):
    st = TopicStore(spark, str(tmp_path / "topics"))
    st.create_topic("s1", n_buckets=4)
    st.produce(load_table(spark, sf_dir, "events").limit(300), "s1")
    return st


def _drain_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_source_delivers_full_log_in_order(spark, store):
    out = _drain_to_memory(spark, api.stream_topic(store, "s1"), "m_full")
    batch = store.read_topic("s1")
    assert out.count() == batch.count()
    # per-bucket FIFO: streamed rows, keyed by seq, match the log
    streamed = {(r["bucket"], r["seq"]) for r in out.select("bucket", "seq").collect()}
    logged = {(r["bucket"], r["seq"]) for r in batch.select("bucket", "seq").collect()}
    assert streamed == logged


def test_stream_resumes_from_checkpoint(spark, store, tmp_path, sf_dir):
    """Offset resume: a restarted query with the same checkpoint only
    reads data produced after the first drain (exactly-once source)."""
    ckpt = str(tmp_path / "ckpt_resume")
    out = str(tmp_path / "out_resume")

    def drain():
        q = (
            api.stream_topic(store, "s1")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    assert drain() == 300
    more = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") >= 300) & (F.col("event_id") < 400)
    )
    store.produce(more, "s1")
    # restart with same checkpoint: exactly the 100 new rows are appended
    assert drain() == 400


def test_windowed_counts_match_batch(spark, store):
    # complete mode: emit every window, not just watermark-closed ones
    # (append mode would hold back windows within 10 min of max ts).
    q = (
        api.windowed_counts(api.stream_topic(store, "s1"), "1 hour")
        .writeStream.format("memory")
        .queryName("m_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT * FROM m_win")
    batch = (
        store.read_topic("s1")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    got = {(r["ws"], r["n"]) for r in streamed.select("ws", "n").collect()}
    want = {(r["ws"], r["n"]) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_drops_replayed_rows(spark, sf_dir, tmp_path):
    """At-least-once -> exactly-once-processing, through a REAL streaming
    query: the same 200 rows are produced twice (distinct batch_ids, so
    the log genuinely holds 400), then api.dedup_stream runs over the
    topic stream with a small maxFilesPerTrigger so the redelivered
    copies arrive in LATER micro-batches — only cross-batch state-store
    dedup can drop them, a batch dropDuplicates could not regress-test
    this. Wide watermark: the file source doesn't batch in ts order, so
    a tight horizon would GC state mid-drain and drop originals."""
    st = TopicStore(spark, str(tmp_path / "topics_dup"))
    st.create_topic("sdup", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    st.produce(ev, "sdup", batch_id="b-orig")
    st.produce(ev, "sdup", batch_id="b-redelivery")
    assert st.read_topic("sdup").count() == 400  # duplicates really landed
    deduped = api.dedup_stream(
        api.stream_topic(st, "sdup", max_files_per_trigger=2),
        watermark="3650 days",
    )
    out = _drain_to_memory(spark, deduped, "m_dedup")
    got = out.select("event_id").collect()
    assert len(got) == 200, f"streaming dedup emitted {len(got)} rows"
    assert len({r["event_id"] for r in got}) == 200


def test_session_window_plan_builds(spark, store):
    out = _drain_to_memory(
        spark, api.sessionized(api.stream_topic(store, "s1"), gap="30 minutes"), "m_sess"
    )
    assert out.count() > 0


def test_fanout_write_replicates(spark, store, tmp_path):
    """Gossip fan-out analog: every replica path receives the batch,
    and every replica is BYTE-equal (same full-row multiset, not just
    the same count) — the N-copy-write equivalence of the reference's
    leader->follower replication."""
    replicas = [str(tmp_path / f"rep{i}") for i in range(3)]
    q = api.fanout_write(
        api.stream_topic(store, "s1"), replicas, str(tmp_path / "ckpt_fan")
    )
    q.processAllAvailable()
    q.stop()
    n = store.read_topic("s1").count()
    contents = []
    for p in replicas:
        df = spark.read.parquet(p).drop("batch")
        rows = sorted(tuple(r) for r in df.collect())
        assert len(rows) == n
        contents.append(rows)
    assert contents[0] == contents[1] == contents[2]


def test_replica_read_load_balances_and_matches_leader(spark, store, tmp_path):
    """Consume-path load balancing (A4/A19): each consumer
    deterministically lands on one replica, the population spreads
    over all replicas, and what any consumer reads is byte-equal to
    the leader log (replica parity makes single-follower serving
    correct)."""
    from ripple_server_spark.streaming.api import pick_replica, read_from_replica

    replicas = [str(tmp_path / f"rep{i}") for i in range(3)]
    q = api.fanout_write(
        api.stream_topic(store, "s1"), replicas, str(tmp_path / "ckpt_lb")
    )
    q.processAllAvailable()
    q.stop()
    leader = sorted(
        tuple(r) for r in store.read_topic("s1").collect()
    )
    consumers = [f"consumer-{i}" for i in range(40)]
    picked = {c: pick_replica(c, 3) for c in consumers}
    assert set(picked.values()) == {0, 1, 2}  # spread, not degenerate
    assert all(pick_replica(c, 3) == picked[c] for c in consumers)  # sticky
    for c in consumers[:3]:
        got = sorted(
            tuple(r)
            for r in read_from_replica(spark, replicas, c).drop("batch").collect()
        )
        assert got == leader


def test_interval_join_matches_batch(spark, store):
    """Stream-stream interval join (clicks ⋈ purchases within 1h by
    user) must produce exactly the batch join's pairs."""
    src = api.stream_topic(store, "s1")
    clicks = src.filter(F.col("event_type") == "click")
    purchases = src.filter(F.col("event_type") == "purchase")
    out = _drain_to_memory(
        spark, api.interval_join(clicks, purchases, within="1 hour"), "m_ij"
    )
    log = store.read_topic("s1")
    bc = log.filter(F.col("event_type") == "click").alias("l")
    bp = log.filter(F.col("event_type") == "purchase").alias("r")
    batch = bc.join(
        bp,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 hour")),
    ).select(F.col("l.event_id").alias("left_id"), F.col("r.event_id").alias("right_id"))
    got = {(r["left_id"], r["right_id"]) for r in out.select("left_id", "right_id").collect()}
    want = {(r["left_id"], r["right_id"]) for r in batch.collect()}
    assert len(want) > 0
    assert got == want


def test_fanout_write_replay_is_idempotent(spark, store, tmp_path):
    """TRUE crash-replay: delete the newest checkpoint commit marker
    (crash between sink write and checkpoint commit) and restart — the
    engine redelivers that batch id to foreachBatch, and the batch-id-
    keyed overwrite must leave replica contents unchanged."""
    import os

    from ripple_server_spark.streaming.api import fanout_write

    replicas = [str(tmp_path / f"irep{i}") for i in range(2)]
    ckpt = str(tmp_path / "ckpt_ifan")
    q = fanout_write(api.stream_topic(store, "s1"), replicas, ckpt)
    q.processAllAvailable()
    q.stop()
    n = store.read_topic("s1").count()
    before = [
        sorted(tuple(r) for r in spark.read.parquet(p).drop("batch").collect())
        for p in replicas
    ]
    assert all(len(b) == n for b in before)

    # simulate the crash window: newest commit marker never landed
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = fanout_write(api.stream_topic(store, "s1"), replicas, ckpt)
    q2.processAllAvailable()
    q2.stop()
    after = [
        sorted(tuple(r) for r in spark.read.parquet(p).drop("batch").collect())
        for p in replicas
    ]
    assert after == before, "replayed batch duplicated replica rows"


def test_streaming_gate_observes_and_flags(spark, tmp_path):
    """StreamingGate: per-batch observed metrics arrive via the
    listener (no extra pass), clean batches pass, a rule violation is
    reported with its batch and value."""
    import time

    from pyspark.sql import functions as F

    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.streaming.api import StreamingGate

    from tests.conftest import SF_SMOKE

    src_dir = str(tmp_path / "in")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").parquet(src_dir)

    gate = StreamingGate("doc_gate")
    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    observed = gate.attach(
        spark,
        stream,
        n_rows=F.count(F.lit(1)),
        short_docs=F.sum((F.length("text") < 5).cast("long")),
    )
    gate.require(
        "short_docs", lambda v: (v or 0) == 0, "no near-empty documents"
    )
    # impossible rule proves violations carry batch + value
    gate.require("n_rows", lambda v: (v or 0) < 10, "tiny-batch rule (expected to fail)")
    try:
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener delivery is async — the gate's own wait helper
        assert gate.wait(n_batches=1, timeout_s=20)
    finally:
        gate.close(spark)
    rows = sum(b.get("n_rows", 0) for b in gate.batches)
    assert rows == docs.count()
    viols = gate.violations()
    assert all(m != "short_docs" for _, m, _, _ in viols)
    assert any(m == "n_rows" and v >= 10 for _, m, v, _ in viols)
    # a rule on a metric name that never appears (typo'd require) must
    # itself be a violation, not a vacuous pass
    gate.require("n_row", lambda v: True, "typo'd metric name")
    assert any(
        b == -1 and m == "n_row" and "never observed" in r
        for b, m, _v, r in gate.violations()
    )


def test_streaming_gate_reattaches_after_close(spark, tmp_path):
    """close() must fully release the gate so a later attach() on the
    same instance re-registers the listener — otherwise the second
    query's metrics are silently never collected and the gate passes
    vacuously."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.streaming.api import StreamingGate

    from tests.conftest import SF_SMOKE

    src_dir = str(tmp_path / "in2")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    docs.write.mode("overwrite").parquet(src_dir)
    gate = StreamingGate("reuse_gate")

    def run(ck, expect_batches):
        stream = spark.readStream.schema(docs.schema).parquet(src_dir)
        observed = gate.attach(spark, stream, n_rows=F.count(F.lit(1)))
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        assert gate.wait(n_batches=expect_batches, timeout_s=20)
        gate.close(spark)

    run("ck_a", expect_batches=1)
    n_first = len(gate.batches)
    assert n_first >= 1
    # second attach after close: listener must collect the new query's
    # batches on top of the first run's
    run("ck_b", expect_batches=n_first + 1)
    assert len(gate.batches) > n_first


def test_late_rows_beyond_watermark_are_dropped(spark, sf_dir, tmp_path):
    """The watermark contract end-to-end: a row arriving AFTER the
    watermark has passed its window's end must be dropped from the
    windowed aggregate (append mode), while an in-watermark late row
    still counts. Micro-batch boundaries come from one produce per
    file (max_files_per_trigger=1), so watermark motion between
    batches is deterministic."""
    import datetime as dt

    from pyspark.sql import types as T

    from ripple_server_spark.sources.topics import TopicStore
    from ripple_server_spark.streaming import api

    st = TopicStore(spark, str(tmp_path / "late_topics"))
    st.create_topic("lt", n_buckets=1)
    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def mk(rows):
        return spark.createDataFrame(
            [(i, base + dt.timedelta(minutes=m), 1, "click", 1.0, "{}") for i, m in rows],
            schema,
        )

    # drain-per-produce with ONE checkpoint: the watermark persists in
    # the checkpoint commit log, so batch boundaries (and watermark
    # motion between them) are deterministic regardless of file-listing
    # order inside a single run.
    def drain():
        q = (
            api.windowed_counts(
                api.stream_topic(st, "lt"), window="5 minutes", watermark="10 minutes"
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out_late"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: two rows in window [0,5) and one at t=60min -> watermark
    # advances to 50min, far past [0,5)'s end; [0,5) emits and evicts
    st.produce(mk([(0, 1), (1, 2), (2, 60)]), "lt", key_col="user_id")
    drain()
    # run 2: a too-late row for [0,5) (must be dropped) and one at
    # t=61min (on time, counts toward [60,65))
    st.produce(mk([(3, 3), (4, 61)]), "lt", key_col="user_id")
    drain()
    # run 3: push the watermark past [60,65) so its window emits
    st.produce(mk([(5, 120)]), "lt", key_col="user_id")
    drain()

    rows = {
        r["ws"].minute + r["ws"].hour * 60: r["n"]
        for r in spark.read.parquet(str(tmp_path / "out_late")).collect()
    }
    assert rows[0] == 2, rows  # the too-late event_id=3 was dropped
    assert rows[60] == 2, rows  # both on-time rows of [60,65) counted


def test_native_stream_sink_commits_through_manifest(spark, sf_dir, tmp_path):
    """The streaming producer sink, ``writeStream.format("ripple_topic")``,
    must land rows under the manifest commit protocol: visible to
    read_topic, safe under vacuum, per-bucket seqs contiguous from 0,
    and exactly-once across a restart from the same checkpoint."""
    from ripple_server_spark.sources.datasource import RippleTopicDataSource

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "sink_topics"))
    st.create_topic("out", n_buckets=2)
    src_store = TopicStore(spark, str(tmp_path / "src_topics"))
    src_store.create_topic("in", n_buckets=2)
    src_store.produce(load_table(spark, sf_dir, "events").limit(80), "in")

    def writer():
        return (
            spark.readStream.format("ripple_topic")
            .option("root", src_store.root)
            .option("topic", "in")
            .load()
            .drop("seq", "bucket")
            .writeStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "out")
            .option("checkpointLocation", str(tmp_path / "ck_sink"))
        )

    api.run_available_now(writer())

    # rows are manifest-visible and survive vacuum
    assert st.read_topic("out").count() == 80
    st.vacuum("out", grace_s=0.0)
    assert st.read_topic("out").count() == 80
    # per-bucket seqs assigned contiguously from 0
    for r in (
        st.read_topic("out")
        .groupBy("bucket")
        .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"), F.count("*").alias("n"))
        .collect()
    ):
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1
    # restart from the same checkpoint: nothing new -> no duplicates
    api.run_available_now(writer())
    assert st.read_topic("out").count() == 80


def test_stream_topic_refuses_schemaless_topic(spark, tmp_path):
    """Opening a tail on a topic nothing was ever produced to must fail
    loudly: locking the minimal empty-topic schema into a running query
    would silently drop every payload column of later rows."""
    import pytest as _pytest

    from ripple_server_spark.sources.topics import TopicStore
    from ripple_server_spark.streaming import api

    st = TopicStore(spark, str(tmp_path / "empty_topics"))
    st.create_topic("never_produced", n_buckets=2)
    with _pytest.raises(ValueError, match="no recorded schema"):
        api.stream_topic(st, "never_produced")
