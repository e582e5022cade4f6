"""Custom `ripple_topic` DataSource tests: batch reads with offset
pushdown per bucket, and the micro-batch streaming reader."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.datasource import RippleTopicDataSource
from ripple_server_spark.sources.topics import TopicStore
from tests.conftest import offsets_for_times_reference, topic_stream


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path_factory.mktemp("ds_topics")))
    st.create_topic("d1", n_buckets=4)
    st.produce(load_table(spark, sf_dir, "events").limit(300), "d1")
    return st


def _events_schema(multi=False):
    """The StructType Spark hands the readers of an events topic."""
    from pyspark.sql.types import StructType

    from ripple_server_spark.sources.datasource import TOPIC_SCHEMA_DDL

    return StructType.fromDDL(TOPIC_SCHEMA_DDL + (", topic string" if multi else ""))


def _read(spark, store, **opts):
    r = spark.read.format("ripple_topic").option("root", store.root).option("topic", "d1")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_full_topic(spark, store):
    df = _read(spark, store)
    assert df.count() == 300
    # schema carries bucket + seq
    assert {"seq", "bucket", "event_id"} <= set(df.columns)
    # matches the parquet view of the same log
    direct = store.read_topic("d1")
    a = {(r["bucket"], r["seq"], r["event_id"]) for r in df.select("bucket", "seq", "event_id").collect()}
    b = {(r["bucket"], r["seq"], r["event_id"]) for r in direct.select("bucket", "seq", "event_id").collect()}
    assert a == b


def test_batch_read_with_offset_and_limit(spark, store):
    df = _read(spark, store, offset=5, limit=10)
    rows = df.groupBy("bucket").agg(F.min("seq").alias("mn"), F.count("*").alias("n")).collect()
    for r in rows:
        assert r["mn"] == 5  # offset honored per bucket
        assert r["n"] <= 10  # AskQuery.Count clamp


def test_batch_read_of_empty_topic_serves_zero_rows(spark, store):
    """A created-but-never-produced topic is a legitimate broker state:
    partitions() returns [], Spark substitutes a single None partition
    and still calls read(None) — which must yield nothing, matching
    TopicStore.read_topic's empty-frame contract, not crash."""
    store.create_topic("d_empty", n_buckets=2)
    df = (
        spark.read.format("ripple_topic")
        .option("root", store.root)
        .option("topic", "d_empty")
        .load()
    )
    assert df.count() == 0
    assert {"seq", "bucket", "event_id"} <= set(df.columns)


def test_read_bucket_pushes_upto_bound_into_scan(spark, store):
    """Crash-recovery replay pushes the exclusive seq bound into the
    pyarrow dataset filter (BucketPartition.upto), so the replay reads
    the batch's range, not the whole retained tail above the cursor."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ripple_server_spark.sources import manifest
    from ripple_server_spark.sources.datasource import (
        _SEQ_END,
        BucketPartition,
        _read_bucket_arrow,
    )

    rels = manifest.plan(store.latest_manifest("d1")[1], {0: (0, _SEQ_END)})[0]
    files = [os.path.join(store.data_dir("d1"), r) for r in rels]
    part = BucketPartition(files, 0, 3, None, upto=9)
    batches = list(_read_bucket_arrow(part, to_arrow_schema(_events_schema())))
    seqs = sorted(s for rb in batches for s in rb.column("seq").to_pylist())
    assert seqs == list(range(3, 9))


@pytest.mark.parametrize("tier", ["partitioned", "simple"])
def test_stream_reader_delivers_and_resumes(spark, store, tmp_path, tier):
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", store.root)
        .option("topic", "d1")
        .option("batch_size", 50)
        .option("reader_tier", tier)
        .load()
        .writeStream.format("memory")
        .queryName(f"ds_stream_{tier}")
        .option("checkpointLocation", str(tmp_path / f"ck_{tier}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(f"SELECT count(*) c FROM ds_stream_{tier}").collect()[0]["c"]
    assert got == 300
    # per-bucket FIFO: seqs arrive gap-free from 0
    per = spark.sql(
        f"SELECT bucket, count(*) n, max(seq) mx FROM ds_stream_{tier} GROUP BY bucket"
    ).collect()
    for r in per:
        assert r["mx"] == r["n"] - 1
    # full-row fidelity across the tier's transfer path (the partitioned
    # tier ships Arrow RecordBatches; ts/value must round-trip exactly)
    streamed = {
        tuple(r)
        for r in spark.sql(
            f"SELECT bucket, seq, event_id, ts, value FROM ds_stream_{tier}"
        ).collect()
    }
    direct = {
        tuple(r)
        for r in store.read_topic("d1").select(
            "bucket", "seq", "event_id", "ts", "value"
        ).collect()
    }
    assert streamed == direct


@pytest.mark.parametrize("tier", ["partitioned", "simple"])
def test_stream_cursor_survives_retention_gap(spark, sf_dir, tmp_path, tier):
    """After truncate() raises a bucket's floor, the stream cursor must
    advance past the gap (both tiers clamp the cursor to the manifest
    floor when they plan a trigger) — a count-based cursor would lag
    behind the gap and re-deliver the tail of every bucket forever."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "gap_topics"))
    st.create_topic("g1", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(100), "g1", key_col="user_id")
    st.compact("g1")
    st.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)), "g1"
    )
    st.vacuum("g1")
    # age out the first segment entirely: floors rise above 0
    maxima = st._bucket_maxima("g1")
    floor_target = min(maxima.values()) - 10
    assert st.truncate("g1", before_seq=floor_target) >= 1
    st.vacuum("g1")
    floors = st._bucket_floors("g1")
    assert any(f > 0 for f in floors.values())

    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "g1")
        .option("batch_size", 7)  # force many micro-batches across the gap
        .option("reader_tier", tier)
        .load()
        .writeStream.format("memory")
        .queryName(f"ds_gap_{tier}")
        .option("checkpointLocation", str(tmp_path / f"ck_gap_{tier}"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # exactly-once delivery of every surviving row, no tail re-delivery
    live = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("g1").select("bucket", "seq").collect()
    }
    got = spark.sql(
        f"SELECT bucket, seq, count(*) c FROM ds_gap_{tier} GROUP BY 1, 2"
    ).collect()
    assert all(r["c"] == 1 for r in got), "row delivered more than once"
    assert {(r["bucket"], r["seq"]) for r in got} == live


def test_datasource_serves_only_committed_files(spark, store):
    """The custom source reads the manifest's file list: an orphan
    parquet dropped into a bucket dir (crashed produce) is invisible."""
    import glob as _glob
    import shutil

    n = _read(spark, store).count()
    bdir = os.path.join(store.data_dir("d1"), "bucket=0")
    src = _glob.glob(os.path.join(bdir, "*.parquet"))[0]
    orphan = os.path.join(bdir, "zz-orphan.parquet")
    shutil.copy(src, orphan)
    try:
        assert _read(spark, store).count() == n
    finally:
        os.remove(orphan)


def test_stream_crash_mid_batch_replays_uncommitted(spark, sf_dir, tmp_path):
    """Crash-mid-batch resume — the reference's consumer offset race
    (consumer/server/core.go:61-62: cursor advanced before delivery is
    durable, so a crash between the two loses rows). Spark's checkpoint
    commits the offset AFTER the sink, so a sink that dies mid-batch
    (its output lost) must be replayed on restart with exactly the same
    [start, end) range via readBetweenOffsets: every surviving row is
    delivered, and none twice. (Pinned to the simple tier, whose
    batch_size splits a static backlog into multiple micro-batches;
    the partitioned tier's crash replay is covered by
    test_partitioned_crash_mid_batch_replays_exactly_once.)"""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "crash_topics"))
    st.create_topic("c1", n_buckets=2)
    st.produce(load_table(spark, sf_dir, "events").limit(120), "c1")

    delivered: list[tuple[int, int]] = []
    state = {"batches": 0}

    def sink_crash(df, _epoch):
        rows = [(r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()]
        state["batches"] += 1
        if state["batches"] == 2:
            # die AFTER reading but BEFORE "persisting": this batch's
            # output is lost and its offset never committed
            raise RuntimeError("injected crash mid-batch")
        delivered.extend(rows)

    def start(sink):
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "c1")
            .option("batch_size", 25)
            .option("reader_tier", "simple")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_crash"))
            .start()
        )

    q = start(sink_crash)
    crash_exc = None
    try:
        q.awaitTermination(120)
    except Exception as e:  # noqa: BLE001 — StreamingQueryException wrapper
        crash_exc = e
    assert crash_exc is not None and "crash" in str(crash_exc), (
        f"query did not fail with the injected crash: {crash_exc!r}"
    )
    assert state["batches"] >= 2

    def sink_ok(df, _epoch):
        delivered.extend(
            (r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()
        )

    q2 = start(sink_ok)
    q2.processAllAvailable()
    q2.stop()

    live = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("c1").select("bucket", "seq").collect()
    }
    assert set(delivered) == live, "rows skipped across the crash"
    assert len(delivered) == len(live), "rows double-delivered across the crash"


def test_batch_read_version_as_of(spark, sf_dir, tmp_path):
    """VERSION AS OF through the custom source: a reader pinned to the
    pre-compaction manifest sees exactly the rows of that snapshot
    (row- and fingerprint-identical to TopicStore.read_topic at the
    same version) even after compaction + vacuum rewrote the files;
    an unknown version is an explicit error."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "tt_topics"))
    st.create_topic("tt", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(60), "tt")
    v1 = st.latest_manifest("tt")[0]
    st.produce(ev.filter((F.col("event_id") >= 60) & (F.col("event_id") < 100)), "tt")
    st.compact("tt")
    # NOTE: no vacuum — pinned snapshots retain their files until the
    # vacuum grace window elapses, same contract as read_topic.

    def key_set(df):
        return {(r["bucket"], r["seq"], r["event_id"]) for r in
                df.select("bucket", "seq", "event_id").collect()}

    pinned = (
        spark.read.format("ripple_topic")
        .option("root", st.root).option("topic", "tt").option("version", v1)
        .load()
    )
    assert key_set(pinned) == key_set(st.read_topic("tt", version=v1))
    assert pinned.count() == 60
    latest = (
        spark.read.format("ripple_topic")
        .option("root", st.root).option("topic", "tt")
        .load()
    )
    assert latest.count() == 100
    with pytest.raises(Exception, match="manifest version"):
        (
            spark.read.format("ripple_topic")
            .option("root", st.root).option("topic", "tt").option("version", 99999)
            .load()
            .count()
        )


@pytest.mark.parametrize("tier", ["partitioned", "simple"])
def test_stream_start_at_latest_tails_only_new_rows(spark, sf_dir, tmp_path, tier):
    """start_at=latest snapshots the high watermarks at query start:
    the backlog is skipped, rows produced after the first batch are
    delivered, and a restart resumes from the checkpoint (not a fresh
    'latest' snapshot)."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / f"tail_topics_{tier}"))
    st.create_topic("tl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(80), "tl")  # backlog that must be skipped

    seen: list[int] = []

    def sink(df, _epoch):
        seen.extend(r["event_id"] for r in df.select("event_id").collect())

    def start():
        # foreachBatch (not the memory sink): supports checkpoint
        # recovery, which the restart leg below depends on
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "tl")
            .option("start_at", "latest")
            .option("reader_tier", tier)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ck_tail_{tier}"))
            .start()
        )

    q = start()
    q.processAllAvailable()
    assert seen == []  # backlog skipped
    st.produce(ev.filter((F.col("event_id") >= 80) & (F.col("event_id") < 110)), "tl")
    q.processAllAvailable()
    q.stop()
    assert set(seen) == set(range(80, 110))
    # produce while stopped; restart resumes from checkpoint, not a new
    # latest snapshot — the offline rows must arrive
    st.produce(ev.filter((F.col("event_id") >= 110) & (F.col("event_id") < 120)), "tl")
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert set(seen) == set(range(80, 120))


def test_replay_survives_truncate_between_crash_and_restart(spark, sf_dir, tmp_path):
    """Retention committed BETWEEN a crash and its recovery must not
    shrink the replayed batch: the end offset pins the manifest version
    the batch originally read, so readBetweenOffsets resolves the SAME
    file set (still on disk until vacuum) instead of the truncated
    latest manifest. (Simple tier; the partitioned tier's version-pin
    replay is covered by test_partitioned_replay_survives_truncate.)"""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "trunc_topics"))
    st.create_topic("t1", n_buckets=2)
    st.produce(load_table(spark, sf_dir, "events").limit(120), "t1")

    delivered: list[tuple[int, int]] = []
    state = {"batches": 0}

    def sink_crash(df, _epoch):
        rows = [(r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()]
        state["batches"] += 1
        if state["batches"] == 2:
            state["lost"] = rows  # this output is "lost" with the crash
            raise RuntimeError("injected crash mid-batch")
        delivered.extend(rows)

    def start(sink):
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "t1")
            .option("batch_size", 25)
            .option("reader_tier", "simple")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_trunc"))
            .start()
        )

    q = start(sink_crash)
    try:
        q.awaitTermination(120)
    except Exception:  # noqa: BLE001
        pass
    assert state["batches"] >= 2
    seen_before_crash = set(delivered)

    # retention lands while the query is down: every row ages out of
    # the LATEST manifest (files stay on disk — no vacuum)
    hi = max(st._bucket_maxima("t1").values())
    assert st.truncate("t1", before_seq=hi + 1) >= 1

    def sink_ok(df, _epoch):
        delivered.extend(
            (r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()
        )

    q2 = start(sink_ok)
    q2.processAllAvailable()
    q2.stop()

    # the crashed batch replayed IN FULL from its pinned snapshot
    assert set(state["lost"]) <= set(delivered)
    # and no pre-crash row was delivered twice
    assert len(delivered) == len(set(delivered))
    # nothing beyond the crashed batch exists to deliver (retention ate
    # the rest), so delivered = pre-crash + the replayed batch
    assert set(delivered) == seen_before_crash | set(state["lost"])


# -- partitioned stream reader (the scale tier) --------------------------


def _wave(ev, lo, hi):
    return ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))


def test_partitioned_crash_mid_batch_replays_exactly_once(spark, sf_dir, tmp_path):
    """Crash-mid-batch resume on the executor-parallel tier: a sink
    that dies mid-batch (output lost, offset uncommitted) is replayed
    on restart through the ordinary partitions(start, end) path —
    every row delivered exactly once across the crash. Batches are
    driven by produce waves (the partitioned tier's first trigger is
    an uncapped catch-up by design, so a static backlog can't split)."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "pcrash_topics"))
    st.create_topic("pc", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 40), "pc")

    delivered: list[tuple[int, int]] = []
    state = {"data_batches": 0}

    def sink_crash(df, _epoch):
        rows = [(r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()]
        if not rows:
            return
        state["data_batches"] += 1
        if state["data_batches"] == 2:
            raise RuntimeError("injected crash mid-batch")
        delivered.extend(rows)

    def start(sink):
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "pc")
            .option("batch_size", 1000)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_pcrash"))
            .start()
        )

    q = start(sink_crash)
    q.processAllAvailable()  # wave 1 drains clean (data batch 1)
    assert state["data_batches"] == 1
    st.produce(_wave(ev, 40, 80), "pc")  # wave 2: its batch crashes
    crash_exc = None
    try:
        q.processAllAvailable()
        q.awaitTermination(60)
    except Exception as e:  # noqa: BLE001 — StreamingQueryException wrapper
        crash_exc = e
    q.stop()
    assert crash_exc is not None and "crash" in str(crash_exc), (
        f"query did not fail with the injected crash: {crash_exc!r}"
    )

    def sink_ok(df, _epoch):
        delivered.extend(
            (r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()
        )

    q2 = start(sink_ok)
    q2.processAllAvailable()  # replays the crashed wave-2 batch
    st.produce(_wave(ev, 80, 120), "pc")  # wave 3: post-recovery batches
    q2.processAllAvailable()
    q2.stop()

    live = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("pc").select("bucket", "seq").collect()
    }
    assert set(delivered) == live, "rows skipped across the crash"
    assert len(delivered) == len(live), "rows double-delivered across the crash"


def test_partitioned_replay_survives_truncate(spark, sf_dir, tmp_path):
    """Retention committed between a crash and its recovery must not
    shrink the replayed batch on the partitioned tier: the end offset
    pins the manifest version the batch was planned against, so
    partitions() resolves the SAME file set (still on disk until
    vacuum) instead of the truncated latest manifest."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "ptrunc_topics"))
    st.create_topic("pt", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 60), "pt")

    delivered: list[tuple[int, int]] = []
    state = {"data_batches": 0, "lost": []}

    def sink_crash(df, _epoch):
        rows = [(r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()]
        if not rows:
            return
        state["data_batches"] += 1
        if state["data_batches"] == 2:
            state["lost"] = rows  # this output is "lost" with the crash
            raise RuntimeError("injected crash mid-batch")
        delivered.extend(rows)

    def start(sink):
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "pt")
            .option("batch_size", 1000)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ck_ptrunc"))
            .start()
        )

    q = start(sink_crash)
    q.processAllAvailable()  # wave 1 drains clean
    st.produce(_wave(ev, 60, 120), "pt")  # wave 2: its batch crashes
    try:
        q.processAllAvailable()
        q.awaitTermination(60)
    except Exception:  # noqa: BLE001
        pass
    q.stop()
    assert state["data_batches"] == 2 and state["lost"]
    seen_before_crash = set(delivered)

    # retention lands while the query is down: every row ages out of
    # the LATEST manifest (files stay on disk — no vacuum)
    hi = max(st._bucket_maxima("pt").values())
    assert st.truncate("pt", before_seq=hi + 1) >= 1

    def sink_ok(df, _epoch):
        delivered.extend(
            (r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()
        )

    q2 = start(sink_ok)
    q2.processAllAvailable()
    q2.stop()

    # the crashed batch replayed IN FULL from its pinned snapshot
    assert set(state["lost"]) <= set(delivered)
    # and no pre-crash row was delivered twice
    assert len(delivered) == len(set(delivered))
    # nothing beyond the crashed batch exists to deliver (retention ate
    # the rest), so delivered = pre-crash + the replayed batch
    assert set(delivered) == seen_before_crash | set(state["lost"])


# -- partitioned offset planner unit tests (no streaming query) ----------


@pytest.fixture(scope="module")
def planner_store(spark, sf_dir, tmp_path_factory):
    """A 2-bucket topic with 100 rows for direct offset-planner calls."""
    st = TopicStore(spark, str(tmp_path_factory.mktemp("plan_topics")))
    st.create_topic("pl", n_buckets=2)
    st.produce(load_table(spark, sf_dir, "events").limit(100), "pl")
    return st


def _planner(st, topic="pl", **opts):
    from ripple_server_spark.sources.datasource import (
        RippleTopicPartitionedStreamReader,
    )

    return RippleTopicPartitionedStreamReader(
        {"root": st.root, "topic": topic, **{k: str(v) for k, v in opts.items()}},
        _events_schema(),
    )


def test_partitioned_offsets_cap_and_converge(spark, planner_store):
    """After initialOffset anchors the cursor, every latestOffset
    advances each bucket by at most batch_size seqs (AskQuery.Count),
    monotonically, converging to the HWM and then holding stable."""
    import json as _json

    from ripple_server_spark.sources.datasource import _log_bounds

    r = _planner(planner_store, batch_size=10)
    prev = _json.loads(r.initialOffset()["cursors"])
    assert prev == {}
    _, maxima, _ = _log_bounds(planner_store.root, "pl")
    hwm = {b: mx + 1 for b, mx in maxima.items()}
    for _ in range(200):
        cur = _json.loads(r.latestOffset()["cursors"])
        for b, c in cur.items():
            assert c - prev.get(b, 0) <= 10, "admission cap exceeded"
            assert c >= prev.get(b, 0), "cursor regressed"
        prev = cur
        if cur == hwm:
            break
    assert prev == hwm
    assert _json.loads(r.latestOffset()["cursors"]) == hwm  # stable at HWM


def test_partitioned_latest_offset_skips_floor_hole(spark, sf_dir, tmp_path):
    """A retention hole below the floor is skipped in ONE trigger (the
    cursor clamps to the manifest floor), not crawled through in
    batch_size-seq empty hops."""
    import json as _json

    st = TopicStore(spark, str(tmp_path / "floor_topics"))
    st.create_topic("fl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    # two produces -> two files per bucket, so the first can age out
    st.produce(_wave(ev, 0, 100), "fl")
    st.produce(_wave(ev, 100, 200), "fl")
    maxima = st._bucket_maxima("fl")
    floor_target = min(maxima.values()) - 5
    assert st.truncate("fl", before_seq=floor_target) >= 1
    floors = st._bucket_floors("fl")
    assert any(f > 0 for f in floors.values())

    r = _planner(st, topic="fl", batch_size=3)
    r.initialOffset()  # anchor at earliest (cursor 0)
    cur = _json.loads(r.latestOffset()["cursors"])
    for b, fl in floors.items():
        if fl > 3:  # a hole wider than one batch
            assert cur[str(b)] >= fl, "cursor crawled instead of clamping to floor"


def test_partitioned_catchup_chunks_split_within_bucket(spark, sf_dir, tmp_path):
    """Catch-up chunking follows the PRUNING granularity (r13): a
    bucket whose retained range is one file plans ONE partition (more
    chunks than the scan can skip just re-decode the same row groups),
    while a multi-file bucket still splits into contiguous, disjoint
    chunks covering exactly [floor, hwm) so a backlog drain
    parallelizes beyond the bucket count."""
    import json as _json

    from ripple_server_spark.sources.datasource import _log_bounds

    st = TopicStore(spark, str(tmp_path / "chunk_topics"))
    st.create_topic("pl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")

    # one produce -> one file per bucket: catch-up must NOT chunk
    st.produce(_wave(ev, 0, 100), "pl")
    r = _planner(st, batch_size=10)
    start = r.initialOffset()
    _, maxima, _ = _log_bounds(st.root, "pl")
    full_end = {"cursors": _json.dumps({b: mx + 1 for b, mx in maxima.items()})}
    parts = r.partitions(start, full_end)
    assert len(parts) == len(maxima), (
        "single-file buckets should plan one chunk each (no redundant "
        f"decode), got {len(parts)}"
    )

    # four more produces -> five files per bucket: catch-up chunks, one
    # chunk per file at most, contiguous and disjoint over the range
    for lo in range(100, 500, 100):
        st.produce(_wave(ev, lo, lo + 100), "pl")
    r2 = _planner(st, batch_size=10)
    start2 = r2.initialOffset()
    _, maxima2, _ = _log_bounds(st.root, "pl")
    full_end2 = {
        "cursors": _json.dumps({b: mx + 1 for b, mx in maxima2.items()})
    }
    parts2 = r2.partitions(start2, full_end2)
    assert len(parts2) > len(maxima2), "catch-up did not chunk within buckets"
    # a version-less end offset is planned against the latest manifest:
    # each chunk opens exactly the files overlapping its range
    m2 = st.latest_manifest("pl")[1]
    by_bucket: dict[int, list] = {}
    for p in parts2:
        want = {
            rel
            for rel, (lo, hi) in m2["seq_ranges"].items()
            if rel.startswith(f"bucket={p.bucket}/") and hi >= p.offset and lo < p.upto
        }
        assert {os.path.relpath(f, st.data_dir("pl")) for f in p.files} == want
        assert 1 <= len(p.files) < 5
        by_bucket.setdefault(p.bucket, []).append((p.offset, p.upto))
    for b, spans in by_bucket.items():
        assert len(spans) <= 5, "more chunks than files cannot prune"
        spans.sort()
        assert spans[0][0] == 0
        assert spans[-1][1] == maxima2[str(b)] + 1
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 == lo2, "chunks not contiguous/disjoint"


def test_partitioned_chunks_open_only_overlapping_files(spark, sf_dir, tmp_path):
    """A planned chunk opens only the files whose manifest seq range
    overlaps its [offset, upto), and the chunks still serve every row
    of the catch-up exactly once."""
    import json as _json

    from ripple_server_spark.sources import manifest

    st = TopicStore(spark, str(tmp_path / "prune_topics"))
    st.create_topic("pl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    for lo in range(0, 500, 100):
        st.produce(_wave(ev, lo, lo + 100), "pl")
    r = _planner(st, batch_size=10)
    end = r.latestOffset()  # a fresh reader's first offer: the whole log
    parts = r.partitions({"cursors": "{}"}, end)
    m = st.latest_manifest("pl")[1]
    assert int(end["version"]) == st.latest_manifest("pl")[0]
    for p in parts:
        want = {
            rel
            for rel, (lo, hi) in m["seq_ranges"].items()
            if manifest.bucket_of(rel) == p.bucket and hi >= p.offset and lo < p.upto
        }
        got = {os.path.relpath(f, st.data_dir("pl")) for f in p.files}
        assert got == want
    assert any(len(p.files) < 5 for p in parts)
    served: dict[int, list[int]] = {}
    for p in parts:
        for batch in r.read(p):
            served.setdefault(p.bucket, []).extend(batch.column("seq").to_pylist())
    hwm = _json.loads(end["cursors"])
    assert {b: sorted(v) for b, v in served.items()} == {
        int(b): list(range(c)) for b, c in hwm.items()
    }


def test_batch_reader_and_replay_plan_only_overlapping_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The batch reader plans ``[offset, end)`` and the simple tier's
    replay plans ``[start, end)`` per bucket through the manifest: each
    opens exactly the files whose seq range overlaps its request, and
    serves the same rows as a read over every file of the bucket."""
    import json

    import pyarrow.dataset as ds

    from ripple_server_spark.sources import datasource, manifest

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "plan_topics"))
    st.create_topic("pl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    for lo in range(0, 500, 100):
        st.produce(_wave(ev, lo, lo + 100), "pl")
    m = st.latest_manifest("pl")[1]
    data_dir = st.data_dir("pl")
    every = {
        b: [os.path.join(data_dir, r) for r in rels]
        for b, rels in manifest.plan(m, {b: (0, datasource._SEQ_END) for b in range(2)}).items()
    }

    def overlapping(b, lo, hi):
        return {
            rel
            for rel, (a, z) in m["seq_ranges"].items()
            if manifest.bucket_of(rel) == b and z >= lo and a < hi
        }

    def rels(files):
        return {os.path.relpath(f, data_dir) for f in files}

    def seqs(files, lo, hi):
        tbl = ds.dataset(files, format="parquet").to_table(
            filter=(ds.field("seq") >= lo) & (ds.field("seq") < hi)
        )
        return sorted(tbl.column("seq").to_pylist())

    # batch reader: option("offset") plans [offset, end)
    offset = 150
    parts = datasource.RippleTopicReader(
        {"root": st.root, "topic": "pl", "offset": str(offset)}, _events_schema()
    ).partitions()
    assert parts and any(len(p.files) < len(every[p.bucket]) for p in parts)
    for p in parts:
        assert rels(p.files) == overlapping(p.bucket, offset, datasource._SEQ_END)
    got = (
        spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "pl")
        .option("offset", offset)
        .load()
    )
    by_bucket = {
        b: sorted(r["seq"] for r in got.where(F.col("bucket") == b).collect())
        for b in every
    }
    assert by_bucket == {b: seqs(fs, offset, datasource._SEQ_END) for b, fs in every.items()}

    # simple-tier replay: readBetweenOffsets plans [start, end) per bucket
    planned: list = []
    real = datasource._read_bucket_arrow

    def recording(part, target):
        planned.append(part)
        return real(part, target)

    monkeypatch.setattr(datasource, "_read_bucket_arrow", recording)
    start = {"cursors": json.dumps({"0": 40, "1": 120})}
    end = {
        "cursors": json.dumps({"0": 170, "1": 190}),
        "version": str(st.latest_manifest("pl")[0]),
    }
    reader = datasource.RippleTopicStreamReader(
        {"root": st.root, "topic": "pl"}, _events_schema()
    )
    rows = [
        r for rb in reader.readBetweenOffsets(start, end) for r in rb.to_pylist()
    ]
    assert {p.bucket for p in planned} == {0, 1}
    for p in planned:
        assert rels(p.files) == overlapping(p.bucket, p.offset, p.upto)
        assert len(p.files) < len(every[p.bucket])
    served = {b: sorted(r["seq"] for r in rows if r["bucket"] == b) for b in every}
    assert served == {0: seqs(every[0], 40, 170), 1: seqs(every[1], 120, 190)}


def test_one_plan_visits_each_live_file_once(spark, sf_dir, tmp_path, monkeypatch):
    """Every read plan is ONE walk of the manifest's files, whatever the
    bucket count and the chunk count: a chunked catch-up offer's
    partitions() over an 8-bucket topic, TopicStore._read (whole, and
    past per-bucket cuts) and a poll each parse every live file's
    bucket exactly once."""
    from ripple_server_spark.sources import manifest

    st = TopicStore(spark, str(tmp_path / "walk_topics"))
    st.create_topic("pl", n_buckets=8)
    ev = load_table(spark, sf_dir, "events")
    for lo in range(0, 500, 100):
        st.produce(_wave(ev, lo, lo + 100), "pl")
    _v, m = st.latest_manifest("pl")
    r = _planner(st, batch_size=10)
    end = r.latestOffset()  # a fresh reader's first offer: the whole log
    visited: list[str] = []
    real = manifest.bucket_of

    def counting(rel):
        visited.append(rel)
        return real(rel)

    monkeypatch.setattr(manifest, "bucket_of", counting)
    parts = r.partitions({"cursors": "{}"}, end)
    assert len({p.bucket for p in parts}) == 8
    assert len(parts) > 8, "catch-up did not chunk within buckets"
    assert sorted(visited) == sorted(m["files"])
    for after in ({}, {b: 20 for b in range(8)}):
        visited.clear()
        assert st._read("pl", m, after).inputFiles()
        assert sorted(visited) == sorted(m["files"])
    visited.clear()
    st.poll("walker", "pl", 3, 40)
    assert sorted(visited) == sorted(m["files"])


@pytest.mark.parametrize("case", ["versioned", "version_less", "vacuumed_pin"])
def test_simple_and_partitioned_tiers_serve_the_same_rows(spark, sf_dir, tmp_path, case):
    """For one set of start cursors — one below a retention floor — the
    simple tier's readBetweenOffsets and the partitioned tier's
    partitions + read serve identical rows, exactly the retained seqs of
    ``[start, end)``: for an end offset pinned to a version, for a
    version-less end offset, and for a pinned version vacuumed away
    (both served from the latest manifest)."""
    import json

    from ripple_server_spark.sources import datasource, manifest

    st = TopicStore(spark, str(tmp_path / "tier_topics"))
    st.create_topic("pl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 100), "pl")
    first = st._bucket_maxima("pl")
    for lo in range(100, 400, 100):
        st.produce(_wave(ev, lo, lo + 100), "pl")
    assert st.truncate("pl", before_seq=max(first.values()) + 1) >= 2
    v, m = st.latest_manifest("pl")
    floors = {int(b): x for b, x in m["floors"].items()}
    s = {0: 0, 1: floors[1] + 7}
    e = {b: int(mx) - 5 for b, mx in m["maxima"].items()}
    start = {"cursors": json.dumps({str(b): c for b, c in s.items()})}
    end = {"cursors": json.dumps(e, sort_keys=True), "topic": "pl"}
    if case != "version_less":
        end["version"] = str(v)
    if case == "vacuumed_pin":
        st.produce(_wave(ev, 400, 500), "pl")
        st.vacuum("pl")
        assert not os.path.exists(manifest.path(st.root, "pl", v))
    opts = {"root": st.root, "topic": "pl", "batch_size": "50"}
    simple = datasource.RippleTopicStreamReader(dict(opts), _events_schema())
    got = {"simple": [row for rb in simple.readBetweenOffsets(start, end) for row in rb.to_pylist()]}
    part = datasource.RippleTopicPartitionedStreamReader(dict(opts), _events_schema())
    got["partitioned"] = [
        row for p in part.partitions(start, end) for rb in part.read(p) for row in rb.to_pylist()
    ]
    assert got["simple"] == got["partitioned"]
    want = [
        (b, q)
        for b in (0, 1)
        for q in range(max(s[b], floors[b]), e[str(b)])
    ]
    assert sorted((row["bucket"], row["seq"]) for row in got["simple"]) == want


def test_partitioned_read_yields_sorted_arrow_batches(spark, planner_store):
    """read() ships Arrow RecordBatches (no per-row driver funnel) with
    the declared schema order and rows seq-sorted within the task."""
    import pyarrow as pa

    r = _planner(planner_store, batch_size=1000)
    start = r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions(start, end)
    assert parts, "expected at least one partition"
    batches = list(r.read(parts[0]))
    assert batches and all(isinstance(b, pa.RecordBatch) for b in batches)
    names = [f.name for f in batches[0].schema]
    assert names == [
        "event_id", "ts", "user_id", "event_type", "value", "props", "seq", "bucket",
    ]
    seqs = [s for b in batches for s in b.column("seq").to_pylist()]
    assert seqs == sorted(seqs)
    assert set(
        s for b in batches for s in b.column("bucket").to_pylist()
    ) == {parts[0].bucket}


def test_partitioned_fresh_reader_never_offers_below_hwm(spark, planner_store):
    """A reader that has seen NO offset state (clean restart: Spark
    resumes from the checkpoint without calling initialOffset) must
    offer exactly the HWM — any smaller offer could regress below a
    checkpointed cursor it cannot see, and a regressed offset in the
    WAL re-serves rows after a second restart."""
    import json as _json

    from ripple_server_spark.sources.datasource import _log_bounds

    r = _planner(planner_store, batch_size=1)  # cap tiny: must NOT apply here
    cur = _json.loads(r.latestOffset()["cursors"])
    _, maxima, _ = _log_bounds(planner_store.root, "pl")
    assert cur == {b: mx + 1 for b, mx in maxima.items()}


def test_partitioned_partitions_pinned_version_fallback(spark, planner_store):
    """partitions() with a vacuumed-away pinned version falls back to
    the latest manifest instead of failing the replay."""
    import json as _json

    r = _planner(planner_store, batch_size=1000)
    start = r.initialOffset()
    end = dict(r.latestOffset())
    end["version"] = "99999"  # simulate a vacuumed-away pinned manifest
    parts = r.partitions(start, end)
    got = sum(p.upto - p.offset for p in parts)
    assert got == sum(
        int(c) for c in _json.loads(end["cursors"]).values()
    ), "fallback did not serve the full range"


def test_partitioned_manifest_parse_cached_per_version(spark, planner_store, monkeypatch):
    """Steady-state tailing must not re-parse the full manifest every
    trigger: bounds and file lists are cached per committed version,
    and a new commit (version bump) invalidates naturally."""
    from ripple_server_spark.sources import manifest

    r = _planner(planner_store, batch_size=50)
    r.initialOffset()

    calls = {"n": 0}
    real_load = manifest.load

    def counting_load(*args):
        calls["n"] += 1
        return real_load(*args)

    monkeypatch.setattr(manifest, "load", counting_load)
    start = r.latestOffset()
    first = calls["n"]
    assert first >= 1
    end = r.latestOffset()
    r.partitions(start, end)
    r.latestOffset()
    # same version throughout: everything after the first parse is served
    # from the version-stamped caches
    assert calls["n"] == first
    # a commit bumps the version and invalidates the cache
    from ripple_server_spark.catalog import load_table

    planner_store.produce(
        load_table(spark, "/root/testdata/sf0.001", "events").limit(10), "pl"
    )
    r.latestOffset()
    assert calls["n"] > first


def test_partitioned_source_watermark_drops_late_rows(spark, tmp_path):
    """Event-time integration over the partitioned ripple_topic source:
    windowed append-mode aggregation with a watermark on one long-lived
    query, draining one produce wave per processAllAvailable. The
    watermark advances between micro-batches (no-data batches finalize
    windows), a too-late row is dropped from an already-finalized
    window, and an on-time row counts — proving the source's Arrow ts
    column drives real event-time semantics, not just row transfer.
    (Per-run availableNow restarts are deliberately NOT used here: the
    Python-DataSource wrapper applies the restored watermark to
    eviction but not to late-input filtering on the first post-restart
    batch — verified identical on BOTH tiers, an engine-wrapper
    behavior, not a tier property.)"""
    import datetime as dt

    from pyspark.sql import types as T

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "wm_topics"))
    st.create_topic("wm", n_buckets=2)
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

    st.produce(mk([(0, 1), (1, 2), (2, 60)]), "wm", key_col="user_id")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "wm")
        .load()
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_wm"))
        .start()
    )
    # wave 1: [0,5) gets 2 rows; t=60 pushes the watermark to 00:50 on
    # the next trigger, so the no-data batch finalizes [0,5)
    q.processAllAvailable()
    # wave 2: a too-late row for the finalized [0,5) (dropped by the
    # watermark) and an on-time t=61 row for [60,65)
    st.produce(mk([(3, 3), (4, 61)]), "wm", key_col="user_id")
    q.processAllAvailable()
    # wave 3: t=120 pushes the watermark past [60,65) to finalize it
    st.produce(mk([(5, 120)]), "wm", key_col="user_id")
    q.processAllAvailable()
    q.stop()

    rows = {
        r["ws"].minute + r["ws"].hour * 60: r["n"]
        for r in spark.sql("SELECT * FROM wm_out").collect()
    }
    assert rows[0] == 2, rows  # the too-late event_id=3 was dropped
    assert rows[60] == 2, rows  # both on-time rows of [60,65) counted


def test_stream_start_at_consumer_resumes_from_committed_offsets(
    spark, sf_dir, tmp_path
):
    """start_at=consumer:<id> bridges the batch consumer-group surface
    (A7/A8 committed offsets) into streaming: the stream's first
    checkpoint starts exactly at that consumer's committed cursors —
    rows below them are never delivered, everything at/above is. Both
    tiers share the cursor derivation (unit-checked); the end-to-end
    leg runs the default partitioned tier."""
    import json as _json

    from ripple_server_spark.sources.datasource import (
        RippleTopicPartitionedStreamReader,
        RippleTopicStreamReader,
    )

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "cons_topics"))
    st.create_topic("cs", n_buckets=2)
    st.produce(load_table(spark, sf_dir, "events").limit(100), "cs")

    # a batch consumer reads part of each bucket and commits
    st.register_consumer("grp1", "cs")
    committed = {}
    for b in (0, 1):
        batch, nxt = st.consume("grp1", "cs", bucket=b, count=20)
        batch.count()
        st.commit("grp1", "cs", bucket=b, offset=nxt)
        committed[b] = nxt

    # both tiers derive identical initial cursors from the commits
    opts = {"root": st.root, "topic": "cs", "start_at": "consumer:grp1"}
    for reader in (
        RippleTopicPartitionedStreamReader(dict(opts), _events_schema()),
        RippleTopicStreamReader(dict(opts), _events_schema()),
    ):
        cur = _json.loads(reader.initialOffset()["cursors"])
        assert cur == {str(b): off for b, off in committed.items()}

    # an unknown consumer starts at earliest (register_consumer contract)
    fresh = RippleTopicPartitionedStreamReader(
        {"root": st.root, "topic": "cs", "start_at": "consumer:nobody"},
        _events_schema(),
    )
    assert _json.loads(fresh.initialOffset()["cursors"]) == {}

    # malformed start_at is an explicit error
    with pytest.raises(ValueError, match="start_at"):
        RippleTopicPartitionedStreamReader(
            {"root": st.root, "topic": "cs", "start_at": "consumer:"},
            _events_schema(),
        )

    # end-to-end: the stream delivers exactly the rows the consumer
    # has NOT committed past
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "cs")
        .option("start_at", "consumer:grp1")
        .load()
        .writeStream.format("memory")
        .queryName("cs_stream")
        .option("checkpointLocation", str(tmp_path / "ck_cons"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["bucket"], r["seq"])
        for r in spark.sql("SELECT bucket, seq FROM cs_stream").collect()
    }
    expected = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("cs").select("bucket", "seq").collect()
        if r["seq"] >= committed[r["bucket"]]
    }
    assert got == expected


def test_multi_topic_batch_read_unions_with_topic_column(spark, sf_dir, tmp_path):
    """topic="a,b" (Kafka subscribe parity): the batch read serves the
    union of both logs with a `topic` attribution column; single-topic
    reads keep the original schema (no topic column)."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "mt_topics"))
    ev = load_table(spark, sf_dir, "events")
    st.create_topic("mt_a", n_buckets=2)
    st.create_topic("mt_b", n_buckets=2)
    st.produce(_wave(ev, 0, 60), "mt_a")
    st.produce(_wave(ev, 60, 100), "mt_b")

    both = (
        spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "mt_a, mt_b")
        .load()
    )
    assert "topic" in both.columns
    per = {r["topic"]: r["n"] for r in both.groupBy("topic").agg(F.count("*").alias("n")).collect()}
    assert per == {"mt_a": 60, "mt_b": 40}
    single = (
        spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "mt_a")
        .load()
    )
    assert "topic" not in single.columns
    # version pinning is per-topic state: refused on multi-topic reads
    with pytest.raises(Exception, match="single topic"):
        (
            spark.read.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "mt_a,mt_b")
            .option("version", 1)
            .load()
            .count()
        )


def test_multi_topic_stream_delivers_exactly_once_per_topic(spark, sf_dir, tmp_path):
    """Streaming multi-topic subscription: one query drains both logs
    (topic column attributing rows), keeps independent per-topic
    cursors across produces, and never double-delivers."""
    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "mts_topics"))
    ev = load_table(spark, sf_dir, "events")
    st.create_topic("s_a", n_buckets=2)
    st.create_topic("s_b", n_buckets=2)
    st.produce(_wave(ev, 0, 50), "s_a")
    st.produce(_wave(ev, 50, 80), "s_b")

    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "s_a,s_b")
        .option("batch_size", 20)
        .load()
        .writeStream.format("memory")
        .queryName("mts_out")
        .option("checkpointLocation", str(tmp_path / "ck_mts"))
        .start()
    )
    q.processAllAvailable()
    # produce to ONE topic only: its cursor advances, the other's holds
    st.produce(_wave(ev, 80, 110), "s_a")
    q.processAllAvailable()
    q.stop()

    got = spark.sql(
        "SELECT topic, bucket, seq, count(*) c FROM mts_out GROUP BY 1,2,3"
    ).collect()
    assert all(r["c"] == 1 for r in got), "row delivered more than once"
    live = {
        (t, r["bucket"], r["seq"])
        for t in ("s_a", "s_b")
        for r in st.read_topic(t).select("bucket", "seq").collect()
    }
    assert {(r["topic"], r["bucket"], r["seq"]) for r in got} == live

    # the simple tier refuses multi-topic explicitly (direct call —
    # through a streaming query the error surfaces asynchronously)
    with pytest.raises(ValueError, match="partitioned tier"):
        RippleTopicDataSource(
            {"root": st.root, "topic": "s_a,s_b", "reader_tier": "simple"}
        ).simpleStreamReader(None)


def test_multi_topic_consumer_start_at_is_per_topic(spark, sf_dir, tmp_path):
    """start_at=consumer:<id> composes with multi-topic subscriptions:
    each topic's initial cursors come from that consumer group's
    commits ON THAT TOPIC (nested per-topic offsets), exactly Kafka's
    group semantics across a subscription list."""
    import json as _json

    from ripple_server_spark.sources.datasource import RippleTopicMultiStreamReader

    st = TopicStore(spark, str(tmp_path / "mc_topics"))
    ev = load_table(spark, sf_dir, "events")
    st.create_topic("mc_a", n_buckets=2)
    st.create_topic("mc_b", n_buckets=2)
    st.produce(_wave(ev, 0, 40), "mc_a")
    st.produce(_wave(ev, 40, 80), "mc_b")
    st.register_consumer("g", "mc_a")
    _, nxt = st.consume("g", "mc_a", bucket=0, count=5)
    st.commit("g", "mc_a", bucket=0, offset=nxt)
    # no commits on mc_b: it must start at earliest

    r = RippleTopicMultiStreamReader(
        {"root": st.root, "topic": "mc_a,mc_b", "start_at": "consumer:g"},
        _events_schema(multi=True),
    )
    off = r.initialOffset()
    assert set(off) == {"mc_a", "mc_b"}
    assert _json.loads(off["mc_a"]["cursors"]) == {"0": nxt}
    assert _json.loads(off["mc_b"]["cursors"]) == {}


def test_partitioned_partitions_clamps_chunks_at_floor(spark, sf_dir, tmp_path):
    """partitions() must clamp each bucket's chunk start at the pinned
    snapshot's retained floor: a consumer/earliest cursor far below a
    large floor otherwise yields ~hole/batch_size EMPTY catch-up tasks
    (ADVICE r07 — the floor was known to the reader but unused in
    chunk planning)."""
    import json as _json

    st = TopicStore(spark, str(tmp_path / "clamp_topics"))
    st.create_topic("cl", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 120), "cl")
    st.produce(_wave(ev, 120, 240), "cl")
    maxima = st._bucket_maxima("cl")
    st.truncate("cl", before_seq=min(maxima.values()) - 5)
    floors = st._bucket_floors("cl")
    assert any(f > 6 for f in floors.values()), "fixture: need a wide hole"

    r = _planner(st, topic="cl", batch_size=3)
    start = r.initialOffset()  # earliest: cursor 0, far below the floor
    end = r.latestOffset()  # post-restart catch-up: offers everything
    parts = r.partitions(start, end)
    e = _json.loads(end["cursors"])
    for b, fl in floors.items():
        bucket_parts = [p for p in parts if p.bucket == int(b)]
        upto = e[str(b)]
        if bucket_parts:
            # chunking starts AT the floor, not at 0
            assert min(p.offset for p in bucket_parts) == max(0, min(fl, upto))
        expected = max(0, -(-(upto - fl) // 3))  # ceil(retained range / batch)
        assert len(bucket_parts) == expected, (
            f"bucket {b}: {len(bucket_parts)} chunks for a "
            f"{upto - fl}-seq retained range (floor {fl})"
        )
    # the clamped plan still serves every retained row exactly once
    # (drive triggers to convergence — each end offset is admission-
    # capped at batch_size seqs per bucket)
    got = [
        x
        for p in parts
        for batch in r.read(p)
        for x in batch.column("seq").to_pylist()
    ]
    cur = end
    for _ in range(200):
        nxt = r.latestOffset()
        if nxt["cursors"] == cur["cursors"]:
            break
        got.extend(
            x
            for p in r.partitions(cur, nxt)
            for batch in r.read(p)
            for x in batch.column("seq").to_pylist()
        )
        cur = nxt
    live = sorted(
        x["seq"]
        for x in TopicStore(spark, st.root).read_topic("cl").select("seq").collect()
    )
    assert sorted(got) == live


def test_consumer_start_at_rejects_path_traversal(spark, planner_store):
    """consumer ids are interpolated into the offsets/<id>--<topic>.json
    path — separators and '..' must be rejected (ADVICE r07)."""
    from ripple_server_spark.sources.datasource import _check_start_at

    for bad in ("consumer:../x", "consumer:a/b", "consumer:..", "consumer:x/../y"):
        with pytest.raises(ValueError, match="flat name"):
            _check_start_at(bad)
    with pytest.raises(ValueError, match="flat name"):
        _planner(planner_store, start_at="consumer:../../etc/passwd")
    assert _check_start_at("consumer:c1") == "consumer:c1"


def test_duplicate_topic_subscription_dedups(spark, planner_store):
    """topic='pl,pl' must not double every row in batch reads — the
    streaming multi reader already dedups via its per-topic dict, so
    both sides agree on order-preserving dedup (ADVICE r07)."""
    spark.dataSource.register(RippleTopicDataSource)
    one = (
        spark.read.format("ripple_topic")
        .option("root", planner_store.root)
        .option("topic", "pl")
        .load()
    )
    dup = (
        spark.read.format("ripple_topic")
        .option("root", planner_store.root)
        .option("topic", "pl,pl")
        .load()
    )
    n = one.count()
    assert n >= 100 and dup.count() == n
    # dedup to a single name keeps the single-topic schema (no `topic`
    # attribution column), matching what the subscription resolves to
    assert dup.columns == one.columns


def test_subscribe_pattern_batch_and_stream(spark, sf_dir, tmp_path):
    """subscribePattern (Kafka parity): the regex resolves against
    topics/ at query start; matches take the multi-topic path (topic
    attribution column) even on a single match, so a pattern's schema
    is stable as the topic set grows."""
    st = TopicStore(spark, str(tmp_path / "pat_topics"))
    ev = load_table(spark, sf_dir, "events")
    for t, lo in (("logs_a", 0), ("logs_b", 100), ("other", 200)):
        st.create_topic(t, n_buckets=2)
        st.produce(_wave(ev, lo, lo + 50), t)
    spark.dataSource.register(RippleTopicDataSource)

    df = (
        spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("subscribePattern", "logs_.*")
        .load()
    )
    assert "topic" in df.columns
    by_topic = {r["topic"]: r["n"] for r in df.groupBy("topic").agg(
        F.count("*").alias("n")).collect()}
    assert by_topic == {"logs_a": 50, "logs_b": 50}  # 'other' excluded

    # single-match pattern still carries the attribution column
    one = (
        spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("subscribePattern", "logs_a")
        .load()
    )
    assert "topic" in one.columns and one.count() == 50

    # streaming side: same resolution, exactly-once per topic
    rows = []
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("subscribePattern", "logs_.*")
        .option("batch_size", 20)
        .load()
        .writeStream.foreachBatch(
            lambda b, _i: rows.extend(
                (r["topic"], r["event_id"]) for r in b.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "pat_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(rows) == 100 and len(set(rows)) == 100
    assert {t for t, _ in rows} == {"logs_a", "logs_b"}

    # no-match and both-options are loud errors
    with pytest.raises(Exception, match="matches no topics"):
        spark.read.format("ripple_topic").option("root", st.root).option(
            "subscribePattern", "nope_.*"
        ).load().count()
    with pytest.raises(Exception, match="exactly one"):
        spark.read.format("ripple_topic").option("root", st.root).option(
            "subscribePattern", "logs_.*"
        ).option("topic", "logs_a").load().count()


def test_stream_position_hands_over_to_consumer_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """commit_stream_position (reverse of start_at=consumer:<id>): after
    a stream drains the topic, the bridged consumer's consume() resumes
    at exactly the next produced seq — no replay, no skip. The cursors
    are checked against one data-manifest version (one load)."""
    from ripple_server_spark.sources import manifest
    from ripple_server_spark.streaming.api import commit_stream_position

    st = TopicStore(spark, str(tmp_path / "hand_topics"))
    st.create_topic("h1", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 100), "h1")
    spark.dataSource.register(RippleTopicDataSource)
    ckpt = str(tmp_path / "hand_ck")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "h1")
        .option("batch_size", 30)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    loads: list[int] = []
    real_load = manifest.load

    def counting(root, topic, version, log=manifest.LOG):
        if log == manifest.LOG:
            loads.append(version)
        return real_load(root, topic, version, log)

    monkeypatch.setattr(manifest, "load", counting)
    committed = commit_stream_position(st, ckpt, "h1", "takeover")
    monkeypatch.undo()
    assert len(loads) == 1
    maxima = st._bucket_maxima("h1")
    assert committed == {b: mx + 1 for b, mx in maxima.items()}
    assert st.committed_offsets("takeover", "h1") == committed

    # nothing new yet: the consumer sees zero rows (no replay)
    for b in maxima:
        batch, nxt = st.consume("takeover", "h1", bucket=b, count=1000)
        assert batch.count() == 0 and nxt == committed[b]
    # produce more: the consumer resumes at exactly the next seq
    st.produce(_wave(ev, 100, 140), "h1")
    got = 0
    for b in st._bucket_maxima("h1"):
        batch, nxt = st.consume("takeover", "h1", bucket=b, count=1000)
        n = batch.count()
        got += n
        assert batch.agg(F.min("seq")).first()[0] in (None, committed.get(b))
    assert got == 40

    # a checkpoint with no committed batch refuses the handover
    with pytest.raises(ValueError, match="no committed micro-batch"):
        commit_stream_position(st, str(tmp_path / "empty_ck"), "h1", "x")


def test_missing_required_options_fail_actionably(spark):
    """A scan without root/topic must raise the documented ValueError
    (naming the SQL CREATE TABLE USING caveat), never a bare KeyError —
    SQL-registered Python data source tables resolve their schema WITH
    the options but scan with an empty option map."""
    from ripple_server_spark.sources.datasource import (
        RippleTopicPartitionedStreamReader,
        RippleTopicReader,
        RippleTopicStreamReader,
    )

    for cls in (
        RippleTopicReader,
        RippleTopicPartitionedStreamReader,
        RippleTopicStreamReader,
    ):
        with pytest.raises(ValueError, match="option 'root' is required"):
            cls({"topic": "t"}, _events_schema())
    with pytest.raises(ValueError, match="'topic' or 'subscribePattern'"):
        RippleTopicReader({"root": "/tmp/x"}, _events_schema())


def test_stream_picks_up_expanded_buckets(spark, sf_dir, tmp_path):
    """Bucket expansion under a LIVE stream: the partitioned reader
    plans offsets from the manifest's maxima, so buckets added by
    expand_buckets() appear in the next trigger's cursors and their
    rows deliver exactly once — no restart needed (Kafka parity: a
    consumer picks up added partitions)."""
    st = TopicStore(spark, str(tmp_path / "exp_stream"))
    st.create_topic("es", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.produce(_wave(ev, 0, 100), "es")
    spark.dataSource.register(RippleTopicDataSource)
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "es")
        .option("batch_size", 50)
        .load()
        .writeStream.format("memory")
        .queryName("m_expand")
        .option("checkpointLocation", str(tmp_path / "ck_expand"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM m_expand").first()["c"] == 100
        st.expand_buckets("es", 4)
        st.produce(_wave(ev, 100, 220), "es")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT bucket, seq, count(*) c FROM m_expand GROUP BY 1, 2"
    ).collect()
    assert all(r["c"] == 1 for r in got), "duplicate delivery"
    live = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("es").select("bucket", "seq").collect()
    }
    assert {(r["bucket"], r["seq"]) for r in got} == live
    assert {r["bucket"] for r in got} == {0, 1, 2, 3}


def test_handover_rejects_mismatched_topic(spark, sf_dir, tmp_path):
    """Review r08: commit_stream_position must refuse cursors that
    cannot belong to the target topic (bucket ids beyond n_buckets or
    cursors beyond the HWM), instead of silently committing offsets
    from the wrong checkpoint."""
    from ripple_server_spark.streaming.api import commit_stream_position

    st = TopicStore(spark, str(tmp_path / "mismatch_topics"))
    ev = load_table(spark, sf_dir, "events")
    st.create_topic("big", n_buckets=4)
    st.produce(_wave(ev, 0, 400), "big")
    st.create_topic("small", n_buckets=2)
    st.produce(_wave(ev, 0, 20), "small")
    spark.dataSource.register(RippleTopicDataSource)
    ckpt = str(tmp_path / "mm_ck")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "big")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    with pytest.raises(ValueError, match="different topic"):
        commit_stream_position(st, ckpt, "small", "oops")
    # the correctly-paired handover still works
    got = commit_stream_position(st, ckpt, "big", "ok")
    assert got == {b: mx + 1 for b, mx in st._bucket_maxima("big").items()}


def test_handover_topic_stamp_beats_shape_compatibility(spark, sf_dir, tmp_path):
    """ADVICE r08 (streaming/api.py commit_stream_position): a wrong
    checkpoint/topic pairing of COMPATIBLE shape (same n_buckets,
    cursors below the target's HWM) must be rejected by the topic name
    the partitioned reader now records in its packed offsets — the
    range/HWM heuristic alone cannot see it and would silently commit
    wrong consumer cursors (skip/replay of arbitrary ranges)."""
    from ripple_server_spark.streaming.api import commit_stream_position

    st = TopicStore(spark, str(tmp_path / "stamp_topics"))
    ev = load_table(spark, sf_dir, "events")
    st.create_topic("shape_a", n_buckets=2)
    st.produce(_wave(ev, 0, 60), "shape_a")
    st.create_topic("shape_b", n_buckets=2)  # SAME bucket count
    st.produce(_wave(ev, 0, 300), "shape_b")  # higher HWM everywhere
    spark.dataSource.register(RippleTopicDataSource)
    ckpt = str(tmp_path / "stamp_ck")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "shape_a")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # shape-compatible but wrong topic: heuristic would pass, stamp must not
    with pytest.raises(ValueError, match="different topic"):
        commit_stream_position(st, ckpt, "shape_b", "wrong")
    got = commit_stream_position(st, ckpt, "shape_a", "right")
    assert got == {b: mx + 1 for b, mx in st._bucket_maxima("shape_a").items()}


def test_handover_legacy_checkpoint_without_stamp_still_works(
    spark, sf_dir, tmp_path
):
    """Checkpoints written before the topic stamp (offsets carrying only
    cursors/version) must still hand over via the uniqueness + manifest
    shape heuristic — stamping is additive, not a format break."""
    import json as _json

    from ripple_server_spark.streaming.api import commit_stream_position

    st = TopicStore(spark, str(tmp_path / "legacy_topics"))
    ev = load_table(spark, sf_dir, "events")
    st.create_topic("leg", n_buckets=2)
    st.produce(_wave(ev, 0, 80), "leg")
    spark.dataSource.register(RippleTopicDataSource)
    ckpt = str(tmp_path / "legacy_ck")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "leg")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # strip the stamp from every offset-WAL line -> a legacy checkpoint
    offs = os.path.join(ckpt, "offsets")
    for name in os.listdir(offs):
        p = os.path.join(offs, name)
        if not name.isdigit():
            continue
        lines = open(p).read().splitlines()
        out = []
        for i, ln in enumerate(lines):
            if i >= 2 and ln:
                try:
                    d = _json.loads(ln)
                    if isinstance(d, dict):
                        d.pop("topic", None)
                        ln = _json.dumps(d)
                except _json.JSONDecodeError:
                    pass
            out.append(ln)
        with open(p, "w") as f:
            f.write("\n".join(out))
    got = commit_stream_position(st, ckpt, "leg", "legacy")
    assert got == {b: mx + 1 for b, mx in st._bucket_maxima("leg").items()}


def test_register_topic_view_gives_sql_access(spark, sf_dir, tmp_path):
    """register_topic_view (the supported SQL-DDL path): SQL over the
    registered view works with bucket pruning intact, extra reader
    options pass through, and the option-required error a CREATE TABLE
    ... USING ripple_topic scan hits points at the helper."""
    from ripple_server_spark.catalog import register_topic_view

    st = TopicStore(spark, str(tmp_path / "view_topics"))
    st.create_topic("sqlt", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 120), "sqlt")
    spark.dataSource.register(RippleTopicDataSource)

    df = register_topic_view(spark, st.root, "sqlt")
    got = spark.sql(
        "SELECT bucket, count(*) AS n FROM sqlt GROUP BY bucket ORDER BY bucket"
    ).collect()
    assert sum(r["n"] for r in got) == 120
    assert df.count() == 120
    # custom view name + pass-through option (per-bucket offset floor)
    register_topic_view(spark, st.root, "sqlt", view="sqlt_tail", offset="10")
    tail = spark.sql("SELECT count(*) AS n FROM sqlt_tail").first()["n"]
    expect = spark.sql(
        "SELECT count(*) AS n FROM sqlt WHERE seq >= 10"
    ).first()["n"]
    assert tail == expect < 120
    # the SQL-table scan failure names the helper
    with pytest.raises(Exception, match="register_topic_view"):
        spark.read.format("ripple_topic").options(topic="sqlt").load().count()


def test_subscribe_pattern_discovers_new_topic_mid_stream(spark, sf_dir, tmp_path):
    """VERDICT r08 item 5 (Kafka connector parity): a topic created
    AFTER a subscribePattern stream starts is admitted at the next
    trigger boundary and delivers its full retained log exactly once —
    no restart needed; the pre-existing topics keep their cursors."""
    st = TopicStore(spark, str(tmp_path / "disc_topics"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.create_topic("disc_a", n_buckets=2)
    st.produce(_wave(ev, 0, 60), "disc_a")
    spark.dataSource.register(RippleTopicDataSource)
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("subscribePattern", "disc_.*")
        .load()
        .writeStream.format("memory")
        .queryName("m_disc")
        .option("checkpointLocation", str(tmp_path / "disc_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert (
            spark.sql("SELECT count(*) c FROM m_disc").first()["c"] == 60
        )
        # create a MATCHING topic mid-query + append to the old one
        st.create_topic("disc_b", n_buckets=2)
        st.produce(_wave(ev, 200, 280), "disc_b")
        st.produce(_wave(ev, 60, 90), "disc_a")
        q.processAllAvailable()
        # a non-matching topic is never admitted
        st.create_topic("other_c", n_buckets=2)
        st.produce(_wave(ev, 300, 310), "other_c")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT topic, bucket, seq, count(*) c FROM m_disc GROUP BY 1, 2, 3"
    ).collect()
    assert all(r["c"] == 1 for r in got), "duplicate delivery"
    per_topic = {}
    for r in got:
        per_topic[r["topic"]] = per_topic.get(r["topic"], 0) + 1
    assert per_topic == {"disc_a": 90, "disc_b": 80}, per_topic


def test_subscribe_pattern_discovery_survives_restart(spark, sf_dir, tmp_path):
    """Recovery leg of mid-stream discovery: after a pattern stream
    discovers a topic and stops, a restart from the same checkpoint
    (a) replays nothing, (b) keeps consuming BOTH topics — the
    partitions()/commit() path must materialize sub-readers from the
    checkpointed offset's topic keys, since the restarted reader never
    ran discovery for the old topics."""
    st = TopicStore(spark, str(tmp_path / "rst_topics"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.create_topic("rst_a", n_buckets=2)
    st.produce(_wave(ev, 0, 50), "rst_a")
    spark.dataSource.register(RippleTopicDataSource)
    ck = str(tmp_path / "rst_ck")
    delivered: list[tuple[str, int, int]] = []

    def sink(df, _epoch):
        delivered.extend(
            (r["topic"], r["bucket"], r["seq"])
            for r in df.select("topic", "bucket", "seq").collect()
        )

    def start():
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("subscribePattern", "rst_.*")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
        st.create_topic("rst_b", n_buckets=2)
        st.produce(_wave(ev, 100, 160), "rst_b")
        q.processAllAvailable()
    finally:
        q.stop()
    # restart: produce to BOTH topics, same checkpoint
    st.produce(_wave(ev, 50, 80), "rst_a")
    st.produce(_wave(ev, 160, 200), "rst_b")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(delivered) == len(set(delivered)), "replay across restart"
    per_topic = {}
    for t, _b, _s in delivered:
        per_topic[t] = per_topic.get(t, 0) + 1
    assert per_topic == {"rst_a": 80, "rst_b": 100}, per_topic


@pytest.mark.parametrize("tier", ["partitioned", "simple"])
def test_stream_starts_at_timestamp(spark, sf_dir, tmp_path, tier):
    """start_at=timestamp:<epoch_ms> (Kafka offsetsForTimes parity,
    both reader tiers): the first checkpoint's cursors land on the
    first at/after-T message per bucket, so the stream delivers
    exactly the rows with ts >= T — and a bucket with nothing after T
    starts at its high-water mark instead of replaying."""
    st = TopicStore(spark, str(tmp_path / f"ts_topics_{tier}"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.create_topic("ts1", n_buckets=4)
    st.produce(ev, "ts1")  # full fixture month: T lands mid-stream
    spark.dataSource.register(RippleTopicDataSource)
    t_ms = 1705276800000  # 2024-01-15T00:00:00Z, mid-fixture
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "ts1")
        .option("start_at", f"timestamp:{t_ms}")
        .option("reader_tier", tier)
        .load()
        .writeStream.format("memory")
        .queryName(f"m_ts_{tier}")
        .option("checkpointLocation", str(tmp_path / f"ck_ts_{tier}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["bucket"], r["seq"])
        for r in spark.sql(f"SELECT bucket, seq FROM m_ts_{tier}").collect()
    }
    expect = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("ts1")
        .filter(F.unix_millis("ts") >= t_ms)
        .select("bucket", "seq")
        .collect()
    }
    assert got == expect and expect  # exact at/after-T replay
    # batch surface agrees with an independent Spark reference, and
    # with the first delivered seqs
    offs = st.offsets_for_times("ts1", t_ms)
    assert offs == offsets_for_times_reference(st, "ts1", t_ms)
    first = {}
    for b, s in got:
        first[b] = min(s, first.get(b, 1 << 60))
    for b, o in offs.items():
        assert first.get(b, st._bucket_maxima("ts1")[b] + 1) == o
    # a far-future T tails (nothing replayed), per-bucket HWM offsets
    future = st.offsets_for_times("ts1", 4102444800000)  # 2100-01-01
    assert future == {b: mx + 1 for b, mx in st._bucket_maxima("ts1").items()}
    # malformed timestamps are loud
    with pytest.raises(Exception, match="start_at must be"):
        spark.read.format("ripple_topic").option("root", st.root).option(
            "topic", "ts1"
        )  # batch reader has no start_at; validate via stream reader class
        from ripple_server_spark.sources.datasource import (
            RippleTopicPartitionedStreamReader,
        )

        RippleTopicPartitionedStreamReader(
            {"root": st.root, "topic": "ts1", "start_at": "timestamp:tomorrow"},
            _events_schema(),
        )


def test_fixed_list_restart_does_not_resurrect_removed_topic(
    spark, sf_dir, tmp_path
):
    """Review r09: restarting a checkpoint written with topic="a,b"
    under topic="a,c" must NOT keep serving "b" — the checkpointed
    offset still names it, but a FIXED-list reader only serves its
    current subscription (pattern mode is the one that trusts offset
    keys); the newly-listed "c" joins from its retained log."""
    st = TopicStore(spark, str(tmp_path / "shrink_topics"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.create_topic("shr_a", n_buckets=2)
    st.create_topic("shr_b", n_buckets=2)
    st.create_topic("shr_c", n_buckets=2)
    st.produce(_wave(ev, 0, 40), "shr_a")
    st.produce(_wave(ev, 100, 150), "shr_b")
    spark.dataSource.register(RippleTopicDataSource)
    ck = str(tmp_path / "shrink_ck")
    delivered: list[tuple[str, int, int]] = []

    def sink(df, _epoch):
        delivered.extend(
            (r["topic"], r["bucket"], r["seq"])
            for r in df.select("topic", "bucket", "seq").collect()
        )

    def start(topics):
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", topics)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start("shr_a,shr_b")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {t for t, _, _ in delivered} == {"shr_a", "shr_b"}
    delivered.clear()
    # restart with "shr_b" dropped and "shr_c" added; produce everywhere
    st.produce(_wave(ev, 40, 70), "shr_a")
    st.produce(_wave(ev, 150, 180), "shr_b")
    st.produce(_wave(ev, 200, 210), "shr_c")
    q = start("shr_a,shr_c")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {}
    for t, _b, _s in delivered:
        got[t] = got.get(t, 0) + 1
    assert got == {"shr_a": 30, "shr_c": 10}, (
        f"removed topic resurrected or added topic missed: {got}"
    )


def _store_offsets(st, topic, epoch_ms):
    return st.offsets_for_times(topic, epoch_ms)


def _stream_cursors(st, topic, epoch_ms):
    from ripple_server_spark.sources.datasource import (
        _check_start_at,
        _initial_cursors,
    )

    start_at = _check_start_at(f"timestamp:{epoch_ms}")
    return {int(b): o for b, o in _initial_cursors(st.root, topic, start_at).items()}


@pytest.mark.parametrize(
    "surface", [_store_offsets, _stream_cursors], ids=["store", "stream"]
)
def test_timestamp_start_far_future_tails_not_crashes(
    spark, sf_dir, tmp_path, surface
):
    """Review r09: a timestamp anchor outside the int64 microsecond
    range must not overflow, on the batch surface and the stream's
    start cursors alike. A far-future T tails from the HWM (Kafka's
    null-offset-means-end convention); a far-past T starts at each
    bucket's first retained seq (Kafka's before-earliest -> earliest)."""
    st = TopicStore(spark, str(tmp_path / "far_topics"))
    st.create_topic("far", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.produce(ev.filter(F.col("event_id") < 60), "far")
    first_wave = st._bucket_maxima("far")
    st.produce(ev.filter(F.col("event_id").between(500, 559)), "far")
    # age out the first wave, so the first retained seq is not 0
    st._truncate_bounds("far", lambda b: first_wave[int(b)] + 1)
    floors = st._bucket_floors("far")
    assert sorted(floors) == [0, 1] and all(floors.values())
    hwm = {b: mx + 1 for b, mx in st._bucket_maxima("far").items()}
    # year ~2262+ in ms: * 1e6 for an ns column exceeds int64
    assert surface(st, "far", 9_300_000_000_000) == hwm
    # and an absurd sentinel far past any unit's range
    assert surface(st, "far", 10**17) == hwm
    assert surface(st, "far", -(10**17)) == floors


def test_pattern_narrowing_restart_does_not_resurrect(spark, sf_dir, tmp_path):
    """Review r09 (second pass): narrowing a subscribePattern between
    restarts must drop the no-longer-matching topics even when the
    checkpointed offsets still name them — same rule as fixed lists."""
    st = TopicStore(spark, str(tmp_path / "nar_topics"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.create_topic("nar_a1", n_buckets=2)
    st.create_topic("nar_b1", n_buckets=2)
    st.produce(_wave(ev, 0, 30), "nar_a1")
    st.produce(_wave(ev, 100, 140), "nar_b1")
    spark.dataSource.register(RippleTopicDataSource)
    ck = str(tmp_path / "nar_ck")
    delivered: list[tuple[str, int, int]] = []

    def sink(df, _epoch):
        delivered.extend(
            (r["topic"], r["bucket"], r["seq"])
            for r in df.select("topic", "bucket", "seq").collect()
        )

    def start(pattern):
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("subscribePattern", pattern)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start("nar_.*")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {t for t, _, _ in delivered} == {"nar_a1", "nar_b1"}
    delivered.clear()
    st.produce(_wave(ev, 30, 50), "nar_a1")
    st.produce(_wave(ev, 140, 160), "nar_b1")
    q = start("nar_a.*")  # narrowed: nar_b1 no longer matches
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert delivered
    assert {t for t, _, _ in delivered} == {"nar_a1"}, delivered[:5]
    assert len(delivered) == 20


def test_mixed_era_topic_timestamp_surfaces(spark, sf_dir, tmp_path):
    """Upgrade path (review r09): a topic holding pre-round-9 INT96
    files (pyarrow: naive ns, no ts stats) AND round-9+ MICROS files
    (tz-aware us, stats) must serve every time surface — batch read,
    offsets_for_times, start_at=timestamp streams on both tiers, and
    truncate_before_timestamp — without kernel-mismatch crashes and
    with exact at/after-T results."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    st = TopicStore(spark, str(tmp_path / "era_topics"))
    st.create_topic("era", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    t_ms = 1705276800000  # 2024-01-15T00:00:00Z
    old_w = ev.filter(F.unix_millis("ts") < t_ms)
    new_w = ev.filter(F.unix_millis("ts") >= t_ms)
    # wave 1 lands as round-9 MICROS files via produce
    st.produce(old_w, "era")
    # wave 2: rewrite produce's staged output as INT96 files in place,
    # simulating a pre-round-9 era (same rows, same seqs, INT96 ts)
    st.produce(new_w, "era")
    _v, m = st.latest_manifest("era")
    data = st.data_dir("era")
    n_rewritten = 0
    for rel in m["files"]:
        p = os.path.join(data, rel)
        tbl = pq.read_table(p)
        md = pq.read_metadata(p)
        i = md.schema.to_arrow_schema().get_field_index("ts")
        if md.schema.column(i).physical_type == "INT96":
            continue
        # only wave-2 files (those holding any at/after-T row)
        import pyarrow.compute as pc

        ms = pc.cast(pc.cast(tbl.column("ts"), pa.timestamp("us")), pa.int64())
        if pc.max(ms).as_py() // 1000 < t_ms:
            continue
        pq.write_table(tbl, p, use_deprecated_int96_timestamps=True)
        n_rewritten += 1
    assert n_rewritten >= 1, "no file rewritten to INT96 — fixture drift"

    n_new = new_w.count()
    # batch read spans both eras with exact ts values
    got = st.read_topic("era")
    assert got.count() == ev.count()
    assert got.filter(F.unix_millis("ts") >= t_ms).count() == n_new
    # offsets_for_times and the stream's start cursors match an
    # independent Spark reference across eras
    from ripple_server_spark.sources.datasource import _initial_cursors

    ref = offsets_for_times_reference(st, "era", t_ms)
    assert st.offsets_for_times("era", t_ms) == ref
    cur = _initial_cursors(st.root, "era", f"timestamp:{t_ms}")
    assert cur == {str(b): o for b, o in ref.items()}
    spark.dataSource.register(RippleTopicDataSource)
    for tier in ("partitioned", "simple"):
        q = (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "era")
            .option("start_at", f"timestamp:{t_ms}")
            .option("reader_tier", tier)
            .load()
            .writeStream.format("memory")
            .queryName(f"m_era_{tier}")
            .option("checkpointLocation", str(tmp_path / f"ck_era_{tier}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n = spark.sql(f"SELECT count(*) c FROM m_era_{tier}").first()["c"]
        assert n == n_new, (tier, n, n_new)
    # retention across the era split
    assert st.truncate_before_timestamp("era", t_ms) >= 1
    assert st.read_topic("era").count() == n_new


def test_stream_handover_fenced_by_group_generation(spark, sf_dir, tmp_path):
    """VERDICT r09 item 7: a stream handing its cursors to a consumer-
    group member whose generation has rotated must fail LOUDLY and
    commit NOTHING — never a partial or stale cursor set."""
    from ripple_server_spark.sources.topics import StaleGenerationError
    from ripple_server_spark.streaming.api import commit_stream_position

    st = TopicStore(spark, str(tmp_path / "genh_topics"))
    st.create_topic("gh", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(_wave(ev, 0, 80), "gh")
    spark.dataSource.register(RippleTopicDataSource)
    ckpt = str(tmp_path / "genh_ck")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "gh")
        .option("batch_size", 40)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # one-member group: the sole member owns both buckets
    st.assign_buckets("gh", "mg", 1)
    gen1 = st.group_state("gh", "mg")["generation"]
    # the group rotates before the handover lands
    st.assign_buckets("gh", "mg", 2)

    with pytest.raises(StaleGenerationError, match="rebalanced"):
        commit_stream_position(
            st, ckpt, "gh", "mg-0", group_id="mg", generation=gen1
        )
    # atomic: NOTHING was committed for the fenced member
    assert st.committed_offsets("mg-0", "gh") == {}

    # with the current epoch, the handover only covers the member's own
    # range — bucket 1 now belongs to mg-1, so the full-cursor handover
    # is fenced too (hand over per-member, after re-joining)
    gen2 = st.group_state("gh", "mg")["generation"]
    with pytest.raises(StaleGenerationError, match="does not own"):
        commit_stream_position(
            st, ckpt, "gh", "mg-0", group_id="mg", generation=gen2
        )
    assert st.committed_offsets("mg-0", "gh") == {}

    # shrink back to one member: epoch bumps again, and the handover
    # with the fresh epoch commits the full cursor set exactly once
    st.assign_buckets("gh", "mg", 1)
    gen3 = st.group_state("gh", "mg")["generation"]
    assert gen3 == gen2 + 1
    committed = commit_stream_position(
        st, ckpt, "gh", "mg-0", group_id="mg", generation=gen3
    )
    maxima = st._bucket_maxima("gh")
    assert committed == {b: mx + 1 for b, mx in maxima.items()}
    assert st.committed_offsets("mg-0", "gh") == committed
    # ungrouped handover (the pre-fencing surface) still works
    committed2 = commit_stream_position(st, ckpt, "gh", "plain")
    assert committed2 == committed


def test_mid_stream_discovered_topic_admission_is_capped(spark, sf_dir, tmp_path):
    """VERDICT r09 item 4: a topic discovered at a trigger boundary has
    no checkpointed cursor to protect, so it is admitted at batch_size
    seqs per bucket per trigger — a newly-matched huge topic drains
    across ordinary micro-batches instead of landing in one batch whose
    replay granularity is the whole retained log. Restart mid-history
    stays exact (no dupes, no gaps)."""
    st = TopicStore(spark, str(tmp_path / "cap_topics"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.create_topic("cap_a", n_buckets=2)
    st.produce(_wave(ev, 0, 20), "cap_a")
    spark.dataSource.register(RippleTopicDataSource)
    ck = str(tmp_path / "cap_ck")
    batches: list[tuple[int, str, int, int]] = []  # (epoch, topic, bucket, n)

    def sink(df, epoch):
        for r in df.groupBy("topic", "bucket").count().collect():
            batches.append((epoch, r["topic"], r["bucket"], r["count"]))

    def start():
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("subscribePattern", "cap_.*")
            .option("batch_size", 25)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()  # cap_a drained; batch boundary passed
        # a LARGE topic newly matches mid-stream: 300 rows, 2 buckets
        st.create_topic("cap_big", n_buckets=2)
        st.produce(_wave(ev, 100, 400), "cap_big")
        q.processAllAvailable()
    finally:
        q.stop()

    big = [(e, b, n) for (e, t, b, n) in batches if t == "cap_big"]
    assert big, "discovered topic never delivered"
    # every micro-batch delivered <= batch_size rows per bucket of the
    # discovered topic — including its FIRST batch (the capped offer)
    assert all(n <= 25 for (_e, _b, n) in big), big
    # the drain spanned multiple triggers (~150 rows/bucket / 25)
    assert len({e for (e, _b, _n) in big}) >= 3
    assert sum(n for (_e, _b, n) in big) == 300  # nothing lost
    # restart mid-history: append to the discovered topic, replay exact
    st.produce(_wave(ev, 400, 440), "cap_big")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    total = sum(n for (_e, t, _b, n) in batches if t == "cap_big")
    assert total == 340, "duplicate or lost rows across restart"
    # pre-existing topics were untouched by the discovery cap
    assert sum(n for (_e, t, _b, n) in batches if t == "cap_a") == 20


@pytest.mark.parametrize("tier", ["partitioned", "simple"])
def test_stream_drains_key_compacted_topic_with_seq_gaps(spark, sf_dir, tmp_path, tier):
    """Key compaction leaves seq GAPS; the streaming source's seq-range
    admission must deliver exactly the surviving rows (no phantom
    waits, no duplicates), and a restart mid-history replays exactly —
    the first streaming x compact_by_key integration pin."""
    st = TopicStore(spark, str(tmp_path / "gap_topics"))
    st.create_topic("gp", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # three waves with repeating keys, then compact: ~90% rows vanish
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        st.produce(_wave(ev, lo, hi), "gp")
    dropped = st.compact_by_key("gp", key_col="user_id")
    survivors = st.read_topic("gp").count()
    assert dropped > 0 and survivors + dropped == 300

    spark.dataSource.register(RippleTopicDataSource)
    ck = str(tmp_path / "gp_ck")
    seen: list[tuple[int, int]] = []

    def sink(df, _epoch):
        seen.extend(
            (r["bucket"], r["seq"]) for r in df.select("bucket", "seq").collect()
        )

    def start():
        return (
            spark.readStream.format("ripple_topic")
            .option("root", st.root)
            .option("topic", "gp")
            .option("batch_size", 40)
            .option("reader_tier", tier)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == survivors, (len(seen), survivors)
    assert len(set(seen)) == len(seen), "duplicate delivery across gaps"

    # restart: a fresh produce (new versions for some keys) appends
    # above the HWM; replay must deliver only the new rows
    st.produce(_wave(ev, 300, 340), "gp")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == survivors + 40
    assert len(set(seen)) == len(seen)


# -- the schema comes from the topics' recorded message schemas ---------


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _streamed(spark, st, topic, name, **opts):
    """Everything one streaming query over ``topic`` delivers."""
    q = topic_stream(st, topic, **opts).writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_non_events_topic_reads_its_recorded_schema(spark, tmp_path):
    """A membership topic (no user_id, no value) is served with exactly
    its recorded columns plus ``bucket`` by the batch reader and both
    stream tiers, row for row what read_topic serves."""
    import datetime as dt

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "member_topics"))
    st.create_topic("members", n_buckets=2)
    t0 = dt.datetime(2026, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), i % 3, 10 + i, i % 4 != 0) for i in range(12)]
    ddl = "event_id long, ts timestamp, group long, member long, alive boolean"
    st.produce(spark.createDataFrame(rows, ddl), "members", key_col="group")
    want = st.read_topic("members")
    cols = ["event_id", "ts", "group", "member", "alive", "seq", "bucket"]
    assert want.columns == cols
    got = {
        "batch": spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "members")
        .load(),
        "partitioned": _streamed(spark, st, "members", "m_members_p"),
        "simple": _streamed(spark, st, "members", "m_members_s", reader_tier="simple"),
    }
    for reader, df in got.items():
        assert df.columns == cols, reader
        assert _rows(df) == _rows(want), reader


def test_evolved_column_missing_from_first_file_reads_as_typed_nulls(
    spark, sf_dir, tmp_path
):
    """An evolved column that a bucket's FIRST file lacks is still
    served — typed nulls for the older rows — equal to read_topic at the
    same version, by the batch reader and the stream."""
    import pyarrow.parquet as pq

    from ripple_server_spark.sources import manifest
    from ripple_server_spark.sources.datasource import _SEQ_END

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "evo_topics"))
    st.create_topic("evo", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    # the first wave goes through the native sink: its dsw-* files sort
    # before produce's prd-* files, so every bucket's first file is one
    # without the `lang` column the second wave adds
    (
        _wave(ev, 0, 50)
        .write.format("ripple_topic")
        .mode("append")
        .option("root", st.root)
        .option("topic", "evo")
        .save()
    )
    st.produce(_wave(ev, 50, 100).withColumn("lang", F.lit("en")), "evo")
    m = st.latest_manifest("evo")[1]
    planned = manifest.plan(m, {b: (0, _SEQ_END) for b in range(int(m["n_buckets"]))})
    for _b, rels in planned.items():
        first = os.path.join(st.data_dir("evo"), rels[0])
        assert "lang" not in pq.read_schema(first).names
    version = st.latest_manifest("evo")[0]
    want = st.read_topic("evo", version=version)
    batch = (
        spark.read.format("ripple_topic")
        .option("root", st.root)
        .option("topic", "evo")
        .option("version", version)
        .load()
    )
    for df in (batch, _streamed(spark, st, "evo", "m_evo")):
        assert sorted(df.columns) == sorted(want.columns)
        assert dict(df.dtypes)["lang"] == "string"
        assert _rows(df.select(*want.columns)) == _rows(want)
        langs = [r["lang"] for r in df.select("lang").collect()]
        assert langs.count(None) == 50 and langs.count("en") == 50


def test_schemaless_topic_reads_as_events_layout(spark, sf_dir, tmp_path):
    """Nothing produced yet: both read paths type the topic with
    TOPIC_SCHEMA_DDL, and a stream started then serves the events
    produced afterwards (the stream_tail benchmark starts this way)."""
    from pyspark.sql.types import StructType

    from ripple_server_spark.sources.datasource import TOPIC_SCHEMA_DDL

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "bare_topics"))
    st.create_topic("bare", n_buckets=2)
    events = StructType.fromDDL(TOPIC_SCHEMA_DDL)
    batch = spark.read.format("ripple_topic").option("root", st.root).option("topic", "bare").load()
    assert batch.schema == events
    src = topic_stream(st, "bare")
    assert src.schema == events
    q = src.writeStream.format("memory").queryName("m_bare").start()
    try:
        q.processAllAvailable()
        st.produce(_wave(load_table(spark, sf_dir, "events"), 0, 40), "bare")
        q.processAllAvailable()
    finally:
        q.stop()
    assert _rows(spark.table("m_bare")) == _rows(st.read_topic("bare"))


def test_multi_topic_schemas_union_and_type_conflicts_fail(spark, tmp_path):
    """A multi-topic subscription reads the union of the topics'
    recorded columns in subscription order (absent ones as nulls); a
    column recorded under two types fails at query start, named."""
    import datetime as dt

    spark.dataSource.register(RippleTopicDataSource)
    st = TopicStore(spark, str(tmp_path / "union_topics"))
    t0 = dt.datetime(2026, 1, 1)
    for topic, extra, value in (
        ("u_score", "score int", 5),
        ("u_lang", "lang string", "en"),
        ("u_clash", "score string", "high"),
    ):
        st.create_topic(topic, n_buckets=2)
        df = spark.createDataFrame(
            [(1, t0, 7, value)], f"event_id long, ts timestamp, user_id long, {extra}"
        )
        st.produce(df, topic)

    def load(topics):
        return (
            spark.read.format("ripple_topic")
            .option("root", st.root)
            .option("topic", topics)
            .load()
        )

    both = load("u_score,u_lang")
    assert both.columns == [
        "event_id", "ts", "user_id", "score", "seq", "lang", "bucket", "topic"
    ]
    got = {r["topic"]: (r["score"], r["lang"]) for r in both.collect()}
    assert got == {"u_score": (5, None), "u_lang": (None, "en")}

    with pytest.raises(ValueError, match="column 'score'"):
        RippleTopicDataSource({"root": st.root, "topic": "u_score,u_clash"}).schema()
    with pytest.raises(Exception, match="column 'score'"):
        topic_stream(st, "u_score,u_clash")
