"""Native ripple_topic WRITE path (sources/datasink.py): batch
``df.write.format("ripple_topic")`` and streaming
``writeStream.format("ripple_topic")`` — per-task producer transactions
through the manifest protocol, crash-replay idempotency, and parity
with TopicStore.produce-written topics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.datasource import RippleTopicDataSource
from ripple_server_spark.sources.topics import TopicStore


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    spark.dataSource.register(RippleTopicDataSource)
    return TopicStore(spark, str(tmp_path_factory.mktemp("sink_topics")))


def _events(spark, sf_dir, n=400):
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < n)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )


def _write(df, store, topic, **opts):
    w = (
        df.write.format("ripple_topic")
        .mode("append")
        .option("root", store.root)
        .option("topic", topic)
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()


def _assert_dense_seqs(store, topic):
    """Per-bucket seq must be 0..n-1 dense — the produce invariant the
    whole consume/increment surface depends on."""
    rows = (
        store.read_topic(topic)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("seq").alias("mn"),
            F.max("seq").alias("mx"),
            F.countDistinct("seq").alias("nd"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1 and r["nd"] == r["n"]


def test_batch_write_roundtrip_multi_task(spark, store, sf_dir):
    """A 32-partition parallel write (heavily contended seq claims —
    every task can lose up to 31 optimistic rounds to its siblings)
    lands every row exactly once with dense per-bucket seqs."""
    store.create_topic("w1", n_buckets=4)
    df = _events(spark, sf_dir).repartition(32)
    _write(df, store, "w1")
    got = store.read_topic("w1")
    assert got.count() == df.count()
    assert set(got.select("event_id").toPandas()["event_id"]) == set(
        df.select("event_id").toPandas()["event_id"]
    )
    _assert_dense_seqs(store, "w1")
    # readable through the DataSource read side too (format symmetry)
    via_ds = (
        spark.read.format("ripple_topic")
        .option("root", store.root)
        .option("topic", "w1")
        .load()
    )
    assert via_ds.count() == df.count()


def test_batch_write_fifo_within_task(spark, store, sf_dir):
    """Single-partition write: per-bucket seq order == (ts, event_id)
    order, produce's FIFO contract."""
    store.create_topic("w_fifo", n_buckets=4)
    df = _events(spark, sf_dir, n=200).coalesce(1)
    _write(df, store, "w_fifo")
    pdf = (
        store.read_topic("w_fifo")
        .select("bucket", "seq", "ts", "event_id")
        .orderBy("bucket", "seq")
        .toPandas()
    )
    for _, g in pdf.groupby("bucket"):
        key = list(zip(g["ts"], g["event_id"]))
        assert key == sorted(key)


def test_batch_write_idempotent_with_batch_id(spark, store, sf_dir):
    store.create_topic("w_idem", n_buckets=4)
    df = _events(spark, sf_dir, n=150).repartition(4)
    _write(df, store, "w_idem", batch_id="job-42")
    n1 = store.read_topic("w_idem").count()
    _write(df, store, "w_idem", batch_id="job-42")  # full replay
    assert store.read_topic("w_idem").count() == n1 == df.count()
    _assert_dense_seqs(store, "w_idem")


def test_batch_write_without_batch_id_appends(spark, store, sf_dir):
    store.create_topic("w_app", n_buckets=4)
    df = _events(spark, sf_dir, n=100)
    _write(df, store, "w_app")
    _write(df, store, "w_app")  # distinct job tokens -> second append
    assert store.read_topic("w_app").count() == 2 * df.count()
    _assert_dense_seqs(store, "w_app")


def test_overwrite_mode_rejected(spark, store, sf_dir):
    store.create_topic("w_ovw", n_buckets=2)
    with pytest.raises(Exception, match="append-only"):
        (
            _events(spark, sf_dir, n=10)
            .write.format("ripple_topic")
            .mode("overwrite")
            .option("root", store.root)
            .option("topic", "w_ovw")
            .save()
        )


def test_missing_topic_rejected_and_auto_create_opt_in(spark, store, sf_dir):
    df = _events(spark, sf_dir, n=50)
    with pytest.raises(Exception, match="no manifest"):
        _write(df, store, "w_ghost")
    _write(df, store, "w_auto", create_topic="true", n_buckets=2)
    assert store.read_topic("w_auto").count() == df.count()
    assert store.topic_meta("w_auto")["n_buckets"] == 2
    _assert_dense_seqs(store, "w_auto")


def test_null_routing_key_lands_in_bucket_zero(spark, store):
    store.create_topic("w_null", n_buckets=4)
    df = spark.createDataFrame(
        [(1, None), (2, 5), (3, None)], "event_id long, user_id long"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    _write(df, store, "w_null")
    got = store.read_topic("w_null").select("event_id", "bucket").collect()
    by_id = {r["event_id"]: r["bucket"] for r in got}
    assert by_id[1] == 0 and by_id[3] == 0 and by_id[2] == 5 % 4


def test_mixed_produce_and_sink_files_interleave(spark, store, sf_dir):
    """produce() (Spark parquet writer) and the sink (pyarrow writer)
    must coexist in one topic — both emit TIMESTAMP(MICROS) since r09
    (stats-bearing, unlike the INT96 both used before): seqs continue
    densely and both read paths (Spark parquet + pyarrow dataset)
    serve the union with exact ts round-trips."""
    store.create_topic("w_mix", n_buckets=4)
    a = _events(spark, sf_dir, n=100)
    b = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    store.produce(a, "w_mix")
    _write(b, store, "w_mix")
    got = store.read_topic("w_mix")
    assert got.count() == a.count() + b.count()
    _assert_dense_seqs(store, "w_mix")
    via_ds = (
        spark.read.format("ripple_topic")
        .option("root", store.root)
        .option("topic", "w_mix")
        .load()
    )
    assert via_ds.count() == a.count() + b.count()
    # ts round-trips identically through both writers
    ts_direct = {
        r["event_id"]: r["ts"] for r in got.select("event_id", "ts").collect()
    }
    ts_src = {
        r["event_id"]: r["ts"]
        for r in a.unionByName(b).select("event_id", "ts").collect()
    }
    assert ts_direct == ts_src


def test_schema_evolution_through_sink(spark, store, sf_dir):
    store.create_topic("w_evo", n_buckets=2)
    _write(_events(spark, sf_dir, n=50), store, "w_evo")
    evolved = _events(spark, sf_dir, n=50).withColumn(
        "lang", F.lit("en")
    ).withColumn("event_id", F.col("event_id") + 1000)
    _write(evolved, store, "w_evo")
    meta = store.topic_meta("w_evo")
    assert any(f.startswith("lang:") for f in meta["schema"])
    got = store.read_topic("w_evo")
    assert dict(got.dtypes)["lang"] == "string"
    langs = [r["lang"] for r in got.select("lang").collect()]
    assert langs.count(None) == 50 and langs.count("en") == 50


def test_raced_staged_files_are_vacuum_orphans(spark, store, sf_dir):
    """Contended parallel writes orphan some staged attempts; vacuum
    reclaims them and the topic stays exact."""
    store.create_topic("w_vac", n_buckets=4)
    _write(_events(spark, sf_dir, n=300).repartition(8), store, "w_vac")
    n = store.read_topic("w_vac").count()
    store.vacuum("w_vac", grace_s=0.0)
    assert store.read_topic("w_vac").count() == n
    _assert_dense_seqs(store, "w_vac")


# -- streaming sink ----------------------------------------------------------


def test_stream_write_exactly_once(spark, store, sf_dir, tmp_path):
    """ripple_topic source -> ripple_topic sink: every source row lands
    exactly once with dense seqs."""
    store.create_topic("s_src", n_buckets=4)
    store.create_topic("s_dst", n_buckets=4)
    store.produce(_events(spark, sf_dir, n=240), "s_src")
    ckpt = str(tmp_path / "ckpt1")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", store.root)
        .option("topic", "s_src")
        .option("batch_size", 60)
        .load()
        .drop("seq", "bucket")
        .writeStream.format("ripple_topic")
        .option("root", store.root)
        .option("topic", "s_dst")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    src = store.read_topic("s_src")
    dst = store.read_topic("s_dst")
    assert dst.count() == src.count() == 240
    assert set(dst.select("event_id").toPandas()["event_id"]) == set(
        src.select("event_id").toPandas()["event_id"]
    )
    _assert_dense_seqs(store, "s_dst")


def test_stream_write_crash_replay_is_idempotent(spark, store, sf_dir, tmp_path):
    """Crash between sink write and checkpoint commit: restart from a
    checkpoint whose LAST commit-log entry is missing, so the engine
    REPLAYS that micro-batch against the sink — the replayed tasks must
    no-op on their applied ids (exactly-once). The crashed checkpoint is
    recovered into a fresh directory (Spark's in-JVM checkpoint cache
    treats an externally mutated live path as a concurrent query), with
    ``producer_id`` pinned across the move — exactly the checkpoint-
    migration scenario that option exists for."""
    import shutil

    store.create_topic("c_src", n_buckets=4)
    store.create_topic("c_dst", n_buckets=4)
    store.produce(_events(spark, sf_dir, n=200), "c_src")

    def run(ckpt):
        q = (
            spark.readStream.format("ripple_topic")
            .option("root", store.root)
            .option("topic", "c_src")
            .option("batch_size", 50)
            .load()
            .drop("seq", "bucket")
            .writeStream.format("ripple_topic")
            .option("root", store.root)
            .option("topic", "c_dst")
            .option("producer_id", "crash-prod")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ckpt = str(tmp_path / "ckpt2")
    run(ckpt)
    assert store.read_topic("c_dst").count() == 200
    # simulate the crash: the sink wrote batch N but the commit log
    # never recorded it -> recovery replays batch N against the sink
    replay = str(tmp_path / "ckpt2_recovered")
    shutil.copytree(ckpt, replay)
    commits = sorted(
        f
        for f in os.listdir(os.path.join(replay, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(replay, "commits", commits[-1]))
    crc = os.path.join(replay, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # Hadoop local-FS checksum sidecar: a stale
        os.remove(crc)  # one fails the commit rename as "concurrent query"
    run(replay)
    dst = store.read_topic("c_dst")
    assert dst.count() == 200  # replay landed zero duplicate rows
    assert dst.groupBy("event_id").count().filter("count > 1").count() == 0
    _assert_dense_seqs(store, "c_dst")


def test_stream_write_requires_replay_stable_producer_identity(
    spark, store, sf_dir, tmp_path
):
    """producer_id option overrides the checkpoint-derived default, and
    two DIFFERENT producer ids writing the same batch ids do not
    collide (their applied ids are disjoint)."""
    store.create_topic("p_src", n_buckets=2)
    store.create_topic("p_dst", n_buckets=2)
    store.produce(_events(spark, sf_dir, n=80), "p_src")

    def run(ckpt, producer):
        q = (
            spark.readStream.format("ripple_topic")
            .option("root", store.root)
            .option("topic", "p_src")
            .load()
            .drop("seq", "bucket")
            .writeStream.format("ripple_topic")
            .option("root", store.root)
            .option("topic", "p_dst")
            .option("producer_id", producer)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck_a", "prod-a")
    run("ck_b", "prod-b")  # same batch ids (0..), different producer
    assert store.read_topic("p_dst").count() == 160
    # applied ids carry the producer identity
    _v, meta = store.latest_manifest("p_dst")
    assert any("prod-a#b" in x for x in meta["applied_batches"])
    assert any("prod-b#b" in x for x in meta["applied_batches"])


def test_sink_requires_routing_and_order_columns(spark, store):
    store.create_topic("w_req", n_buckets=2)
    df = spark.range(5).select(F.col("id").alias("event_id"))
    with pytest.raises(Exception, match="requires column"):
        _write(df, store, "w_req")


def test_task_commits_record_applied_ids(spark, store, sf_dir):
    """Every committed task leaves its applied id in the manifest (the
    idempotency ledger produce also uses)."""
    store.create_topic("w_led", n_buckets=4)
    _write(
        _events(spark, sf_dir, n=120).repartition(3),
        store,
        "w_led",
        batch_id="led-7",
    )
    _v, meta = store.latest_manifest("w_led")
    got = [x for x in meta["applied_batches"] if x.startswith("dsw/led-7/p")]
    assert len(got) >= 1  # zero-row partitions skip their commit
    # manifest json remains well-formed for every version
    for n in sorted(os.listdir(os.path.join(store.root, "topics", "w_led", "_log"))):
        with open(os.path.join(store.root, "topics", "w_led", "_log", n)) as f:
            json.load(f)


def test_sink_established_topic_records_seq_in_schema(spark, store, sf_dir):
    """Review r08: the sink must record the same message schema produce
    does (columns + the assigned seq). A sink-established topic whose
    files all age out must still serve the seq column from the
    recorded-schema empty frame, and a later produce() must not record
    a spurious schema evolution."""
    store.create_topic("w_schema", n_buckets=2)
    df = _events(spark, sf_dir, n=60)
    _write(df, store, "w_schema")
    meta = store.topic_meta("w_schema")
    assert "seq:bigint" in meta["schema"]
    store.produce(df.withColumn("event_id", F.col("event_id") + 5000), "w_schema")
    assert store.topic_meta("w_schema")["schema"] == meta["schema"]
    got = store.read_topic("w_schema")
    assert got.columns == [*df.columns, "seq", "bucket"]
    assert got.count() == 120
    # age out everything: the empty frame still carries seq for consume()
    maxima = store._bucket_maxima("w_schema")
    store.truncate("w_schema", before_seq=max(maxima.values()) + 1)
    batch, nxt = store.consume("c-schema", "w_schema", bucket=0, count=10)
    assert batch.count() == 0 and "seq" in batch.columns


def test_sink_and_produce_record_one_schema_for_a_carried_seq(spark, store, sf_dir):
    """One recorded-schema rule for both append surfaces: a frame that
    carries ``seq`` in mid-schema, written by the sink into one topic
    and produced into another, records the same message schema and
    stages the same parquet column order (``seq`` keeps its
    position)."""
    import glob

    import pyarrow.parquet as pq

    df = _events(spark, sf_dir, n=40).select(
        "event_id", "ts", F.lit(7).cast("bigint").alias("seq"), "user_id", "value"
    )
    store.create_topic("w_seq_sink", n_buckets=2)
    store.create_topic("w_seq_produce", n_buckets=2)
    _write(df, store, "w_seq_sink")
    store.produce(df, "w_seq_produce")
    schemas, orders = [], []
    for t in ("w_seq_sink", "w_seq_produce"):
        schemas.append(store.topic_meta(t)["schema"])
        files = glob.glob(os.path.join(store.data_dir(t), "bucket=*", "*.parquet"))
        assert files
        orders.append({tuple(pq.read_schema(f).names) for f in files})
    assert schemas[0] == schemas[1]
    assert schemas[0][2] == "seq:bigint"
    assert orders[0] == orders[1] == {("event_id", "ts", "seq", "user_id", "value")}


def test_sink_subset_schema_write_flags_evolution(spark, store, sf_dir):
    """ADVICE r08: a sink task writing a strict SUBSET of the recorded
    schema leaves heterogeneous parquet footers in the topic; reads are
    typed by the recorded (wide) schema, never by one file's narrow
    footer, so the committed wide columns are never re-materialized as
    all-NULL, whatever the listing order."""
    store.create_topic("w_subset", n_buckets=2)
    wide = _events(spark, sf_dir, n=40).withColumn("lang", F.lit("en"))
    _write(wide, store, "w_subset")
    narrow = _events(spark, sf_dir, n=40).withColumn(
        "event_id", F.col("event_id") + 1000
    )
    _write(narrow, store, "w_subset")  # strict subset: no NEW columns
    batches = [store.consume("c-subset", "w_subset", b, 1000)[0] for b in (0, 1)]
    polled = batches[0].unionByName(batches[1])
    assert polled.filter(F.col("lang") == "en").count() == 40
    assert polled.filter(F.col("lang").isNull()).count() == 40
    got = store.read_topic("w_subset")
    assert "lang" in got.columns
    # the wide wave's lang values survive (never silently nulled)
    assert (
        got.filter((F.col("event_id") < 1000) & (F.col("lang") == "en")).count()
        == 40
    )
    assert got.filter(F.col("event_id") >= 1000).filter(
        F.col("lang").isNull()
    ).count() == 40


def test_applied_id_retention_window_shared(spark, store, sf_dir):
    """ADVICE r08 (topics.py applied_batches): produce() and the native
    sink must truncate the idempotency ledger to the SAME window
    (config.APPLIED_IDS_KEEP) — a shorter produce()-side truncation on a
    topic also written by the streaming sink would silently shrink the
    sink's exactly-once replay window."""
    import json as _json
    import os as _os

    from ripple_server_spark.config import APPLIED_IDS_KEEP

    store.create_topic("w_keep", n_buckets=2)
    df = _events(spark, sf_dir, n=20)
    _write(df, store, "w_keep", batch_id="sink-era-0")
    # age the ledger to capacity with synthetic sink-era ids (manifest
    # edit in place: same version, full ledger)
    v, meta = store.latest_manifest("w_keep")
    sink_ids = [x for x in meta["applied_batches"] if x.startswith("dsw/")]
    assert sink_ids, "sink commit left no applied id"
    meta["applied_batches"] = [
        f"dsw/old/{i}" for i in range(APPLIED_IDS_KEEP - len(sink_ids))
    ] + sink_ids
    p = _os.path.join(
        store.root, "topics", "w_keep", "_log", f"{v:020d}.json"
    )
    assert _os.path.exists(p), p
    with open(p, "w") as f:
        _json.dump(meta, f)
    # one interleaved produce() must keep the window at APPLIED_IDS_KEEP
    # (dropping only the oldest), NOT collapse it to a shorter cap
    store.produce(
        df.withColumn("event_id", F.col("event_id") + 9000),
        "w_keep",
        batch_id="prod-1",
    )
    _v2, meta2 = store.latest_manifest("w_keep")
    led = meta2["applied_batches"]
    assert len(led) == APPLIED_IDS_KEEP
    assert led[-1] == "prod-1"
    # the sink's real applied ids are still inside the window -> a late
    # sink replay of that micro-batch stays a no-op
    assert all(x in led for x in sink_ids)
    _write(df, store, "w_keep", batch_id="sink-era-0")  # replay
    assert (
        store.read_topic("w_keep").filter(F.col("event_id") < 1000).count()
        == 20
    )


def test_sink_null_ts_rows_take_lowest_seqs_like_produce(spark, tmp_path):
    """ADVICE r12 NULL-order drift fix: the sink's per-task sort is
    (ts, event_id) ascending NULLS FIRST — the same FIFO order key
    produce() assigns — so NULL-ts rows get the LOWEST seqs of their
    bucket through BOTH write paths."""
    from pyspark.sql import functions as F

    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from ripple_server_spark.sources.topics import TopicStore

    spark.dataSource.register(RippleTopicDataSource)
    root = str(tmp_path / "nullts")
    base_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")
    df = spark.createDataFrame(
        # one bucket (user_id 0, 2 buckets): event_id 5 has NULL ts and
        # must take seq 0; the rest invert id order by descending ts
        [(0, 0, 4), (1, 0, 3), (2, 0, 2), (3, 0, 1), (4, 0, 0), (5, 0, None)],
        "event_id bigint, user_id bigint, off int",
    ).select(
        "event_id",
        F.when(
            F.col("off").isNotNull(),
            base_ts + F.make_interval(secs=F.col("off")),
        ).alias("ts"),
        "user_id",
    )
    st = TopicStore(spark, root)
    st.create_topic("ns", n_buckets=2)
    (
        df.coalesce(1)  # one task: the per-task order IS the bucket order
        .write.format("ripple_topic")
        .mode("append")
        .option("root", root)
        .option("topic", "ns")
        .save()
    )
    got = {
        r["seq"]: r["event_id"]
        for r in st.read_topic("ns").filter(F.col("bucket") == 0).collect()
    }
    assert [got[s] for s in range(6)] == [5, 4, 3, 2, 1, 0]
