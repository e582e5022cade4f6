"""Scheduled maintenance (A15 analog): a periodic compact + retention +
vacuum loop must run CONCURRENTLY with produces without losing rows,
breaking per-bucket seq contiguity, or tripping readers (snapshot
isolation: no FileNotFound) — the contract VERDICT r2 task #5 set.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.maintenance import TopicMaintenance
from ripple_server_spark.sources.topics import TopicStore, cleanup_policy

N_BUCKETS = 4


@pytest.fixture()
def fresh_store(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "topics"))
    st.create_topic("m1", n_buckets=N_BUCKETS)
    return st


def _data_files(store, topic):
    data = store.data_dir(topic)
    out = []
    for bdir in os.listdir(data):
        if bdir.startswith("bucket="):
            out += [
                f"{bdir}/{fn}"
                for fn in os.listdir(os.path.join(data, bdir))
                if fn.endswith(".parquet")
            ]
    return out


def test_concurrent_produce_with_scheduled_cycle(spark, sf_dir, fresh_store):
    """Produce batches from the main thread while the maintenance loop
    fires compact+vacuum cycles every 0.2 s. Every row must survive,
    seqs stay contiguous, and no cycle may error (a FileNotFound or
    lost-update would surface as CycleStats.error)."""
    st = fresh_store
    ev = load_table(spark, sf_dir, "events").limit(800).cache()
    ev.count()
    total = 0
    with TopicMaintenance(
        st, "m1", interval_s=0.2, vacuum_grace_s=30.0
    ) as maint:
        for i in range(8):
            batch = ev.filter(
                (F.col("event_id") >= i * 100) & (F.col("event_id") < (i + 1) * 100)
            )
            total += st.produce(batch, "m1", batch_id=f"b{i}")
            # interleave reads: a snapshot pinned before a cycle must
            # stay readable mid-cycle (old files survive until vacuum
            # grace expires)
            assert st.read_topic("m1").count() == total
            time.sleep(0.1)
        # let at least one more cycle fire with no produce in flight
        time.sleep(0.5)
    assert total == 800
    assert [c.error for c in maint.history if c.error] == []
    assert any(c.compacted for c in maint.history), "no cycle ever compacted"
    log = st.read_topic("m1")
    assert log.count() == total
    per_bucket = (
        log.groupBy("bucket")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    for r in per_bucket:
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1
    ev.unpersist()


def test_quiescent_cycle_compacts_to_one_file_per_bucket(spark, sf_dir, fresh_store):
    """With no writer in flight, run_once at zero grace must leave
    exactly one file per non-empty bucket and reclaim every compacted-
    away segment."""
    st = fresh_store
    ev = load_table(spark, sf_dir, "events").limit(300)
    for i in range(3):
        st.produce(
            ev.filter(
                (F.col("event_id") >= i * 100) & (F.col("event_id") < (i + 1) * 100)
            ),
            "m1",
        )
    assert len(_data_files(st, "m1")) > N_BUCKETS
    maint = TopicMaintenance(st, "m1", vacuum_grace_s=0.0)
    stats = maint.run_once()
    assert stats.error is None
    assert stats.compacted and stats.vacuumed_files > 0
    live = st.latest_manifest("m1")[1]["files"]
    assert len(live) <= N_BUCKETS
    assert sorted(_data_files(st, "m1")) == sorted(live)  # nothing orphaned
    assert st.read_topic("m1").count() == 300


def test_retention_truncates_and_consumers_resume_at_floor(spark, sf_dir, fresh_store):
    """A retention-enabled cycle ages out files wholly below the floor;
    a consumer whose offset predates retention resumes at the retained
    floor (Kafka earliest-offset semantics), and produce continues
    seamlessly after."""
    st = fresh_store
    ev = load_table(spark, sf_dir, "events").limit(600)
    for i in range(3):
        st.produce(
            ev.filter(
                (F.col("event_id") >= i * 200) & (F.col("event_id") < (i + 1) * 200)
            ),
            "m1",
        )
    # compact first so truncation has per-bucket single files, then
    # produce more segments so retention has something strictly older
    TopicMaintenance(st, "m1", vacuum_grace_s=0.0).run_once()
    st.produce(
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 600) & (F.col("event_id") < 800)),
        "m1",
    )
    maxima_before = dict(st._bucket_maxima("m1"))
    st.alter_topic_config("m1", {"retention.seqs": 40})
    maint = TopicMaintenance(st, "m1", vacuum_grace_s=0.0)
    stats = maint.run_once()
    assert stats.error is None
    assert stats.truncated_files > 0, "retention dropped nothing"
    floors = st._bucket_floors("m1")
    assert any(f > 0 for f in floors.values())
    # registered consumer starting at 0 resumes at the retained floor
    st.register_consumer("c-old", "m1")
    for b in range(N_BUCKETS):
        batch, _next = st.consume("c-old", "m1", bucket=b, count=10**6)
        mn = batch.agg(F.min("seq").alias("mn")).collect()[0]["mn"]
        if mn is not None:
            assert mn == floors.get(b, 0)
    # maxima unchanged by retention; produce still extends contiguously
    assert dict(st._bucket_maxima("m1")) == maxima_before
    n_new = st.produce(
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 800) & (F.col("event_id") < 900)),
        "m1",
    )
    assert n_new > 0
    mx_after = st._bucket_maxima("m1")
    log = st.read_topic("m1")
    per_bucket = (
        log.groupBy("bucket")
        .agg(F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    for r in per_bucket:
        assert r["mx"] == mx_after[r["bucket"]]
        # contiguity from the retained floor, not 0
        assert r["n"] == r["mx"] - floors.get(r["bucket"], 0) + 1


def test_maintenance_time_based_retention(spark, sf_dir, tmp_path):
    """retention.ms (Kafka parity): a maintenance cycle ages out files
    wholly older than now - retention.ms and keeps the fresh tail.
    Fixture events are all from 2024, so any sane retention.ms from
    'now' ages out EVERYTHING; a huge retention.ms ages out nothing."""
    from pyspark.sql import functions as F

    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.maintenance import TopicMaintenance
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "ret_ms_topics"))
    st.create_topic("rm", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.produce(ev.limit(100), "rm")
    # enormous window: nothing is older than ~100 years
    st.alter_topic_config("rm", {"retention.ms": 100 * 365 * 24 * 3600 * 1000})
    keep_all = TopicMaintenance(st, "rm", vacuum_grace_s=0.0)
    s1 = keep_all.run_once()
    assert s1.error is None and s1.truncated_files == 0
    assert st.read_topic("rm").count() == 100
    # 1-day window from now: the 2024 fixture rows all age out
    st.alter_topic_config("rm", {"retention.ms": 24 * 3600 * 1000})
    drop_all = TopicMaintenance(st, "rm", vacuum_grace_s=0.0)
    s2 = drop_all.run_once()
    assert s2.error is None and s2.truncated_files >= 1
    assert st.read_topic("rm").count() == 0
    # floors survived: a consumer clamps, and a fresh produce resumes seqs
    floors = st._bucket_floors("rm")
    assert any(f > 0 for f in floors.values())
    st.produce(ev.filter(F.col("event_id") >= 500).limit(20), "rm")
    assert st.read_topic("rm").count() == 20
    maxima = st._bucket_maxima("rm")
    for b, fl in floors.items():
        if b in maxima:
            assert maxima[b] >= fl  # seq space continued, no reset to 0


def test_time_retention_on_never_produced_topic_is_noop(spark, tmp_path):
    """Review r09: create topic -> start maintenance -> producers
    arrive later is a normal deployment order; the retention.ms pass must
    no-op on the schemaless empty topic, not error every cycle (and
    offsets_for_times returns {} instead of raising on the missing ts
    column)."""
    from ripple_server_spark.sources.maintenance import TopicMaintenance
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "fresh_ret"))
    st.create_topic("f", n_buckets=2, config={"retention.ms": 1000})
    assert st.offsets_for_times("f", 0) == {}
    assert st.truncate_before_timestamp("f", 10**13) == 0
    m = TopicMaintenance(st, "f", vacuum_grace_s=0.0)
    s = m.run_once()
    assert s.error is None and s.truncated_files == 0


def test_time_retention_pass_is_rate_limited(spark, sf_dir, tmp_path):
    """The retention.ms pass scans the log's ts column (no ts stats to
    prune with on INT96 files), so it runs at most every
    retention_check_interval_s (Kafka log.retention.check.interval.ms),
    not every cycle."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.maintenance import TopicMaintenance
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "rl_ret"))
    st.create_topic(
        "rl", n_buckets=2, config={"retention.ms": 100 * 365 * 24 * 3600 * 1000}
    )
    st.produce(load_table(spark, sf_dir, "events").limit(40).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"), "rl")
    m = TopicMaintenance(
        st, "rl", retention_check_interval_s=3600.0, vacuum_grace_s=0.0
    )
    calls = []
    orig = st.truncate_before_timestamp
    st.truncate_before_timestamp = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    m.run_once()
    m.run_once()
    m.run_once()
    assert len(calls) == 1, "time pass must be rate-limited across cycles"
    assert all(c.error is None for c in m.history)


def test_failed_time_retention_does_not_consume_rate_limit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r09: _last_time_check is stamped only after the time-
    retention pass SUCCEEDS — a transient failure is recorded in
    CycleStats.error and the next cycle retries immediately instead of
    silently extending retention lag by retention_check_interval_s."""
    st = TopicStore(spark, str(tmp_path / "tr_topics"))
    st.create_topic("tr", n_buckets=2, config={"retention.ms": 10**12})
    ev = load_table(spark, sf_dir, "events").limit(100)
    st.produce(ev, "tr")

    maint = TopicMaintenance(st, "tr", retention_check_interval_s=3600.0)
    calls = {"n": 0}
    orig = st.truncate_before_timestamp

    def flaky(topic, epoch_ms):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient spark failure")
        return orig(topic, epoch_ms)

    monkeypatch.setattr(st, "truncate_before_timestamp", flaky)
    s1 = maint.run_once()
    assert s1.error and "transient" in s1.error
    s2 = maint.run_once()  # window NOT consumed by the failure: retries now
    assert s2.error is None
    assert calls["n"] == 2
    maint.run_once()  # success stamped the window: now rate-limited
    assert calls["n"] == 2


def test_cleanup_policy_compact_runs_key_compaction(spark, tmp_path):
    """cleanup.policy=compact (Kafka log cleaner): the maintenance
    cycle retains latest-per-key, is rate-limited by
    key_compaction_interval_s with the stamp-after-success rule, and a
    no-op pass burns no manifest version."""
    st = TopicStore(spark, str(tmp_path / "kcm_topics"))
    st.create_topic(
        "kcm",
        n_buckets=2,
        config={"cleanup.policy": "compact", "key.column": "user_id"},
    )

    def wave(w):
        return spark.range(20).select(
            (F.col("id") + w * 100).alias("event_id"),
            (
                F.lit("2026-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") + w * 50)
            ).alias("ts"),
            (F.col("id") % 5).alias("user_id"),
            F.lit(w).alias("wave"),
        )

    for w in range(3):
        st.produce(wave(w), "kcm")

    maint = TopicMaintenance(
        st, "kcm", key_compaction_interval_s=3600.0, vacuum_grace_s=0.0
    )
    s1 = maint.run_once()
    assert s1.error is None
    assert s1.key_dropped == 55  # 60 rows, 5 keys
    live = st.read_topic("kcm")
    assert live.count() == 5 and live.filter(F.col("wave") != 2).count() == 0

    # rate-limited: the next cycle within the window does not re-scan
    s2 = maint.run_once()
    assert s2.key_dropped == 0 and s2.error is None

    # combined mode parses (bad policies are refused at write:
    # test_bad_cleanup_policy_is_refused_at_write)
    assert cleanup_policy({"cleanup.policy": "compact,delete"}).compact

    # an empty compacted topic under the policy is a quiet no-op
    st.create_topic("kcm_empty", n_buckets=2, config={"cleanup.policy": "compact"})
    m2 = TopicMaintenance(st, "kcm_empty", vacuum_grace_s=0.0)
    s3 = m2.run_once()
    assert s3.error is None and s3.key_dropped == 0


def test_topic_config_drives_maintenance(spark, tmp_path):
    """Kafka topic-level configs: cleanup.policy/key.column/
    tombstone.column live in the topic manifest, the maintenance cycle
    cleans by them, and alter_topic_config changes policy with one
    manifest commit."""
    st = TopicStore(spark, str(tmp_path / "cfg_topics"))
    st.create_topic(
        "cfg",
        n_buckets=2,
        config={
            "cleanup.policy": "compact",
            "key.column": "k",
            "tombstone.column": "v",
            "x.custom": "passthrough",
        },
    )
    assert st.topic_config("cfg")["x.custom"] == "passthrough"

    base_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(12)] + [(100, 0, None)],
        "event_id bigint, k bigint, v double",
    ).select(
        "event_id",
        (base_ts + F.make_interval(secs=F.col("event_id"))).alias("ts"),
        "k",
        "v",
    )
    st.produce(df, "cfg", key_col="k")

    policy = cleanup_policy(st.topic_config("cfg"))
    assert policy.compact
    assert policy.key_col == "k" and policy.tombstone_col == "v"
    maint = TopicMaintenance(st, "cfg", vacuum_grace_s=0.0)
    s1 = maint.run_once()
    assert s1.error is None
    # 13 rows, 4 keys; key 0's latest is the tombstone -> 3 survive
    assert st.read_topic("cfg").count() == 3
    assert s1.key_dropped == 10

    # alter: drop the compact policy
    st.alter_topic_config("cfg", {"cleanup.policy": "delete", "x.custom": None})
    cfg2 = st.topic_config("cfg")
    assert cfg2["cleanup.policy"] == "delete" and "x.custom" not in cfg2
    assert not cleanup_policy(cfg2).compact


def test_running_loop_follows_topic_config(spark, tmp_path, monkeypatch):
    """One loop, built while the topic's policy is delete, follows every
    alter_topic_config at its next cycle: it key-compacts once the policy
    is compact, ages files out once retention.ms is set, and stops
    calling the cleaner once the policy is delete again."""
    st = TopicStore(spark, str(tmp_path / "live_cfg"))
    st.create_topic("t", n_buckets=2, config={"cleanup.policy": "delete"})

    def wave(w):  # 20 rows over 5 keys, event time in 2024
        return spark.range(20).select(
            (F.col("id") + w * 100).alias("event_id"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") + w * 50)
            ).alias("ts"),
            (F.col("id") % 5).alias("user_id"),
            F.lit(w).alias("wave"),
        )

    calls = {"n": 0}
    orig = st.compact_by_key

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(st, "compact_by_key", counting)
    maint = TopicMaintenance(
        st, "t", key_compaction_interval_s=0.0, vacuum_grace_s=0.0
    )
    for w in range(2):
        st.produce(wave(w), "t")
    s0 = maint.run_once()
    assert s0.error is None and s0.key_dropped == 0 and calls["n"] == 0

    st.alter_topic_config("t", {"cleanup.policy": "compact", "key.column": "user_id"})
    s1 = maint.run_once()
    assert s1.error is None and s1.key_dropped > 0 and calls["n"] == 1
    assert st.read_topic("t").count() == 5

    st.alter_topic_config("t", {"retention.ms": 24 * 3600 * 1000})
    s2 = maint.run_once()
    assert s2.error is None and s2.truncated_files >= 1
    assert st.read_topic("t").count() == 0

    st.alter_topic_config("t", {"cleanup.policy": "delete", "retention.ms": None})
    for w in range(2, 4):
        st.produce(wave(w), "t")
    assert st.key_compaction_dirty_ratio("t") == 1.0
    s3 = maint.run_once()
    assert s3.error is None and s3.key_dropped == 0 and s3.truncated_files == 0
    assert calls["n"] == 1
    assert st.read_topic("t").count() == 40
    assert all(c.error is None for c in maint.history)


@pytest.mark.parametrize(
    "key,value",
    [
        ("cleanup.policy", "zap"),
        ("retention.ms", "soon"),
        ("min.cleanable.dirty.ratio", "x"),
        # int() would read these as -1, 1, 0 and -5: a negative bound
        # ages the whole log out on the next cycle
        ("retention.ms", -1),
        ("retention.ms", True),
        ("delete.retention.ms", 0.5),
        ("retention.seqs", "-5"),
    ],
)
def test_bad_cleanup_policy_is_refused_at_write(tmp_path, key, value):
    """A cleanup policy that does not parse is refused when it is
    written, naming its key: alter_topic_config commits nothing and
    create_topic leaves no topic directory. Keys outside the policy
    are still stored verbatim. No Spark needed."""
    st = TopicStore(None, str(tmp_path / "bad_cfg"))
    st.create_topic("t", n_buckets=2, config={"retention.seqs": "100"})
    v = st.latest_manifest("t")[0]
    with pytest.raises(ValueError, match=key.replace(".", r"\.")):
        st.alter_topic_config("t", {key: value})
    assert st.latest_manifest("t")[0] == v
    assert st.topic_config("t") == {"retention.seqs": "100"}

    with pytest.raises(ValueError, match=key.replace(".", r"\.")):
        st.create_topic("u", n_buckets=2, config={key: value})
    assert not os.path.exists(st.topic_dir("u"))

    merged = st.alter_topic_config("t", {"x.custom": "anything"})
    assert merged == {"retention.seqs": "100", "x.custom": "anything"}
    assert st.topic_config("t") == {"retention.seqs": "100", "x.custom": "anything"}
    assert cleanup_policy(st.topic_config("t")).retain_seqs == 100
