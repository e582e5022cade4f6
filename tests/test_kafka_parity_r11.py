"""Round-11 Kafka-parity surface (VERDICT r10 items 2, 4-7 + ADVICE):
the min.cleanable.dirty.ratio cleaner gate, delete.retention.ms
tombstone windows, the sticky assignor, producer-epoch fencing, the
expand_buckets group-epoch bump, and the fenced group commit: one
consumer-log claim that stores offsets per (group, bucket)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.sources.maintenance import TopicMaintenance
from ripple_server_spark.sources.topics import (
    StaleGenerationError,
    StaleProducerEpochError,
    TopicStore,
    cleanup_policy,
    consumer_state,
)
from tests.conftest import in_form


def _wave(spark, w, n=20, keys=5):
    """n upsert rows, keys cycling, ts inside 2026 (fixture-era)."""
    return spark.range(n).select(
        (F.col("id") + w * 1000).alias("event_id"),
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") + w * 500)
        ).alias("ts"),
        (F.col("id") % keys).alias("user_id"),
        F.lit(w).alias("wave"),
        F.concat(F.lit(f"v{w}-"), F.col("id").cast("string")).alias("value"),
    )


# -- min.cleanable.dirty.ratio (VERDICT r10 item 2) -------------------------


def test_dirty_ratio_lifecycle(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "dr"))
    st.create_topic("t", n_buckets=2)
    # empty topic: nothing to clean
    assert st.key_compaction_dirty_ratio("t") == 0.0
    st.produce(_wave(spark, 0), "t")
    # never cleaned: everything is dirty
    assert st.key_compaction_dirty_ratio("t") == 1.0
    st.produce(_wave(spark, 1), "t")
    assert st.compact_by_key("t", key_col="user_id") > 0
    # cleaner checkpoint covers the whole live set
    assert st.key_compaction_dirty_ratio("t") == 0.0
    # appends dirty the log again, proportionally (not all-or-nothing)
    st.produce(_wave(spark, 2), "t")
    r = st.key_compaction_dirty_ratio("t")
    assert 0.0 < r < 1.0


def test_cleaner_gate_skips_clean_topic_with_zero_spark_jobs(
    spark, tmp_path, monkeypatch
):
    """N maintenance cycles on a clean compacted topic must launch ZERO
    Spark jobs: the gate decides from manifest + file stats alone."""
    st = TopicStore(spark, str(tmp_path / "gate"))
    st.create_topic(
        "t",
        n_buckets=2,
        config={"cleanup.policy": "compact", "key.column": "user_id"},
    )
    for w in range(2):
        st.produce(_wave(spark, w), "t")
    maint = TopicMaintenance(
        st,
        "t",
        key_compaction_interval_s=0.0,  # isolate the ratio gate
        vacuum_grace_s=3600.0,  # keep vacuum off the job count too
    )
    s1 = maint.run_once()
    assert s1.error is None and s1.key_dropped > 0

    calls = {"n": 0}
    orig = st.compact_by_key

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(st, "compact_by_key", counting)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = tracker.getJobIdsForGroup(None)
    for _ in range(3):
        s = maint.run_once()
        assert s.error is None and s.key_dropped == 0
    # the gate never even called the cleaner, let alone ran a job
    assert calls["n"] == 0
    assert tracker.getJobIdsForGroup(None) == jobs_before

    # a dirty topic still compacts through the same gate
    st.produce(_wave(spark, 2), "t")
    st.produce(_wave(spark, 3), "t")
    assert st.key_compaction_dirty_ratio("t") >= 0.5
    s = maint.run_once()
    assert s.error is None and s.key_dropped > 0
    assert calls["n"] == 1

    # min.cleanable.dirty.ratio=0.0 restores the unconditional pre-r11 cleaner
    st.alter_topic_config("t", {"min.cleanable.dirty.ratio": 0.0})
    eager = TopicMaintenance(
        st, "t", key_compaction_interval_s=0.0, vacuum_grace_s=3600.0
    )
    assert eager.run_once().error is None
    assert calls["n"] == 2  # ran despite ratio 0.0


def test_no_drop_pass_advances_cleaner_checkpoint_once(spark, tmp_path):
    """A dirty log whose new files hold no superseded keys: the first
    pass scans, drops nothing, and commits a metadata-only checkpoint;
    the gate then keeps every later cycle off the data."""
    st = TopicStore(spark, str(tmp_path / "nodrop"))
    st.create_topic("t", n_buckets=2)
    # distinct keys per wave -> nothing ever supersedes anything
    st.produce(_wave(spark, 0, n=10, keys=10), "t")
    assert st.compact_by_key("t", key_col="event_id") == 0
    v = st.latest_manifest("t")[0]
    assert st.key_compaction_dirty_ratio("t") == 0.0
    # repeat pass: checkpoint already covers the set, burns no version
    assert st.compact_by_key("t", key_col="event_id") == 0
    assert st.latest_manifest("t")[0] == v


def test_dirty_ratio_config_reaches_maintenance(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "cfg"))
    st.create_topic(
        "t",
        n_buckets=2,
        config={
            "cleanup.policy": "compact",
            "min.cleanable.dirty.ratio": "0.25",
            "delete.retention.ms": "86400000",
            "tombstone.column": "value",
        },
    )
    p = cleanup_policy(st.topic_config("t"))
    assert p.min_dirty_ratio == 0.25
    assert p.tombstone_retention_ms == 86_400_000
    assert p.tombstone_col == "value"


# -- delete.retention.ms (VERDICT r10 item 4) --------------------------------


def test_tombstone_retention_two_pass_lifecycle(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "tomb"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")  # 5 keys, 4 versions each
    # tombstone keys 0 and 1 with ts = NOW (inside any sane window)
    now_s = int(time.time())
    tomb = spark.range(2).select(
        (F.col("id") + 9000).alias("event_id"),
        F.timestamp_seconds(F.lit(now_s)).alias("ts"),
        F.col("id").alias("user_id"),
        F.lit(99).alias("wave"),
        F.lit(None).cast("string").alias("value"),
    )
    st.produce(tomb, "t")

    day_ms = 86_400_000
    # pass 1 (window open): history collapses, tombstone rows REMAIN
    dropped = st.compact_by_key(
        "t", key_col="user_id", tombstone_col="value",
        tombstone_retention_ms=day_ms,
    )
    assert dropped > 0
    live = st.read_topic("t")
    markers = live.filter(F.col("value").isNull())
    assert markers.count() == 2  # both deletes still observable
    assert sorted(r["user_id"] for r in markers.collect()) == [0, 1]
    # each tombstoned key is down to exactly its marker
    assert live.filter(F.col("user_id") < 2).count() == 2
    # tombstone-retaining output is NOT checkpointed clean — the
    # post-window second pass must not be gated off
    assert st.key_compaction_dirty_ratio("t") == 1.0

    # window still open: a repeat pass changes nothing and keeps dirty
    assert (
        st.compact_by_key(
            "t", key_col="user_id", tombstone_col="value",
            tombstone_retention_ms=day_ms,
        )
        == 0
    )
    assert st.read_topic("t").filter(F.col("value").isNull()).count() == 2

    # pass 2 (window expired): the markers themselves are removed
    assert (
        st.compact_by_key(
            "t", key_col="user_id", tombstone_col="value",
            tombstone_retention_ms=1,
        )
        == 2
    )
    live = st.read_topic("t")
    assert live.filter(F.col("value").isNull()).count() == 0
    assert live.filter(F.col("user_id") < 2).count() == 0
    assert st.key_compaction_dirty_ratio("t") == 0.0  # now checkpointed

    # retention 0 = immediate delete (pre-r11 semantics, unchanged):
    # keys 2,3 each lose their surviving old row AND the marker
    st.produce(tomb.withColumn("user_id", F.col("user_id") + 2), "t")
    assert (
        st.compact_by_key("t", key_col="user_id", tombstone_col="value")
        == 4
    )

    # a nonzero window needs event time to measure against
    st.create_topic("nots", n_buckets=1)
    notst = spark.range(3).select(
        F.col("id").alias("event_id"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("id").alias("user_id"),
        F.col("id").cast("string").alias("value"),
    )
    st.produce(notst, "nots")
    # drop ts from the read path by compacting on a missing column name
    with pytest.raises(ValueError, match="order_by compaction"):
        st.compact_by_key("nots", key_col="user_id", order_by="nope")


# -- sticky assignor (VERDICT r10 item 5) ------------------------------------


def test_sticky_assignor_minimal_movement_and_fencing(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "sticky"))
    st.create_topic("t", n_buckets=8)
    st.produce(_wave(spark, 0, n=40, keys=8), "t")

    a2 = st.assign_buckets("t", "g", 2, strategy="sticky")
    gen = st.group_state("t", "g")["generation"]
    assert st.group_state("t", "g")["strategy"] == "sticky"
    assert sorted(b for bs in a2.values() for b in bs) == list(range(8))
    # idempotent re-join: same assignment, same epoch, no bump
    assert st.assign_buckets("t", "g", 2, strategy="sticky") == a2
    assert st.group_state("t", "g")["generation"] == gen

    # 2 -> 3: coverage stays exhaustive+disjoint, movement is minimal
    a3 = st.assign_buckets("t", "g", 3, strategy="sticky")
    assert st.group_state("t", "g")["generation"] == gen + 1
    flat = sorted(b for bs in a3.values() for b in bs)
    assert flat == list(range(8))
    moved = sum(
        1 for m, bs in a3.items() for b in bs if b not in a2.get(m, [])
    )
    assert moved == len(a3["g-2"])  # only the new member's buckets moved
    assert moved <= 3  # ceil(8/3)

    # 3 -> 2: only the departed member's buckets move back
    a2b = st.assign_buckets("t", "g", 2, strategy="sticky")
    moved_back = sum(
        1 for m, bs in a2b.items() for b in bs if b not in a3.get(m, [])
    )
    assert moved_back == len(a3["g-2"])
    assert sorted(b for bs in a2b.values() for b in bs) == list(range(8))

    # fencing reads the STORED sticky assignment, not a range split
    gen_now = st.group_state("t", "g")["generation"]
    own0 = a2b["g-0"][0]
    other = a2b["g-1"][0]
    st.commit("g-0", "t", own0, 1, group_id="g", generation=gen_now)
    with pytest.raises(StaleGenerationError, match="does not own"):
        st.commit("g-0", "t", other, 1, group_id="g", generation=gen_now)
    d = st.describe_group("t", "g")
    assert d["members"]["g-0"]["buckets"] == a2b["g-0"]

    # strategy switch on a live group is a rebalance (epoch bumps)
    st.assign_buckets("t", "g", 2, strategy="range")
    assert st.group_state("t", "g")["generation"] == gen_now + 1
    assert st.group_state("t", "g")["strategy"] == "range"
    with pytest.raises(ValueError, match="strategy"):
        st.assign_buckets("t", "g", 2, strategy="round_robin")


def test_sticky_assignment_refreshes_after_expand_without_double_bump(
    spark, tmp_path
):
    st = TopicStore(spark, str(tmp_path / "stex"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=20, keys=4), "t")
    a = st.assign_buckets("t", "g", 2, strategy="sticky")
    gen = st.group_state("t", "g")["generation"]

    st.expand_buckets("t", 6)
    # expansion itself bumped the epoch (Kafka partition-count bump)
    assert st.group_state("t", "g")["generation"] == gen + 1
    # re-join at the same member count: assignment now covers the new
    # buckets, old buckets stay put, and the epoch does NOT bump again
    a2 = st.assign_buckets("t", "g", 2, strategy="sticky")
    assert st.group_state("t", "g")["generation"] == gen + 1
    assert sorted(b for bs in a2.values() for b in bs) == list(range(6))
    kept = sum(1 for m, bs in a2.items() for b in bs if b in a.get(m, []))
    assert kept == 4  # every pre-expansion bucket kept its owner


def test_expand_buckets_bumps_range_group_and_fences_zombies(spark, tmp_path):
    """ADVICE r10: a fenced commit from the pre-expansion epoch must get
    the accurate 'rebalanced' rejection, and group_state must report the
    bumped generation immediately after expand_buckets."""
    st = TopicStore(spark, str(tmp_path / "exg"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=20, keys=4), "t")
    st.assign_buckets("t", "g", 2)
    gen = st.group_state("t", "g")["generation"]
    st.commit("g-0", "t", 0, 1, group_id="g", generation=gen)

    st.expand_buckets("t", 8)
    assert st.group_state("t", "g")["generation"] == gen + 1
    with pytest.raises(StaleGenerationError, match="rebalanced"):
        st.commit("g-0", "t", 0, 2, group_id="g", generation=gen)
    # re-join adopts the new epoch without another bump, then commits
    st.assign_buckets("t", "g", 2)
    gen2 = st.group_state("t", "g")["generation"]
    assert gen2 == gen + 1
    st.commit("g-0", "t", 0, 2, group_id="g", generation=gen2)


# -- producer-epoch fencing (VERDICT r10 item 6) -----------------------------


def test_producer_epoch_fences_produce(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "pep"))
    st.create_topic("t", n_buckets=2)
    assert st.producer_epoch("t") == 0
    assert st.produce(_wave(spark, 0), "t", producer_epoch=0) == 20

    e1 = st.fence_producers("t")
    assert e1 == 1 and st.producer_epoch("t") == 1
    before = st.read_topic("t").count()
    v = st.latest_manifest("t")[0]
    with pytest.raises(StaleProducerEpochError, match="fenced"):
        st.produce(_wave(spark, 1), "t", producer_epoch=0)
    # atomic: no manifest landed, no rows visible
    assert st.latest_manifest("t")[0] == v
    assert st.read_topic("t").count() == before
    # the new epoch writes; unfenced producers stay unaffected (opt-in)
    assert st.produce(_wave(spark, 1), "t", producer_epoch=e1) == 20
    assert st.produce(_wave(spark, 2), "t") == 20


def test_producer_fence_landing_mid_produce_is_atomic(
    spark, tmp_path, monkeypatch, form="exchange"
):
    """A fence_producers that commits AFTER the zombie's entry check but
    BEFORE its manifest commit must still fence it — the epoch re-check
    runs inside the commit's apply."""
    st = TopicStore(spark, str(tmp_path / "pepmid"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t", producer_epoch=0)
    before = st.read_topic("t").count()
    zombie = in_form(_wave(spark, 1), form)

    # Hook the manifest-commit seam: by the first manifest.commit call
    # the produce has already staged its files (the kernel wrote them,
    # in the mapInArrow job or on the driver), so fencing here lands
    # between stage and commit — the window the test has always
    # exercised.
    from ripple_server_spark.sources import manifest

    orig = manifest.commit
    fired = {"done": False}

    def fence_then_commit(root, topic, base_version, apply):
        if not fired["done"]:
            fired["done"] = True
            st.fence_producers(topic)  # lands between stage and commit
        return orig(root, topic, base_version, apply)

    monkeypatch.setattr(manifest, "commit", fence_then_commit)
    with pytest.raises(StaleProducerEpochError):
        st.produce(zombie, "t", producer_epoch=0)
    monkeypatch.undo()
    assert st.read_topic("t").count() == before  # staged rows invisible
    # the orphaned staged files are vacuum-reclaimable, not live
    st.vacuum("t", grace_s=0.0)
    assert st.read_topic("t").count() == before


def test_producer_fence_landing_mid_local_produce_is_atomic(
    spark, tmp_path, monkeypatch
):
    """The mid-produce fence above, with the zombie's batch a local
    relation staged on the driver."""
    test_producer_fence_landing_mid_produce_is_atomic(
        spark, tmp_path, monkeypatch, form="local"
    )


def test_producer_fence_landing_mid_arrow_produce_is_atomic(
    spark, tmp_path, monkeypatch
):
    """The mid-produce fence above, with the zombie's batch a
    ``pyarrow.Table``."""
    test_producer_fence_landing_mid_produce_is_atomic(
        spark, tmp_path, monkeypatch, form="arrow"
    )


def test_producer_epoch_fences_native_sink(spark, tmp_path):
    from ripple_server_spark.sources.datasource import RippleTopicDataSource

    spark.dataSource.register(RippleTopicDataSource)
    root = str(tmp_path / "sink")
    st = TopicStore(spark, root)
    st.create_topic("t", n_buckets=2)
    df = _wave(spark, 0)
    (
        df.write.format("ripple_topic")
        .mode("append")
        .option("root", root)
        .option("topic", "t")
        .option("producer_epoch", "0")
        .save()
    )
    assert st.read_topic("t").count() == 20
    st.fence_producers("t")
    with pytest.raises(Exception, match="producer epoch"):
        (
            df.write.format("ripple_topic")
            .mode("append")
            .option("root", root)
            .option("topic", "t")
            .option("producer_epoch", "0")
            .save()
        )
    # fenced tasks staged nothing visible
    assert st.read_topic("t").count() == 20
    (
        df.write.format("ripple_topic")
        .mode("append")
        .option("root", root)
        .option("topic", "t")
        .option("producer_epoch", "1")
        .save()
    )
    assert st.read_topic("t").count() == 40


# -- commit_many / fencing atomicity (ADVICE r10) ----------------------------


def test_commit_many_is_one_atomic_multi_bucket_publish(
    spark, tmp_path, monkeypatch
):
    st = TopicStore(spark, str(tmp_path / "cm"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=40, keys=8), "t")
    st.assign_buckets("t", "g", 1)
    gen = st.group_state("t", "g")["generation"]
    v0 = consumer_state(st.root, "t")[0]
    data_v0 = st.latest_manifest("t")[0]
    st.commit_many(
        "g-0", "t", {0: 3, 1: 4, 2: 5}, group_id="g", generation=gen
    )
    offs = st.committed_offsets("g-0", "t")
    assert offs == {0: 3, 1: 4, 2: 5}
    # the offsets are the group's, held by ONE new consumer-log version
    v1, s = consumer_state(st.root, "t")
    assert v1 == v0 + 1
    assert s["groups"]["g"]["offsets"] == {"0": 3, "1": 4, "2": 5}
    assert "g-0" not in s.get("consumers", {})  # no member offsets written
    assert st.latest_manifest("t")[0] == data_v0


def test_rebalance_landing_inside_a_group_commit_is_fenced(
    spark, tmp_path, monkeypatch
):
    """A rebalance that lands after a group commit read its base but
    before it claims its version makes the claim lose; the rebase
    re-runs the fence against the rebalance and rejects the commit —
    nothing is written and nothing needs rolling back."""
    from tests.conftest import land_before_next_commit

    st = TopicStore(spark, str(tmp_path / "reval"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=40, keys=8), "t")
    st.assign_buckets("t", "g", 2)
    gen = st.group_state("t", "g")["generation"]
    st.commit("g-0", "t", 0, 1, group_id="g", generation=gen)
    before = consumer_state(st.root, "t")[1]["groups"]["g"]["offsets"]

    land_before_next_commit(monkeypatch, lambda: st.assign_buckets("t", "g", 3))
    with pytest.raises(StaleGenerationError, match="rebalanced"):
        st.commit_many(
            "g-0", "t", {0: 9, 1: 9}, group_id="g", generation=gen
        )
    monkeypatch.undo()
    after = consumer_state(st.root, "t")[1]["groups"]["g"]
    assert after["generation"] == gen + 1  # the rebalance landed
    assert after["offsets"] == before == {"0": 1}
    assert st.committed_offsets("g-0", "t") == {0: 1}


def test_rebalance_hands_committed_group_offsets_to_new_owner(spark, tmp_path):
    """Group offsets belong to (group, bucket): after a 2 -> 3 rebalance
    the new owner of a moved bucket resumes at the offset its previous
    owner committed, so a fully drained group re-delivers nothing and
    reports no lag."""
    st = TopicStore(spark, str(tmp_path / "handoff"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=80, keys=8), "t")
    a2 = st.assign_buckets("t", "w", 2)
    gen = st.group_state("t", "w")["generation"]
    for member, owned in a2.items():
        for b in owned:
            _tbl, nxt = st.poll(member, "t", b, 10_000)
            st.commit(member, "t", b, nxt, group_id="w", generation=gen)
    assert st.describe_group("t", "w")["total_lag"] == 0

    a3 = st.assign_buckets("t", "w", 3)
    assert a3["w-2"] == [3] and 3 in a2["w-1"]  # bucket 3 moved
    redelivered = sum(
        st.poll(member, "t", b, 10_000)[0].num_rows
        for member, owned in a3.items()
        for b in owned
    )
    assert redelivered == 0
    assert st.describe_group("t", "w")["total_lag"] == 0


def test_claim_fault_in_group_commit_leaves_previous_version(
    spark, tmp_path, monkeypatch
):
    from ripple_server_spark.sources import manifest

    st = TopicStore(spark, str(tmp_path / "fault"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0, n=20, keys=4), "t")
    st.assign_buckets("t", "g", 1)
    gen = st.group_state("t", "g")["generation"]
    st.commit_many("g-0", "t", {0: 2, 1: 3}, group_id="g", generation=gen)
    v0, m0 = consumer_state(st.root, "t")

    def failing_claim(slot, m):
        raise OSError("disk full")

    monkeypatch.setattr(manifest, "claim", failing_claim)
    with pytest.raises(OSError, match="disk full"):
        st.commit_many("g-0", "t", {0: 9, 1: 9}, group_id="g", generation=gen)
    monkeypatch.undo()
    assert consumer_state(st.root, "t") == (v0, m0)
    assert st.committed_offsets("g-0", "t") == {0: 2, 1: 3}


def test_group_offsets_override_only_committed_buckets(spark, tmp_path):
    """A member's own offsets, committed before it joined the group,
    still serve every bucket its group has not committed; the group's
    offset wins only where the group has one."""
    st = TopicStore(spark, str(tmp_path / "override"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=40, keys=8), "t")
    st.commit_many("g-0", "t", {0: 5, 1: 6, 3: 7})  # ungated, before joining
    st.assign_buckets("t", "g", 2)  # g-0 owns [0, 1]
    gen = st.group_state("t", "g")["generation"]
    st.commit("g-0", "t", 0, 9, group_id="g", generation=gen)
    assert st.committed_offsets("g-0", "t") == {0: 9, 1: 6, 3: 7}
    _tbl, nxt = st.poll("g-0", "t", 1, 1)
    assert nxt == 7  # bucket 1 polls from the member's own offset


def test_start_at_consumer_member_resumes_at_group_offset(spark, tmp_path):
    """start_at=consumer:<member> reads the same offsets as poll: after
    a rebalance, a moved bucket starts at the group's committed offset,
    not at the new owner's own (empty) offsets."""
    from tests.conftest import topic_stream

    st = TopicStore(spark, str(tmp_path / "startat"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0, n=40, keys=4), "t")
    st.assign_buckets("t", "w", 1)
    gen = st.group_state("t", "w")["generation"]
    st.commit_many("w-0", "t", {0: 4, 1: 6}, group_id="w", generation=gen)
    a2 = st.assign_buckets("t", "w", 2)
    assert a2 == {"w-0": [0], "w-1": [1]}

    q = (
        topic_stream(st, "t", start_at="consumer:w-1")
        .writeStream.format("memory")
        .queryName("startat_member")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT bucket, min(seq) AS lo FROM startat_member GROUP BY 1")
    lows = {r["bucket"]: r["lo"] for r in got.collect()}
    # bucket 1 resumes at the group's 6; w-1 owns no bucket 0 offset
    assert lows == {0: 0, 1: 6}


def test_offset_writes_refuse_group_members(spark, tmp_path):
    """reset_offsets and seek_to_timestamp write a consumer's own
    offsets, which its group's offsets override: on a member id they
    raise and write nothing."""
    st = TopicStore(spark, str(tmp_path / "refuse"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")
    st.assign_buckets("t", "g", 2)
    v0 = st.latest_manifest("t")[0]
    c0 = consumer_state(st.root, "t")[0]
    with pytest.raises(ValueError, match="group 'g'"):
        st.reset_offsets("g-0", "t", to="latest")
    with pytest.raises(ValueError, match="group 'g'"):
        st.seek_to_timestamp("g-1", "t", 1767225600000)
    assert st.latest_manifest("t")[0] == v0
    assert consumer_state(st.root, "t")[0] == c0
    assert st.committed_offsets("g-0", "t") == {}
    # a consumer outside every group still resets
    assert st.reset_offsets("solo", "t", to="earliest") == {0: 0, 1: 0}


def test_consumer_ids_cannot_escape_the_offsets_dir(spark, tmp_path):
    root = tmp_path / "store"
    st = TopicStore(spark, str(root))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")
    before = {(p, p.stat().st_mtime_ns) for p in tmp_path.rglob("*")}
    with pytest.raises(ValueError, match="flat name"):
        st.commit("../../escaped", "t", 0, 5)
    with pytest.raises(ValueError, match="flat name"):
        st.assign_buckets("t", "../g", 2)
    for bad in ("", "a/b", ".."):
        with pytest.raises(ValueError, match="flat name"):
            st.register_consumer(bad, "t")
    # nothing was written anywhere under the root
    assert {(p, p.stat().st_mtime_ns) for p in tmp_path.rglob("*")} == before
    assert st.list_groups("t") == []
    # '--' inside a consumer id stays legal
    st.commit("a--b", "t", 0, 1)
    assert st.committed_offsets("a--b", "t") == {0: 1}


def test_seeded_membership_walk_delivers_each_row_once(spark, tmp_path):
    """A seeded walk over group membership (1-4 members, range <-> sticky
    switches, one expand_buckets) with a fresh wave produced before each
    rebalance: every member drains its owned buckets with fenced
    commits, and across the whole walk no (bucket, seq) is delivered
    twice, none is missed, and the group ends with no lag."""
    import random

    rng = random.Random(12)
    sizes = rng.sample([1, 2, 3, 4] * 2, 8)
    strategies = [rng.choice(("range", "sticky")) for _ in sizes]
    switches = {(a, b) for a, b in zip(strategies, strategies[1:]) if a != b}
    assert switches == {("range", "sticky"), ("sticky", "range")}

    st = TopicStore(spark, str(tmp_path / "walk"))
    st.create_topic("t", n_buckets=4)
    delivered: list[tuple[int, int]] = []
    for step, (n_members, strategy) in enumerate(zip(sizes, strategies)):
        st.produce(_wave(spark, step, n=24, keys=12), "t")
        if step == 4:
            st.expand_buckets("t", 6)
        asg = st.assign_buckets("t", "g", n_members, strategy=strategy)
        gen = st.group_state("t", "g")["generation"]
        # an ungated commit by a member would lose to the group's
        # offsets: refused, and nothing moves
        member, owned = next((m, bs) for m, bs in asg.items() if bs)
        with pytest.raises(ValueError, match="group 'g'"):
            st.commit(member, "t", owned[0], 0)
        for member, owned in asg.items():
            for b in owned:
                tbl, nxt = st.poll(member, "t", b, 10_000)
                delivered += [(b, s) for s in tbl.column("seq").to_pylist()]
                st.commit(member, "t", b, nxt, group_id="g", generation=gen)

    assert len(delivered) == len(set(delivered))
    every = {
        (r["bucket"], r["seq"])
        for r in st.read_topic("t").select("bucket", "seq").collect()
    }
    assert set(delivered) == every
    assert st.describe_group("t", "g")["total_lag"] == 0


def test_ungated_commit_by_group_member_is_refused(spark, tmp_path):
    """An ungated write by an id that owns buckets in a group would lose
    to the group's offsets on every read, so it would do nothing:
    commit, commit_many and commit_stream_position without group_id
    refuse it, and no consumer-log version is written."""
    from ripple_server_spark.streaming.api import commit_stream_position
    from tests.conftest import topic_stream

    st = TopicStore(spark, str(tmp_path / "member"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")
    ckpt = str(tmp_path / "ck")
    q = (
        topic_stream(st, "t")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    st.assign_buckets("t", "g", 2)  # g-0 owns [0]
    gen = st.group_state("t", "g")["generation"]
    st.commit("g-0", "t", 0, 3, group_id="g", generation=gen)
    v0 = consumer_state(st.root, "t")[0]
    for write in (
        lambda: st.commit("g-0", "t", 0, 9),
        lambda: st.commit_many("g-0", "t", {0: 9, 1: 9}),
        lambda: commit_stream_position(st, ckpt, "t", "g-0"),
    ):
        with pytest.raises(ValueError, match="owns buckets of group 'g'"):
            write()
    assert st.committed_offsets("g-0", "t") == {0: 3}
    assert consumer_state(st.root, "t")[0] == v0


def test_group_traffic_stays_out_of_the_data_log(spark, tmp_path):
    """Joining, fenced commits, a rebalance and describe_group touch the
    consumer log only: the data manifest's version and history stay as
    they were, with no metadata rows for them."""
    st = TopicStore(spark, str(tmp_path / "quiet"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=40, keys=8), "t")
    v0, history = st.latest_manifest("t")[0], st.history("t")
    st.assign_buckets("t", "g", 2)
    gen = st.group_state("t", "g")["generation"]
    st.commit_many("g-0", "t", {0: 1, 1: 2}, group_id="g", generation=gen)
    st.assign_buckets("t", "g", 3)
    assert st.describe_group("t", "g")["generation"] == gen + 1
    assert st.latest_manifest("t")[0] == v0
    assert st.history("t") == history
    assert [r for r in history if r["operation"] == "metadata"] == []
    assert "groups" not in st.latest_manifest("t")[1]


def test_expand_buckets_writes_only_the_data_log(spark, tmp_path):
    """The order across the two logs: expand_buckets commits the data
    manifest only, and from that commit on the group reads one
    generation past its stored one, so a pre-expansion fenced commit is
    rejected as rebalanced."""
    st = TopicStore(spark, str(tmp_path / "order"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0, n=20, keys=4), "t")
    st.assign_buckets("t", "g", 2)
    gen = st.group_state("t", "g")["generation"]
    st.commit("g-0", "t", 0, 1, group_id="g", generation=gen)
    c0 = consumer_state(st.root, "t")
    st.expand_buckets("t", 8)
    assert consumer_state(st.root, "t") == c0
    assert st.group_state("t", "g")["generation"] == gen + 1
    with pytest.raises(StaleGenerationError, match="rebalanced"):
        st.commit("g-0", "t", 0, 2, group_id="g", generation=gen)
    assert st.committed_offsets("g-0", "t") == {0: 1}


def test_expansion_inside_a_fenced_commit_admits_only_old_owned_buckets(
    spark, tmp_path, monkeypatch
):
    """An expansion landing between a fenced commit's n_buckets read and
    its claim lets that one commit through under the old assignment, on
    a bucket the member owned before; the next commit is fenced."""
    from tests.conftest import land_before_next_commit

    st = TopicStore(spark, str(tmp_path / "late"))
    for topic in ("t", "u"):
        st.create_topic(topic, n_buckets=4)
        st.produce(_wave(spark, 0, n=20, keys=4), topic)
        st.assign_buckets(topic, "g", 2)  # g-0 owns [0, 1]
    gen = st.group_state("t", "g")["generation"]

    land_before_next_commit(monkeypatch, lambda: st.expand_buckets("t", 8))
    st.commit("g-0", "t", 1, 2, group_id="g", generation=gen)
    monkeypatch.undo()
    assert st.latest_manifest("t")[1]["n_buckets"] == 8
    assert st.committed_offsets("g-0", "t") == {1: 2}
    with pytest.raises(StaleGenerationError, match="rebalanced"):
        st.commit("g-0", "t", 1, 3, group_id="g", generation=gen)

    # a late commit on a bucket the member did not own is still refused
    land_before_next_commit(monkeypatch, lambda: st.expand_buckets("u", 8))
    with pytest.raises(StaleGenerationError, match="does not own bucket 5"):
        st.commit("g-0", "u", 5, 2, group_id="g", generation=gen)
    monkeypatch.undo()
    assert st.committed_offsets("g-0", "u") == {}


def test_vacuum_prunes_the_consumer_log(spark, tmp_path):
    """vacuum prunes consumer-log versions below the latest under the
    data log's grace rule: a positive grace keeps recent versions, a
    zero grace leaves one, and every committed offset reads the same."""
    import os

    st = TopicStore(spark, str(tmp_path / "vac"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")
    for i in range(3):
        st.commit("solo", "t", 0, i + 1)
    st.assign_buckets("t", "g", 1)
    gen = st.group_state("t", "g")["generation"]
    st.commit_many("g-0", "t", {0: 4, 1: 5}, group_id="g", generation=gen)
    offsets = {c: st.committed_offsets(c, "t") for c in ("solo", "g-0")}
    log = os.path.join(st.topic_dir("t"), "_consumers")
    versions = sorted(os.listdir(log))
    assert len(versions) == 5

    st.vacuum("t", grace_s=3600)
    assert sorted(os.listdir(log)) == versions
    st.vacuum("t", grace_s=0)
    assert os.listdir(log) == [versions[-1]]
    assert {c: st.committed_offsets(c, "t") for c in ("solo", "g-0")} == offsets
    assert st.group_state("t", "g")["generation"] == gen
    # the pruned log keeps committing
    st.commit("solo", "t", 1, 2)
    assert st.committed_offsets("solo", "t") == {0: 3, 1: 2}


# -- compact_by_key(order_by=) (VERDICT r10 item 7) ---------------------------


def test_order_by_compaction_collapses_cross_bucket_pairs(spark, tmp_path):
    """The documented expand_buckets caveat, then its repair: per-bucket
    compaction retains a stale pre-expansion row; order_by='ts'
    compaction collapses it to the global event-time latest without
    rekey_topic's full rewrite."""
    st = TopicStore(spark, str(tmp_path / "ob"))
    st.create_topic("t", n_buckets=2)
    # key 5: routes to bucket 1 under n=2
    w0 = spark.range(1).select(
        F.lit(1).alias("event_id"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(5).alias("user_id"),
        F.lit("old").alias("value"),
    )
    st.produce(w0, "t")
    st.expand_buckets("t", 3)
    # key 5 now routes to bucket 2: a newer version lands elsewhere
    w1 = spark.range(1).select(
        F.lit(2).alias("event_id"),
        F.lit("2026-01-02 00:00:00").cast("timestamp").alias("ts"),
        F.lit(5).alias("user_id"),
        F.lit("new").alias("value"),
    )
    st.produce(w1, "t")

    # the caveat: per-(bucket, key) compaction keeps BOTH versions
    assert st.compact_by_key("t", key_col="user_id") == 0
    assert st.read_topic("t").count() == 2

    # the repair: event-time compaction keeps only the global latest,
    # in its own bucket, with its own seq
    assert st.compact_by_key("t", key_col="user_id", order_by="ts") == 1
    live = st.read_topic("t").collect()
    assert len(live) == 1
    assert live[0]["value"] == "new"
    # maxima (HWM) never move even though a bucket emptied
    assert st._bucket_maxima("t") == {0: -1, 1: 0, 2: 0} or st._bucket_maxima(
        "t"
    ).get(1) == 0


def test_order_by_compaction_matches_default_when_no_expansion(spark, tmp_path):
    """Without an expansion boundary, order_by compaction and seq
    compaction agree when event time follows seq order (produce sorts
    by (ts, event_id))."""
    st = TopicStore(spark, str(tmp_path / "ob2"))
    st.create_topic("t", n_buckets=2)
    for w in range(3):
        st.produce(_wave(spark, w), "t")
    st2 = TopicStore(spark, str(tmp_path / "ob2b"))
    st2.create_topic("t", n_buckets=2)
    for w in range(3):
        st2.produce(_wave(spark, w), "t")
    st.compact_by_key("t", key_col="user_id")
    st2.compact_by_key("t", key_col="user_id", order_by="ts")
    a = sorted(
        (r["user_id"], r["wave"], r["value"])
        for r in st.read_topic("t").collect()
    )
    b = sorted(
        (r["user_id"], r["wave"], r["value"])
        for r in st2.read_topic("t").collect()
    )
    assert a == b


# -- DDL + offset tooling (r11 parity extensions) ----------------------------


def test_delete_topic_removes_data_offsets_and_fails_unknown(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "del"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")
    st.register_consumer("c1", "t")
    st.commit("c1", "t", 0, 3)
    st.create_topic("keep", n_buckets=2)
    st.produce(_wave(spark, 0), "keep")
    st.register_consumer("c1", "keep")

    assert st.delete_topic("t") == 1  # c1's offsets for t removed
    assert "t" not in st.list_topics()
    with pytest.raises(FileNotFoundError):
        st.topic_meta("t")
    with pytest.raises(FileNotFoundError):
        st.delete_topic("t")
    # unrelated topic + its offsets untouched
    assert st.read_topic("keep").count() == 20
    assert st.committed_offsets("c1", "keep") == {}
    # the name is reusable from a clean slate (Kafka delete+recreate)
    st.create_topic("t", n_buckets=4)
    assert st.produce(_wave(spark, 1), "t") == 20
    assert st.committed_offsets("c1", "t") == {}


def test_list_groups_and_reset_offsets(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "reset"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")  # 20 rows over 2 buckets
    assert st.list_groups("t") == []
    st.assign_buckets("t", "g", 2)
    st.assign_buckets("t", "h", 1, strategy="sticky")
    assert st.list_groups("t") == ["g", "h"]

    maxima = st._bucket_maxima("t")
    # to-latest: the next consume sees only new rows
    offs = st.reset_offsets("c", "t", to="latest")
    assert offs == {b: maxima[b] + 1 for b in range(2)}
    batch, nxt = st.consume("c", "t", bucket=0, count=1000)
    assert batch.count() == 0 and nxt == offs[0]
    st.produce(_wave(spark, 1), "t")
    batch, _ = st.consume("c", "t", bucket=0, count=1000)
    assert batch.count() == st._bucket_maxima("t")[0] - maxima[0]

    # to-earliest: replay from the retained floor (here 0)
    offs = st.reset_offsets("c", "t", to="earliest")
    assert offs == {0: 0, 1: 0}
    batch, _ = st.consume("c", "t", bucket=0, count=10_000)
    assert batch.count() == st._bucket_maxima("t")[0] + 1
    with pytest.raises(ValueError, match="earliest"):
        st.reset_offsets("c", "t", to="yesterday")

    # after retention, earliest clamps at the floor, not 0
    st.truncate("t", before_seq=5)
    floors = st._bucket_floors("t")
    offs = st.reset_offsets("c", "t", to="earliest")
    assert offs == {b: floors.get(b, 0) for b in range(2)}


def test_sticky_split_properties_randomized():
    """Property check over random membership walks: every split covers
    all buckets disjointly, sizes differ by at most one, and movement
    is MINIMAL — a surviving member keeps min(|prev|, target) of its
    previous buckets (it only ever sheds excess)."""
    from hypothesis import given, settings
    from hypothesis import strategies as hyp

    from ripple_server_spark.sources.topics import TopicStore

    @settings(max_examples=60, deadline=None)
    @given(
        n_buckets=hyp.integers(min_value=1, max_value=48),
        walk=hyp.lists(
            hyp.integers(min_value=1, max_value=9), min_size=1, max_size=6
        ),
    )
    def check(n_buckets, walk):
        prev: dict[str, list[int]] = {}
        for n_members in walk:
            out = TopicStore._sticky_split(n_buckets, "g", n_members, prev)
            flat = sorted(b for bs in out.values() for b in bs)
            assert flat == list(range(n_buckets))  # exhaustive + disjoint
            sizes = [len(bs) for bs in out.values()]
            assert max(sizes) - min(sizes) <= 1  # balanced
            base, extra = divmod(n_buckets, n_members)
            for k, (m, bs) in enumerate(sorted(out.items())):
                target = base + (1 if k < extra else 0)
                kept = len(set(bs) & set(prev.get(m, [])))
                assert kept == min(len(prev.get(m, [])), target)  # minimal movement
            # determinism: same inputs -> same split
            assert TopicStore._sticky_split(n_buckets, "g", n_members, prev) == out
            prev = out

    check()


def test_compaction_order_by_flows_from_topic_config(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "obcfg"))
    st.create_topic(
        "t",
        n_buckets=2,
        config={"cleanup.policy": "compact", "compaction.order.by": "ts"},
    )
    m = TopicMaintenance(
        st, "t", key_compaction_interval_s=0.0, vacuum_grace_s=3600.0
    )
    assert cleanup_policy(st.topic_config("t")).compaction_order_by == "ts"
    # the configured cleaner collapses the expand_buckets cross-bucket
    # pair that per-(bucket, key) compaction cannot
    w0 = spark.range(1).select(
        F.lit(1).alias("event_id"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(5).alias("user_id"),
        F.lit("old").alias("value"),
    )
    st.produce(w0, "t")
    st.expand_buckets("t", 3)
    st.produce(
        w0.select(
            F.lit(2).alias("event_id"),
            F.lit("2026-01-02 00:00:00").cast("timestamp").alias("ts"),
            F.lit(5).alias("user_id"),
            F.lit("new").alias("value"),
        ),
        "t",
    )
    s = m.run_once()
    assert s.error is None and s.key_dropped == 1
    live = st.read_topic("t").collect()
    assert len(live) == 1 and live[0]["value"] == "new"


def test_exactly_once_read_process_write_recipe(spark, tmp_path):
    """The Kafka-transactions shape (consume -> transform -> produce +
    offset commit, exactly-once end to end) composed from this store's
    primitives: an idempotent produce keyed by the SOURCE cursor range
    + an offset commit AFTER the produce. Every crash point replays
    safely — before the produce (nothing happened), between produce
    and commit (the replayed produce no-ops on its batch_id, then the
    commit lands), after the commit (the cursor has moved; nothing
    replays). The destination never sees a duplicate or a gap."""
    st = TopicStore(spark, str(tmp_path / "rpw"))
    st.create_topic("src", n_buckets=2)
    st.create_topic("dst", n_buckets=2)
    st.produce(_wave(spark, 0), "src")
    st.register_consumer("etl", "src")

    def process_once(crash_before_commit: bool) -> int:
        """One read-process-write unit over bucket 0."""
        offset = st.committed_offsets("etl", "src").get(0, 0)
        batch, nxt = st.consume("etl", "src", bucket=0, count=1000)
        if nxt == offset:
            return 0
        out = batch.withColumn("wave", F.col("wave") + 100)
        # batch_id derived from the source cursor RANGE: a replay of
        # the same range is the same transaction
        n = st.produce(out, "dst", batch_id=f"etl:src:0:{offset}:{nxt}")
        if crash_before_commit:
            raise RuntimeError("simulated crash after produce, before commit")
        st.commit("etl", "src", 0, nxt)
        return n

    # normal run delivers the bucket once
    n1 = process_once(crash_before_commit=False)
    assert n1 > 0
    assert st.read_topic("dst").count() == n1

    # new source rows; the unit crashes between produce and commit
    st.produce(_wave(spark, 1), "src")
    with pytest.raises(RuntimeError, match="simulated crash"):
        process_once(crash_before_commit=True)
    produced_mid = st.read_topic("dst").count()
    assert produced_mid > n1  # the produce DID land before the crash

    # the replay re-runs the same range: produce no-ops (same batch_id),
    # the commit finally lands, and nothing is duplicated
    n2 = process_once(crash_before_commit=False)
    assert n2 == 0  # idempotent replay
    assert st.read_topic("dst").count() == produced_mid

    # a further run with no new data is a clean no-op
    assert process_once(crash_before_commit=False) == 0
    # end state: dst holds exactly one transformed copy of bucket 0
    src_b0 = st.read_topic("src").filter(F.col("bucket") == 0).count()
    assert st.read_topic("dst").count() == src_b0


# -- review r11 regressions ---------------------------------------------------


def test_topic_name_validation_guards_layout(spark, tmp_path):
    """Topic dirs are paths, and '--' and a leading '-' stay reserved:
    such names are rejected at every create path."""
    st = TopicStore(spark, str(tmp_path / "names"))
    for bad in ("a--b", "", "..", "a/b", "a b", "x" * 250, "-b"):
        with pytest.raises(ValueError, match="invalid topic name"):
            st.create_topic(bad)
    # the DESTRUCTIVE path re-validates at entry (ADVICE r11):
    # delete_topic("..") used to resolve to the topics root and rmtree
    # the entire store; it must reject before resolving any path
    for bad in ("..", ".", "a/b", "-b"):
        with pytest.raises(ValueError, match="invalid topic name"):
            st.delete_topic(bad)
    # consumer ids MAY contain '--', and deleting one topic leaves the
    # same id's offsets on another topic untouched
    st.create_topic("b", n_buckets=2)
    st.register_consumer("c--x", "b")
    st.commit("c--x", "b", 0, 5)
    st.create_topic("keep.b", n_buckets=2)
    st.register_consumer("c--x", "keep.b")
    st.commit("c--x", "keep.b", 0, 7)
    st.delete_topic("b")
    assert st.committed_offsets("c--x", "keep.b") == {0: 7}


def test_lone_tombstone_cannot_starve_the_cleaner_gate(spark, tmp_path):
    """Review r11: a no-drop pass that RETAINS a within-window marker
    (e.g. a delete of an already-compacted-away key) must clear the
    cleaner checkpoint, or the dirty-ratio gate would never send the
    post-window second pass back to remove the marker."""
    st = TopicStore(spark, str(tmp_path / "starve"))
    st.create_topic("t", n_buckets=2)
    st.produce(_wave(spark, 0), "t")
    st.compact_by_key("t", key_col="user_id", tombstone_col="value")
    assert st.key_compaction_dirty_ratio("t") == 0.0  # clean head

    # a tombstone for a key with NO surviving prior row, event time now
    lone = spark.range(1).select(
        F.lit(9999).cast("bigint").alias("event_id"),
        F.timestamp_seconds(F.lit(int(time.time()))).alias("ts"),
        F.lit(999).cast("bigint").alias("user_id"),
        F.lit(0).alias("wave"),
        F.lit(None).cast("string").alias("value"),
    )
    st.produce(lone, "t")

    day_ms = 86_400_000
    assert (
        st.compact_by_key(
            "t", key_col="user_id", tombstone_col="value",
            tombstone_retention_ms=day_ms,
        )
        == 0
    )  # nothing superseded; marker retained
    # the checkpoint is CLEARED, not left covering the clean bulk —
    # the gate keeps routing the cleaner back each interval
    assert st.key_compaction_dirty_ratio("t") == 1.0

    # window expired: the pass removes the marker and re-checkpoints
    assert (
        st.compact_by_key(
            "t", key_col="user_id", tombstone_col="value",
            tombstone_retention_ms=1,
        )
        == 1
    )
    assert st.key_compaction_dirty_ratio("t") == 0.0
    assert st.read_topic("t").filter(F.col("user_id") == 999).count() == 0


def test_assign_buckets_adoption_rejects_concurrent_reconfig(
    spark, tmp_path, monkeypatch
):
    """Review r11: the _AlreadyCurrent adoption path must raise a
    group-coordination error, not KeyError, when the group was
    reconfigured between the failed commit and the adoption re-read."""
    import copy

    st = TopicStore(spark, str(tmp_path / "adopt"))
    st.create_topic("t", n_buckets=4)
    st.produce(_wave(spark, 0), "t")
    st.assign_buckets("t", "g", 2, strategy="sticky")

    from ripple_server_spark.sources import topics

    real_v, real_s = consumer_state(st.root, "t")
    # 1st canned read: incomplete assignment -> forces the commit path;
    # apply then sees the REAL (complete, identical) entry and raises
    # _AlreadyCurrent; 2nd canned read: the group switched to range
    # concurrently -> adoption must reject, not KeyError
    first = copy.deepcopy(real_s)
    first["groups"]["g"]["assignment"] = {"g-0": [0], "g-1": [1]}
    second = copy.deepcopy(real_s)
    second["groups"]["g"] = {
        "generation": real_s["groups"]["g"]["generation"] + 1,
        "n_members": 2,
        "strategy": "range",
        "assignment": {"g-0": [0, 1], "g-1": [2, 3]},
    }
    canned = [(real_v, first), (real_v + 1, second)]
    orig = topics.consumer_state

    def fake_state(root, topic):
        if topic == "t" and canned:
            return canned.pop(0)
        return orig(root, topic)

    monkeypatch.setattr(topics, "consumer_state", fake_state)
    with pytest.raises(StaleGenerationError, match="reconfigured concurrently"):
        st.assign_buckets("t", "g", 2, strategy="sticky")
