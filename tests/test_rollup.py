"""Incremental hourly rollup: correctness, incrementality, idempotence."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources import manifest
from ripple_server_spark.sources.rollup import HOUR_FMT, HourlyRollup
from ripple_server_spark.sources.topics import TopicStore
from tests.conftest import SF_SMOKE, topic_stream


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="rollup_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _expected(df):
    rows = (
        df.groupBy(F.date_format("ts", HOUR_FMT).alias("hour_key"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    )
    return {
        (r["hour_key"], r["event_type"]): (
            r["n"],
            round(r["sum_value"], 6),
            round(r["min_value"], 6),
            round(r["max_value"], 6),
        )
        for r in rows
    }


def _actual(rollup):
    return {
        (r["hour_key"], r["event_type"]): (
            r["n"],
            round(r["sum_value"], 6),
            round(r["min_value"], 6),
            round(r["max_value"], 6),
        )
        for r in rollup.read().collect()
    }


def test_rollup_incremental_refresh(spark, tmp_root):
    ev = load_table(spark, SF_SMOKE, "events")
    cutoff = ev.agg(F.expr("percentile(unix_micros(ts), 0.7)")).first()[0]
    first = ev.filter(F.unix_micros("ts") <= cutoff)
    second = ev.filter(F.unix_micros("ts") > cutoff)

    store = TopicStore(spark, tmp_root)
    store.create_topic("t", n_buckets=4)
    rollup = HourlyRollup(spark, store, "t", os.path.join(tmp_root, "rollup"))

    store.produce(first, "t")
    r1 = rollup.refresh()
    assert r1["new_rows"] == first.count()
    assert _actual(rollup) == _expected(store.read_topic("t"))
    total_hours_1 = rollup.read().select("hour_key").distinct().count()

    # Second batch is a disjoint later time range -> the refresh must
    # touch only its hours (plus a possible boundary hour), not redo
    # history.
    store.produce(second, "t")
    r2 = rollup.refresh()
    assert r2["new_rows"] == second.count()
    second_hours = second.select(
        F.date_format("ts", HOUR_FMT).alias("hk")
    ).distinct().count()
    assert r2["hours_refreshed"] == second_hours
    assert r2["hours_refreshed"] < total_hours_1  # strictly incremental
    assert _actual(rollup) == _expected(store.read_topic("t"))

    # No new data -> no work, no rewrite.
    r3 = rollup.refresh()
    assert r3 == {"hours_refreshed": 0, "new_rows": 0}


def test_rollup_replay_is_idempotent(spark, tmp_root):
    """Crash between data write and state commit == stale state. A
    re-refresh must converge to the same rollup, not double-count."""
    ev = load_table(spark, SF_SMOKE, "events")
    store = TopicStore(spark, tmp_root)
    store.create_topic("t", n_buckets=4)
    rollup = HourlyRollup(spark, store, "t", os.path.join(tmp_root, "rollup"))
    store.produce(ev, "t")
    rollup.refresh()
    want = _actual(rollup)

    os.remove(rollup._state_path())  # simulate lost state commit
    r = rollup.refresh()
    assert r["new_rows"] == ev.count()  # full replay...
    assert _actual(rollup) == want  # ...same result


def test_rollup_driven_by_stream(spark, tmp_root):
    """The cron-batch TODO the reference never wired up
    (internal/broker/broker.go:51,79 + cronjob.go): a streaming query
    over the topic triggers rollup refreshes via foreachBatch — the
    continuous-aggregate pipeline. availableNow stands in for the cron
    trigger; each micro-batch folds the tail into the rollup."""
    ev = load_table(spark, SF_SMOKE, "events")
    store = TopicStore(spark, tmp_root)
    store.create_topic("t", n_buckets=4)
    rollup = HourlyRollup(spark, store, "t", os.path.join(tmp_root, "rollup"))
    store.produce(ev, "t")

    refreshes = []

    def fold(batch, batch_id):
        # The stream is the TRIGGER; refresh() reads the log tail via
        # its own HWM (idempotent if a batch replays).
        refreshes.append(rollup.refresh())

    q = (
        topic_stream(store, "t")
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(tmp_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(r["new_rows"] for r in refreshes) == ev.count()
    assert _actual(rollup) == _expected(store.read_topic("t"))


def test_refresh_hwm_is_pinned_to_folded_snapshot(spark, sf_dir, tmp_path):
    """A produce landing between the refresh's log snapshot and its
    state write must NOT be covered by the recorded high-water mark —
    the next refresh has to fold it. Forced by serving refresh a stale
    manifest while the real log already advanced."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    store = TopicStore(spark, str(tmp_path / "store"))
    store.create_topic("t", n_buckets=2)
    store.produce(ev.filter(F.col("event_id") % 2 == 0), "t")
    v1 = store.latest_manifest("t")[0]
    # the "concurrent" produce: lands after the snapshot refresh will see
    store.produce(ev.filter(F.col("event_id") % 2 == 1), "t")

    roll = HourlyRollup(spark, store, "t", str(tmp_path / "roll"))
    real = store.latest_manifest
    store.latest_manifest = lambda topic: (
        (v1, json.load(open(manifest.path(store.root, topic, v1))))
        if topic == "t"
        else real(topic)
    )
    try:
        roll.refresh()  # folds only the even batch
    finally:
        store.latest_manifest = real
    roll.refresh()  # must pick up the odd batch

    got = {
        (r["hour_key"], r["event_type"]): r["n"] for r in roll.read().collect()
    }
    want = {
        (r["hour_key"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd-HH").alias("hour_key"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_rollup_folds_bucket_that_first_appears_after_a_refresh(spark, sf_dir, tmp_path):
    """A bucket whose FIRST rows land after the first refresh starts at
    seq 0 — below every saved HWM. The global min-HWM prefilter must
    not exclude those rows (previously they were silently never folded
    and the state write then recorded their maxima, losing them
    permanently)."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "t"))
    st.create_topic("nb", n_buckets=4)
    ev = load_table(spark, sf_dir, "events")
    # route everything to one bucket first: key = constant 0
    first = ev.limit(50).withColumn("user_id", F.lit(0).cast("bigint"))
    st.produce(first, "nb")
    ru = HourlyRollup(spark, st, "nb", str(tmp_path / "roll"))
    ru.refresh()
    total_1 = ru.read().agg(F.sum("n")).first()[0]
    assert total_1 == 50
    # now a batch that lands in OTHER buckets, seqs starting at 0
    second = ev.filter((F.col("event_id") >= 50) & (F.col("event_id") < 90))
    st.produce(second, "nb")
    out = ru.refresh()
    assert out["new_rows"] == 40
    assert ru.read().agg(F.sum("n")).first()[0] == 90


def test_rollup_self_heals_after_restore(spark, sf_dir, tmp_path):
    """A restore rewinds seq HWMs, so 'seq > hwm' stops meaning 'new'.
    The rollup must detect the rollback (restore marker in its state)
    and rebuild instead of silently never folding the reused seqs."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "t2"))
    st.create_topic("rr", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(40), "rr")
    v_target, _ = st.latest_manifest("rr")
    st.produce(ev.filter((F.col("event_id") >= 40) & (F.col("event_id") < 70)), "rr")
    ru = HourlyRollup(spark, st, "rr", str(tmp_path / "roll2"))
    ru.refresh()
    assert ru.read().agg(F.sum("n")).first()[0] == 70
    st.restore("rr", v_target)
    st.produce(ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 125)), "rr")
    out = ru.refresh()
    assert out["hours_refreshed"] > 0
    # the rebuild clears the aggregate table first, so the rollup equals
    # the restored log EXACTLY — no stale hour may keep serving
    # rolled-back aggregates (an hour whose rows were entirely rolled
    # back must disappear, not survive the dynamic-partition overwrite)
    log_now = (
        st.read_topic("rr")
        .groupBy(F.date_format("ts", "yyyy-MM-dd-HH").alias("hour_key"))
        .agg(F.count("*").alias("n"))
    )
    rolled = ru.read().groupBy("hour_key").agg(F.sum("n").alias("n"))
    got = {(r["hour_key"], r["n"]) for r in rolled.collect()}
    want = {(r["hour_key"], r["n"]) for r in log_now.collect()}
    assert got == want
    assert ru.read().agg(F.sum("n")).first()[0] == 65  # 40 restored + 25 new


def test_rollup_read_before_first_fold_is_empty_typed(spark, tmp_path):
    """read() on a rollup that has never folded anything returns an
    empty frame with the rollup schema (a scheduler may read before the
    first produce), not a PATH_NOT_FOUND crash."""
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "t3"))
    st.create_topic("empty_r", n_buckets=2)
    ru = HourlyRollup(spark, st, "empty_r", str(tmp_path / "roll3"))
    assert ru.refresh() == {"hours_refreshed": 0, "new_rows": 0}
    df = ru.read()
    assert df.count() == 0
    assert df.columns == [
        "event_type", "n", "sum_value", "min_value", "max_value", "hour_key"
    ]


def test_rollup_state_write_is_atomic(spark, sf_dir, tmp_path):
    """The state file commits via tmp+rename: no .tmp remnant survives a
    refresh, and a pre-existing stale .tmp (crash artifact) is ignored
    and replaced rather than corrupting the state."""
    import os

    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "t4"))
    st.create_topic("at", n_buckets=2)
    st.produce(load_table(spark, sf_dir, "events").limit(30), "at")
    ru = HourlyRollup(spark, st, "at", str(tmp_path / "roll4"))
    # plant a crash artifact where the tmp file goes
    with open(ru._state_path() + ".tmp", "w") as f:
        f.write("{corrupt")
    ru.refresh()
    assert not os.path.exists(ru._state_path() + ".tmp")
    hwm, _marker = ru._load_state()
    assert hwm  # committed state is valid JSON with the folded HWMs
