"""Topic retention (truncate): file-granularity age-out with consistent
consumer semantics (earliest-offset reset below the retained floor)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.topics import TopicStore
from tests.conftest import SF_SMOKE


@pytest.fixture()
def store(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "topics"))
    st.create_topic("t", n_buckets=4)
    ev = load_table(spark, SF_SMOKE, "events")
    # three produces -> >= 3 files per bucket, so truncation has file
    # boundaries to work with
    for i in range(3):
        st.produce(ev.filter(F.col("event_id") % 3 == i), "t")
    return st


def test_truncate_drops_only_whole_old_files(spark, store):
    before = store.read_topic("t")
    n_before = before.count()
    maxima = store._bucket_maxima("t")
    cutoff = min(maxima.values()) // 2
    # materialize BEFORE truncation (lazy plans re-list files at action)
    n_above_before = before.filter(F.col("seq") >= cutoff).count()

    removed = store.truncate("t", before_seq=cutoff)
    assert removed > 0

    after = store.read_topic("t")
    # Nothing at/above the cutoff was lost...
    assert after.filter(F.col("seq") >= cutoff).count() == n_above_before
    # ...and whatever survives below it is file-tail remainder only.
    assert after.count() < n_before
    # maxima unchanged (retention never touches the head)
    assert store._bucket_maxima("t") == maxima


def test_consume_resumes_at_retained_floor(spark, store):
    cutoff = min(store._bucket_maxima("t").values()) // 2
    store.truncate("t", before_seq=cutoff)
    floors = store._bucket_floors("t")

    store.register_consumer("c_old", "t")  # offset 0, below the floor
    batch, next_off = store.consume("c_old", "t", bucket=0, count=10)
    rows = batch.collect()
    assert len(rows) == 10
    # delivery starts exactly at the retained floor, stays contiguous
    seqs = [r["seq"] for r in rows]
    assert seqs == list(range(floors.get(0, 0), floors.get(0, 0) + 10))
    assert next_off == floors.get(0, 0) + 10


def test_compact_then_truncate_is_exact(spark, store):
    """After compaction (one file per bucket) a truncate below the max
    removes nothing (the single file spans the cutoff) — the documented
    file-granularity contract, exact only at file boundaries."""
    store.compact("t")
    cutoff = min(store._bucket_maxima("t").values()) // 2
    assert store.truncate("t", before_seq=cutoff) == 0
    # truncating ABOVE every bucket's max drops every file
    hi = max(store._bucket_maxima("t").values()) + 1
    assert store.truncate("t", before_seq=hi) == 4


@pytest.mark.parametrize("rewrite", ["compact", "compact_by_key"])
def test_stale_base_compact_does_not_resurrect_truncated_rows(
    spark, sf_dir, tmp_path, monkeypatch, rewrite
):
    """Compact racing truncate: a compaction whose base snapshot predates
    a truncate holds the aged-out rows in its staged output — swapping it
    in would serve them again below the retention floor, permanently
    (the compacted file straddles the floor, so no later truncate could
    reclaim them). The commit must detect its input was superseded and
    restage from the post-truncate manifest. Simulated deterministically
    by pinning base_version to the pre-truncate manifest. Both
    compactions share the swap (manifest.rewrite): the first batch's
    keys occur only below the floor, so a key-compacted stale output
    would carry them too, and the second batch's repeated keys make the
    stale pass drop rows (a no-drop pass attempts no swap)."""
    from tests.conftest import count_stagings

    st = TopicStore(spark, str(tmp_path / "race"))
    st.create_topic("r", n_buckets=1)
    ev = load_table(spark, sf_dir, "events")
    st.produce(
        ev.filter(F.col("event_id") < 100).withColumn("user_id", F.col("event_id")),
        "r",
    )  # seqs 0-99, 100 distinct keys
    st.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)).withColumn(
            "user_id", F.col("event_id") % 10 + 1000
        ),
        "r",
    )  # seqs 100-199, 10 keys
    post_produce_v, _ = st.latest_manifest("r")
    assert st.truncate("r", before_seq=100) == 1  # first file aged out
    floor = st._bucket_floors("r")[0]
    assert floor == 100

    # compact pinned to the PRE-truncate base: must rebase, not resurrect
    stagings = count_stagings(monkeypatch)
    getattr(st, rewrite)("r", base_version=post_produce_v)
    monkeypatch.undo()
    assert len(stagings) == 2, "the stale-base swap must abort and restage"
    after = st.read_topic("r")
    assert after.filter(F.col("seq") < floor).count() == 0, (
        "stale-base compaction resurrected rows below the retention floor"
    )
    # seqs 100-199 intact, or their 10 keys' latest rows
    assert after.count() == (100 if rewrite == "compact" else 10)
    assert st._bucket_floors("r")[0] == floor  # floor survived the swap


def test_total_truncation_then_reproduce_continues_seq(spark, sf_dir, tmp_path):
    """Aging out the ENTIRE log must leave a servable empty topic with
    the recorded message schema, and a later produce must continue the
    per-bucket seq chain above the retained floor (never reset to 0 —
    committed consumer offsets stay meaningful)."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "total_trunc"))
    st.create_topic("m", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(50), "m")
    floors_target = max(st._bucket_maxima("m").values()) + 1
    assert st.truncate("m", before_seq=floors_target) >= 1
    st.vacuum("m")
    df = st.read_topic("m")
    assert df.count() == 0
    assert "event_id" in df.columns  # recorded message schema, not bare
    st.produce(ev.filter((F.col("event_id") >= 50) & (F.col("event_id") < 70)), "m")
    per = (
        st.read_topic("m")
        .groupBy("bucket")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    floors = st._bucket_floors("m")
    for r in per:
        assert r["mn"] >= floors[r["bucket"]]  # above the floor, no reset
        assert r["mx"] - r["mn"] + 1 == r["n"]  # contiguous above it


def test_truncate_before_timestamp_ages_out_old_files(spark, sf_dir, tmp_path):
    """retention.ms parity: truncate_before_timestamp composes
    offsets_for_times (first at/after-T offset per bucket) with the
    seq-granularity file drop — files wholly older than T age out,
    everything at/after T survives, floors rise to T's offsets, and a
    pre-retention consumer clamps to the floor instead of spinning
    through phantom seqs."""
    from pyspark.sql import functions as F

    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "age_topics"))
    st.create_topic("age", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # two produce waves split by event time: separate files per bucket,
    # so the old wave's files are wholly below T and can age out
    t_ms = 1705276800000  # 2024-01-15T00:00:00Z, mid-fixture
    old = ev.filter(F.unix_millis("ts") < t_ms)
    new = ev.filter(F.unix_millis("ts") >= t_ms)
    n_old, n_new = old.count(), new.count()
    assert n_old and n_new
    st.produce(old, "age")
    st.produce(new, "age")

    cut = st.offsets_for_times("age", t_ms)
    dropped = st.truncate_before_timestamp("age", t_ms)
    assert dropped >= 2  # wave-1 files (one per non-empty bucket) aged out
    floors = st._bucket_floors("age")
    live = st.read_topic("age")
    # nothing at/after T was lost, and everything before T is gone
    # (wave files align exactly with the time split here)
    assert live.filter(F.unix_millis("ts") >= t_ms).count() == n_new
    assert live.filter(F.unix_millis("ts") < t_ms).count() == 0
    # floors rose exactly to T's offsets
    for b, fl in floors.items():
        assert fl == cut[b], (b, fl, cut)
    # a fresh consumer starts at the retained floor, not seq 0
    batch, _nxt = st.consume("late-joiner", "age", bucket=0, count=5)
    if batch.count():
        assert batch.agg(F.min("seq")).first()[0] >= floors.get(0, 0)
    # idempotent: a second pass with the same T drops nothing more
    assert st.truncate_before_timestamp("age", t_ms) == 0
    # a LATE produce with pre-T timestamps is RETAINED (offset-
    # granularity retention, Kafka semantics): its seqs sit above the
    # cutoff, so age-out by the same T must not touch it
    st.produce(old.withColumn("event_id", F.col("event_id") + 100000), "age")
    assert st.truncate_before_timestamp("age", t_ms) == 0
    assert st.read_topic("age").filter(F.col("event_id") >= 100000).count() == n_old


# -- key compaction (Kafka cleanup.policy=compact) -------------------------


def _mk_versions(spark, n_keys=10, waves=3, rows=30):
    def wave(w):
        return spark.range(rows).select(
            (F.col("id") + w * 1000).alias("event_id"),
            (
                F.lit("2026-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") + w * 100)
            ).alias("ts"),
            (F.col("id") % n_keys).alias("user_id"),
            F.lit(w).alias("wave"),
        )

    return wave


def test_compact_by_key_latest_wins_and_gap_tolerant_consume(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "kc_topics"))
    st.create_topic("kc", n_buckets=4)
    wave = _mk_versions(spark)
    for w in range(3):
        st.produce(wave(w), "kc")
    maxima = st._bucket_maxima("kc")
    dropped = st.compact_by_key("kc", key_col="user_id")
    assert dropped == 80  # 90 rows, 10 keys -> 10 survivors

    live = st.read_topic("kc")
    assert live.count() == 10
    # latest wins: every survivor is from the last wave
    assert live.filter(F.col("wave") != 2).count() == 0
    # seqs keep their values; maxima (HWM) never move
    assert st._bucket_maxima("kc") == maxima
    # gap-tolerant consume: the range filter just skips compacted-away
    # seqs (Kafka compacted-fetch), offset advances past the gap
    st.register_consumer("c", "kc")
    for b in range(4):
        batch, nxt = st.consume("c", "kc", bucket=b, count=10_000)
        got = batch.select("seq").collect()
        assert len(got) == live.filter(F.col("bucket") == b).count()
        assert nxt == maxima[b] + 1
    # idempotent: second pass drops nothing and burns no version
    v = st.latest_manifest("kc")[0]
    assert st.compact_by_key("kc") == 0
    assert st.latest_manifest("kc")[0] == v


def test_compact_by_key_dropped_count_is_exact_across_seq_gaps(spark, tmp_path):
    """The dropped count is the exact row difference even when the
    input files' seq ranges have holes: ``dropped == 0`` decides
    whether a pass swaps files, so a count taken from seq spans
    (``hi - lo + 1``) would overcount on every pass after the first
    and rewrite an already-compacted log forever."""
    st = TopicStore(spark, str(tmp_path / "kc_gaps"))
    st.create_topic("kg", n_buckets=1)
    base_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")

    def batch(rows):
        return spark.createDataFrame(rows, "event_id bigint, user_id bigint").select(
            "event_id",
            (base_ts + F.make_interval(secs=F.col("event_id"))).alias("ts"),
            "user_id",
        )

    # seqs 0..3 = keys 1, 2, 3, 2: key 2 is updated out of step, so the
    # survivors {0, 2, 3} leave a hole inside the compacted file's range
    st.produce(batch([(0, 1), (1, 2), (2, 3), (3, 2)]), "kg")
    assert st.compact_by_key("kg", key_col="user_id") == 1
    # seqs 4, 5 = keys 2, 4: survivors {0, 2, 4, 5} span 6 seqs
    st.produce(batch([(4, 2), (5, 4)]), "kg")
    n_before = st.read_topic("kg").count()
    dropped = st.compact_by_key("kg", key_col="user_id")
    n_after = st.read_topic("kg").count()
    assert (n_before, n_after) == (5, 4)
    assert dropped == n_before - n_after
    # nothing new: the pass drops nothing and swaps no files
    files = st.latest_manifest("kg")[1]["files"]
    assert st.compact_by_key("kg", key_col="user_id") == 0
    assert st.latest_manifest("kg")[1]["files"] == files


def test_compact_by_key_preserves_concurrent_produce(spark, tmp_path):
    """A produce landing mid-compaction is preserved verbatim (its
    files are not in the compacted input set) — even when it carries
    NEWER versions of already-compacted keys, which then coexist with
    the stale survivor until the next pass (Kafka's dirty-segment
    window)."""
    st = TopicStore(spark, str(tmp_path / "kc_race"))
    st.create_topic("kr", n_buckets=4)
    wave = _mk_versions(spark)
    for w in range(2):
        st.produce(wave(w), "kr")
    base_v = st.latest_manifest("kr")[0]
    # compact against the pinned base while a wave-2 produce lands
    # "mid-pass" (committed after the base snapshot was taken)
    st.produce(wave(2), "kr")
    st.compact_by_key("kr", key_col="user_id", base_version=base_v)

    live = st.read_topic("kr")
    # all 30 wave-2 rows survive untouched + 10 wave-1 survivors
    assert live.filter(F.col("wave") == 2).count() == 30
    assert live.filter(F.col("wave") == 1).count() == 10
    assert live.filter(F.col("wave") == 0).count() == 0
    # the NEXT pass collapses the dirty window to true latest-per-key
    assert st.compact_by_key("kr", key_col="user_id") == 30
    live2 = st.read_topic("kr")
    assert live2.count() == 10
    assert live2.filter(F.col("wave") != 2).count() == 0


def test_compact_by_key_snapshot_pinned_reader_unaffected(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "kc_snap"))
    st.create_topic("ks", n_buckets=4)
    wave = _mk_versions(spark)
    for w in range(2):
        st.produce(wave(w), "ks")
    v_pin = st.latest_manifest("ks")[0]
    pinned = st.read_topic("ks", version=v_pin)
    st.compact_by_key("ks", key_col="user_id")
    # the pinned snapshot still reads the full pre-compaction log
    # (old files persist until vacuum)
    assert pinned.count() == 60
    assert st.read_topic("ks").count() == 10


def test_compact_by_key_null_keys_retained(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "kc_null"))
    st.create_topic("kn", n_buckets=2)
    df = spark.range(10).select(
        F.col("id").alias("event_id"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.when(F.col("id") < 6, None)
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("user_id"),
    )
    st.produce(df, "kn")
    st.compact_by_key("kn")
    # 6 null-key rows all retained + 1 survivor for key 1
    assert st.read_topic("kn").count() == 7


def test_compact_by_key_missing_key_column_raises(spark, tmp_path):
    st = TopicStore(spark, str(tmp_path / "kc_nok"))
    st.create_topic("nk", n_buckets=2)
    df = spark.range(5).select(
        F.col("id").alias("event_id"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("id").alias("user_id"),
    )
    st.produce(df, "nk")
    with pytest.raises(ValueError, match="no 'nope' column"):
        st.compact_by_key("nk", key_col="nope")


def test_compact_by_key_tombstones_delete_keys(spark, tmp_path):
    """Kafka null-value tombstones: a key whose LATEST record has a
    NULL tombstone_col is removed entirely (older versions + the
    tombstone); a tombstone superseded by a later non-null record
    deletes nothing; null-KEY rows are unkeyed records, never
    deletes."""
    st = TopicStore(spark, str(tmp_path / "kc_tomb"))
    st.create_topic("kt", n_buckets=2)
    base_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")

    def rec(rows):
        return spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, value double"
        ).select(
            "event_id",
            (base_ts + F.make_interval(secs=F.col("event_id"))).alias("ts"),
            "user_id",
            "value",
        )

    # wave 1: keys 0..4 with values
    st.produce(rec([(i, i % 5, float(i)) for i in range(10)]), "kt")
    # wave 2: tombstone keys 0 and 1 (value NULL); update key 2
    st.produce(
        rec([(100, 0, None), (101, 1, None), (102, 2, 42.0)]), "kt"
    )
    # wave 3: key 1 resurrected with a new value (supersedes tombstone);
    # one unkeyed record with NULL value (not a delete)
    st.produce(rec([(200, 1, 7.0), (201, None, None)]), "kt")

    st.compact_by_key("kt", key_col="user_id", tombstone_col="value")
    live = st.read_topic("kt")
    rows = {r["user_id"]: r for r in live.collect()}
    assert 0 not in rows  # tombstoned, gone entirely
    assert rows[1]["value"] == 7.0 and rows[1]["event_id"] == 200  # resurrected
    assert rows[2]["value"] == 42.0 and rows[2]["event_id"] == 102
    assert rows[3]["event_id"] == 8 and rows[4]["event_id"] == 9
    # the unkeyed null-value record passed through
    assert None in rows and rows[None]["event_id"] == 201
    assert live.count() == 5
    # a missing tombstone column is a named error
    with pytest.raises(ValueError, match="no 'nope' column"):
        st.compact_by_key("kt", key_col="user_id", tombstone_col="nope")


def test_compact_by_key_matches_pandas_model_randomized(spark, tmp_path):
    """Model check: across seeded random workloads (duplicate keys,
    null keys, tombstones, multiple waves, varying bucket counts) the
    compacted log equals a pandas latest-per-key model computed from
    the pre-compaction log — catches any drift in grouping, null, or
    tombstone semantics."""
    import numpy as np

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        nb = int(rng.integers(1, 5))
        topic = f"mdl{seed}"
        st = TopicStore(spark, str(tmp_path / f"mdl_topics{seed}"))
        st.create_topic(topic, n_buckets=nb)
        n_waves = int(rng.integers(1, 4))
        eid = 0
        for _w in range(n_waves):
            n = int(rng.integers(1, 40))
            rows = []
            for _ in range(n):
                key = None if rng.random() < 0.15 else int(rng.integers(0, 8))
                val = None if rng.random() < 0.2 else float(rng.integers(0, 100))
                rows.append((eid, key, val))
                eid += 1
            df = spark.createDataFrame(
                rows, "event_id bigint, user_id bigint, value double"
            ).select(
                "event_id",
                (
                    F.lit("2026-01-01 00:00:00").cast("timestamp")
                    + F.make_interval(secs=F.col("event_id"))
                ).alias("ts"),
                "user_id",
                "value",
            )
            st.produce(df, topic)

        before = (
            st.read_topic(topic)
            .select("bucket", "seq", "event_id", "user_id", "value")
            .toPandas()
        )
        st.compact_by_key(topic, key_col="user_id", tombstone_col="value")
        got = (
            st.read_topic(topic)
            .select("bucket", "seq", "event_id", "user_id", "value")
            .toPandas()
            .sort_values(["bucket", "seq"])
            .reset_index(drop=True)
        )
        # pandas model: per (bucket, key) keep max seq; null keys all
        # survive; keyed survivors with null value (tombstones) drop
        keyed = before[before["user_id"].notna()]
        idx = keyed.groupby(["bucket", "user_id"])["seq"].idxmax()
        latest = keyed.loc[idx]
        latest = latest[latest["value"].notna()]
        exp = (
            __import__("pandas")
            .concat([latest, before[before["user_id"].isna()]])
            .sort_values(["bucket", "seq"])
            .reset_index(drop=True)
        )
        assert got.equals(exp), f"seed {seed}:\n{got}\nvs\n{exp}"


def test_compact_by_key_all_keys_tombstoned_empties_topic(spark, tmp_path):
    """Every key deleted: the compacted log is EMPTY (zero survivors),
    so the staging kernel stages zero files and the whole dropped count
    comes from the input files' footers (AQE may replace the all-empty
    aggregate with an empty relation; the count must not depend on the
    plan running). Consumers see an empty gap-only log with valid
    HWMs."""
    st = TopicStore(spark, str(tmp_path / "kc_empty_all"))
    st.create_topic("ka", n_buckets=2)
    base_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")
    df = spark.createDataFrame(
        [(0, 0, 2.0), (1, 0, None), (2, 1, 3.0), (3, 1, None)],
        "event_id bigint, user_id bigint, value double",
    ).select(
        "event_id",
        (base_ts + F.make_interval(secs=F.col("event_id"))).alias("ts"),
        "user_id",
        "value",
    )
    st.produce(df, "ka")
    maxima = st._bucket_maxima("ka")
    dropped = st.compact_by_key("ka", key_col="user_id", tombstone_col="value")
    assert dropped == 4
    assert st.read_topic("ka").count() == 0
    # HWMs survive (seq assignment continuity) and consume drains the
    # all-gap log without phantom rows
    assert st._bucket_maxima("ka") == maxima
    st.register_consumer("c", "ka")
    for b in maxima:
        batch, nxt = st.consume("c", "ka", bucket=b, count=100)
        assert batch.count() == 0 and nxt == maxima[b] + 1
    # a later produce continues the chain above the old HWM
    st.produce(df.withColumn("event_id", F.col("event_id") + 10), "ka")
    assert st.read_topic("ka").count() == 4
    assert min(st._bucket_maxima("ka")[b] for b in maxima) > min(maxima.values())
