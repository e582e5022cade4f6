"""Topic-store semantics tests — the delivery guarantees SURVEY.md §2
says are worth preserving: per-bucket FIFO total order, at-least-once
non-destructive reads, independent per-consumer offsets (fan-out), and
contiguous gap-free sequences.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources import manifest
from ripple_server_spark.sources.topics import TopicStore
from tests.conftest import offsets_for_times_reference

N_BUCKETS = 4


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    st = TopicStore(spark, str(tmp_path_factory.mktemp("topics")))
    st.create_topic("t1", n_buckets=N_BUCKETS)
    ev = load_table(spark, sf_dir, "events").limit(400)
    st.produce(ev, "t1")
    return st


def test_produce_assigns_contiguous_seq_per_bucket(store):
    log = store.read_topic("t1")
    per_bucket = (
        log.groupBy("bucket")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    assert len(per_bucket) == N_BUCKETS
    for r in per_bucket:
        assert r["mn"] == 0
        assert r["mx"] == r["n"] - 1  # gap-free: max == count-1


def test_second_produce_extends_sequences(store, spark, sf_dir):
    # deterministic id-range slice — limit() before a filter would let the
    # engine pick an arbitrary 600 rows and could leave this batch empty
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") >= 400) & (F.col("event_id") < 600)
    )
    store.produce(ev, "t1")
    log = store.read_topic("t1")
    per_bucket = (
        log.groupBy("bucket")
        .agg(F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    assert sum(r["n"] for r in per_bucket) == 600  # append landed: 400 + 200
    for r in per_bucket:
        assert r["mx"] == r["n"] - 1  # still contiguous after append


def test_produce_routes_null_keys_to_bucket_zero(spark, sf_dir, tmp_path):
    """NULL routing keys must land in a REAL bucket (0 — the
    deterministic analog of Kafka's null-key routing), with seq joining
    bucket 0's normal contiguous chain. pmod(NULL) is NULL: unrouted it
    would write a __HIVE_DEFAULT_PARTITION__ dir into the manifest
    (breaking every ripple_topic reader) and restart seq at 0 on every
    produce."""
    st = TopicStore(spark, str(tmp_path / "null_keys"))
    st.create_topic("nk", n_buckets=4)
    ev = load_table(spark, sf_dir, "events")
    nulled = ev.filter(F.col("event_id") < 100).withColumn(
        "user_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("user_id")),
    )
    st.produce(nulled, "nk")
    st.produce(nulled.withColumn("event_id", F.col("event_id") + 1000), "nk")
    log = st.read_topic("nk")
    assert log.count() == 200
    assert log.filter(F.col("bucket").isNull()).count() == 0
    per = (
        log.groupBy("bucket")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    for r in per:  # contiguity holds with NULL keys folded into bucket 0
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1
    # the manifest references only real bucket dirs
    _v, m = st.latest_manifest("nk")
    assert all(rel.startswith("bucket=") and "__HIVE" not in rel for rel in m["files"])


def test_fifo_order_follows_ts_within_bucket(store):
    rows = (
        store.read_topic("t1")
        .filter(F.col("bucket") == 1)
        .orderBy("seq")
        .select("ts", "event_id")
        .collect()
    )
    ordered = sorted(rows, key=lambda r: (r["ts"], r["event_id"]))
    assert rows == ordered


def test_consume_is_ordered_and_nondestructive(store):
    store.register_consumer("cA", "t1")
    batch1, next1 = store.consume("cA", "t1", bucket=2, count=10)
    seqs1 = [r["seq"] for r in batch1.orderBy("seq").collect()]
    assert seqs1 == list(range(0, len(seqs1)))
    # no commit -> re-read delivers the same batch (at-least-once)
    batch1b, _ = store.consume("cA", "t1", bucket=2, count=10)
    assert [r["seq"] for r in batch1b.orderBy("seq").collect()] == seqs1


def test_commit_advances_offset(store):
    store.register_consumer("cB", "t1")
    b1, next_off = store.consume("cB", "t1", bucket=0, count=5)
    store.commit("cB", "t1", 0, next_off)
    b2, _ = store.consume("cB", "t1", bucket=0, count=5)
    s1 = {r["seq"] for r in b1.collect()}
    s2 = {r["seq"] for r in b2.collect()}
    assert not (s1 & s2)
    assert min(s2) == max(s1) + 1


def test_fanout_consumers_have_independent_offsets(store):
    store.register_consumer("cX", "t1")
    store.register_consumer("cY", "t1")
    bx, nx = store.consume("cX", "t1", bucket=3, count=7)
    store.commit("cX", "t1", 3, nx)
    # cY is unaffected by cX's commit: still reads from 0
    by, _ = store.consume("cY", "t1", bucket=3, count=7)
    assert [r["seq"] for r in by.orderBy("seq").collect()] == [
        r["seq"] for r in bx.orderBy("seq").collect()
    ]


def test_consume_clamps_at_end_of_log(store):
    """SubArray clamps end to len (concurrent_list.go:63-73): asking for
    more than remains returns what exists."""
    store.register_consumer("cZ", "t1")
    depth = store.read_topic("t1").filter(F.col("bucket") == 1).count()
    batch, next_off = store.consume("cZ", "t1", bucket=1, count=10_000)
    assert batch.count() == depth
    assert next_off == depth


def test_compact_shrinks_files_and_preserves_log(spark, sf_dir, tmp_path):
    """Compaction: same rows, same seqs, fewer files; offsets stay
    valid (consume after compact returns the same batch)."""
    import glob

    from ripple_server_spark.catalog import load_table

    store = TopicStore(spark, str(tmp_path / "t"))
    store.create_topic("c1", n_buckets=4)
    ev = load_table(spark, sf_dir, "events")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        store.produce(
            ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)), "c1"
        )
    store.register_consumer("cc", "c1")
    batch_before, nxt = store.consume("cc", "c1", bucket=0, count=10)
    rows_before = [tuple(r) for r in batch_before.select("seq", "event_id").collect()]
    log_before = {
        (r["bucket"], r["seq"], r["event_id"])
        for r in store.read_topic("c1").select("bucket", "seq", "event_id").collect()
    }
    n_files_before = len(glob.glob(str(tmp_path / "t/topics/c1/data/bucket=*/*.parquet")))

    # pin a pre-compaction snapshot: it must stay readable mid-compact
    v_before, _m = store.latest_manifest("c1")

    store.compact("c1")

    # old files persist until vacuum — the pinned snapshot still reads
    snap = {
        (r["bucket"], r["seq"], r["event_id"])
        for r in store.read_topic("c1", version=v_before)
        .select("bucket", "seq", "event_id")
        .collect()
    }
    assert snap == log_before

    store.vacuum("c1")
    n_files_after = len(glob.glob(str(tmp_path / "t/topics/c1/data/bucket=*/*.parquet")))
    assert n_files_after < n_files_before
    assert n_files_after <= 4  # one per bucket
    log_after = {
        (r["bucket"], r["seq"], r["event_id"])
        for r in store.read_topic("c1").select("bucket", "seq", "event_id").collect()
    }
    assert log_after == log_before
    batch_after, nxt2 = store.consume("cc", "c1", bucket=0, count=10)
    assert [tuple(r) for r in batch_after.select("seq", "event_id").collect()] == rows_before
    assert nxt2 == nxt
    # appends after compaction continue the seq chain
    store.produce(ev.filter((F.col("event_id") >= 300) & (F.col("event_id") < 350)), "c1")
    per_bucket = (
        store.read_topic("c1")
        .groupBy("bucket")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    for r in per_bucket:
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1


def test_produce_batch_id_idempotence(spark, sf_dir, tmp_path):
    """A replayed produce with the same batch_id must be a no-op: same
    row count, same maxima, no duplicate seqs (the exactly-once
    producer contract the reference's fire-and-forget acks lack)."""
    st = TopicStore(spark, str(tmp_path / "idem"))
    st.create_topic("t", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").limit(200)

    n1 = st.produce(ev, "t", batch_id="b-1")
    assert n1 == 200
    assert st.produce(ev, "t", batch_id="b-1") == 0  # replay -> no-op
    assert st.read_topic("t").count() == 200
    n2 = st.produce(ev, "t", batch_id="b-2")  # new id appends
    assert n2 == 200
    df = st.read_topic("t")
    assert df.count() == 400
    # per-bucket seqs stay contiguous and distinct after the replay mix
    from pyspark.sql import functions as F2
    chk = df.groupBy("bucket").agg(
        F2.min("seq").alias("lo"), F2.max("seq").alias("hi"),
        F2.countDistinct("seq").alias("n")
    ).collect()
    for r in chk:
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1


def test_schema_evolution_on_produce(spark, tmp_path):
    """A later produce may ADD columns; snapshot reads must surface the
    union schema with nulls for pre-evolution rows (previously the read
    silently dropped evolved columns)."""
    from ripple_server_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "ts")
    store = TopicStore(spark, str(tmp_path))
    store.create_topic("evo", n_buckets=2)
    store.produce(ev.filter(F.col("event_id") < 100), "evo", key_col="user_id")
    store.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
        .withColumn("tag", F.lit("v2")),
        "evo",
        key_col="user_id",
    )
    df = store.read_topic("evo")
    assert "tag" in df.columns
    assert df.count() == 200
    assert df.filter(F.col("tag").isNull()).count() == 100  # old rows
    assert df.filter(F.col("tag") == "v2").count() == 100
    # consume path carries the evolved column too
    batch, _ = store.consume("c-evo", "evo", bucket=0, count=10_000)
    assert "tag" in batch.columns


def test_schema_evolution_flag_and_compact_reset(spark, tmp_path):
    """The manifest's recorded schema types every read: an un-evolved
    topic reads its own columns; after an evolving produce the old rows
    read the new column as typed nulls; compaction rewrites to one
    uniform schema and the same rows read back (evolved column
    survives)."""
    from ripple_server_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "ts")
    store = TopicStore(spark, str(tmp_path))
    store.create_topic("evo2", n_buckets=2)
    store.produce(ev.filter(F.col("event_id") < 100), "evo2", key_col="user_id")
    df = store.read_topic("evo2")
    assert df.columns == ["event_id", "user_id", "ts", "seq", "bucket"]
    assert df.count() == 100
    store.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
        .withColumn("tag", F.lit("v2")),
        "evo2",
        key_col="user_id",
    )

    def rows():
        df = store.read_topic("evo2")
        assert df.columns == ["event_id", "user_id", "ts", "seq", "tag", "bucket"]
        assert dict(df.dtypes)["tag"] == "string"
        return sorted(tuple(r) for r in df.collect())

    evolved = rows()
    assert len(evolved) == 200
    assert sum(r[4] is None for r in evolved) == 100  # old rows
    assert sum(r[4] == "v2" for r in evolved) == 100
    batch, _ = store.consume("c-evo2", "evo2", bucket=0, count=10_000)
    assert "tag" in batch.columns
    store.compact("evo2")
    assert rows() == evolved


def test_edge_cases_empty_produce_past_hwm_noop_truncate(spark, sf_dir, tmp_path):
    """Operational edge cases a broker must not trip on: producing an
    EMPTY batch neither errors nor burns a manifest version or seq;
    consuming from an offset past the high watermark returns an empty
    batch with the offset unchanged; truncating below the current
    floor is a no-op that deletes nothing."""
    st = TopicStore(spark, str(tmp_path / "edge_topics"))
    st.create_topic("e1", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(40), "e1")
    v_before = st.latest_manifest("e1")[0]
    n_before = st.read_topic("e1").count()

    # empty produce: no rows, no version burn, seq continuity intact
    st.produce(ev.limit(0), "e1")
    assert st.read_topic("e1").count() == n_before
    assert st.latest_manifest("e1")[0] == v_before
    st.produce(ev.filter((F.col("event_id") >= 40) & (F.col("event_id") < 60)), "e1")
    per = (
        st.read_topic("e1")
        .groupBy("bucket")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    for r in per:
        assert r["mn"] == 0 and r["mx"] == r["n"] - 1  # still gap-free

    # consume with a committed offset past the HWM: empty batch, the
    # offset does not move (no clamp-down, no error)
    st.register_consumer("cE", "e1")
    depth = st.read_topic("e1").filter(F.col("bucket") == 0).count()
    st.commit("cE", "e1", bucket=0, offset=depth + 100)
    batch, next_off = st.consume("cE", "e1", bucket=0, count=5)
    assert batch.count() == 0
    assert next_off == depth + 100

    # truncate below the floor: removes nothing, log intact
    n = st.read_topic("e1").count()
    assert st.truncate("e1", before_seq=0) == 0
    assert st.read_topic("e1").count() == n


def test_empty_topic_is_servable(spark, tmp_path):
    """A consumer may subscribe before any producer publishes: reading
    and consuming a created-but-never-produced topic must serve an
    empty frame (structural schema), not a schema-inference error."""
    st = TopicStore(spark, str(tmp_path / "empty_topics"))
    st.create_topic("nil", n_buckets=2)
    st.register_consumer("c0", "nil")
    df = st.read_topic("nil")
    assert df.count() == 0
    assert {"seq", "bucket"} <= set(df.columns)
    batch, off = st.consume("c0", "nil", bucket=0, count=10)
    assert batch.count() == 0 and off == 0


def test_read_increment_is_exactly_the_appended_rows(spark, sf_dir, tmp_path):
    """Incremental read between two manifest versions = exactly the
    rows the later produces appended: seq-range based, so compaction
    in between must not perturb it."""
    st = TopicStore(spark, str(tmp_path / "incr"))
    st.create_topic("i", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(60), "i")
    v_after_a, _ = st.latest_manifest("i")
    st.produce(ev.filter((F.col("event_id") >= 60) & (F.col("event_id") < 100)), "i")
    st.compact("i")  # rewrites files; must not affect the seq-based diff
    st.produce(ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 130)), "i")

    inc = st.read_increment("i", since_version=v_after_a)
    got = sorted(r["event_id"] for r in inc.select("event_id").collect())
    assert got == list(range(60, 130))

    # pinned upper bound: increment up to a mid version excludes later appends
    hist = st.history("i")
    v_mid = [h["version"] for h in hist if h["operation"] == "compact"][0]
    inc_mid = st.read_increment("i", since_version=v_after_a, version=v_mid)
    got_mid = sorted(r["event_id"] for r in inc_mid.select("event_id").collect())
    assert got_mid == list(range(60, 100))

    # since the very first (empty) manifest: everything
    assert st.read_increment("i", since_version=1).count() == 130


def test_read_increment_reads_buckets_added_by_expand_buckets(spark, sf_dir, tmp_path):
    """A bucket added by expand_buckets after the base version has no
    base maximum: its rows are all appended since, so the increment
    reads it whole instead of dropping it."""
    st = TopicStore(spark, str(tmp_path / "incexp"))
    st.create_topic("e", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.filter(F.col("event_id") < 20), "e")
    v0, _ = st.latest_manifest("e")
    st.expand_buckets("e", 4)
    st.produce(ev.filter((F.col("event_id") >= 20) & (F.col("event_id") < 60)), "e")
    m = st.latest_manifest("e")[1]
    assert {2, 3} <= {manifest.bucket_of(r) for r in m["files"]}

    inc = st.read_increment("e", since_version=v0)
    got = sorted(r["event_id"] for r in inc.select("event_id").collect())
    assert got == list(range(20, 60))


def test_restore_rolls_back_and_reuses_seqs(spark, sf_dir, tmp_path):
    """RESTORE commits the target version's state forward: reads see
    the old snapshot, history classifies the commit as ``restore``,
    and the next produce continues from the restored maxima (no seq
    gap from the rolled-back batches)."""
    st = TopicStore(spark, str(tmp_path / "rest"))
    st.create_topic("r", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(40), "r")
    v_target, _ = st.latest_manifest("r")
    maxima_target = dict(st._bucket_maxima("r"))
    st.produce(ev.filter((F.col("event_id") >= 40) & (F.col("event_id") < 90)), "r")
    assert st.read_topic("r").count() == 90

    st.restore("r", v_target)
    assert st.read_topic("r").count() == 40
    assert st._bucket_maxima("r") == maxima_target
    hist = st.history("r")
    assert hist[-1]["operation"] == "restore"
    assert hist[-1]["restored_to"] == v_target
    # forward commit: every prior version is still readable
    assert [h["version"] for h in hist] == list(range(1, len(hist) + 1))

    # seqs burned by the rolled-back batch are live again: contiguity holds
    st.produce(ev.filter((F.col("event_id") >= 200) & (F.col("event_id") < 230)), "r")
    per_bucket = (
        st.read_topic("r")
        .groupBy("bucket")
        .agg(F.max("seq").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    for row in per_bucket:
        assert row["mx"] == row["n"] - 1

    # a later produce after the restore classifies as produce, not restore
    assert st.history("r")[-1]["operation"] == "produce"


def test_restore_past_vacuum_horizon_fails(spark, sf_dir, tmp_path):
    """Restore must refuse when the target version's data files were
    vacuumed (Delta RESTORE-past-VACUUM failure mode) — never commit a
    manifest pointing at deleted files."""
    import json
    import os

    st = TopicStore(spark, str(tmp_path / "rv"))
    st.create_topic("v", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(30), "v")
    v_target, _ = st.latest_manifest("v")
    st.compact("v")  # rewrites: v_target's files are now unreferenced

    # branch 1: target manifest retained but its data files deleted
    # (simulates a vacuum that ran between the two versions)
    with open(manifest.path(st.root, "v", v_target)) as f:
        target_files = set(json.load(f)["files"])
    live = set(st.latest_manifest("v")[1]["files"])
    for rel in target_files - live:
        os.remove(os.path.join(st.data_dir("v"), rel))
    with pytest.raises(FileNotFoundError):
        st.restore("v", v_target)

    # branch 2: the target MANIFEST itself pruned by vacuum
    st.vacuum("v", grace_s=0.0)
    assert not os.path.exists(manifest.path(st.root, "v", v_target))
    with pytest.raises(FileNotFoundError):
        st.restore("v", v_target)
    # the failed restores committed nothing
    assert st.history("v")[-1]["operation"] != "restore"


def test_read_increment_refuses_across_a_restore(spark, sf_dir, tmp_path):
    """A restore rewinds the seq high-water marks, so later produces
    legitimately reuse seqs the base version had seen — a seq-based
    increment would silently drop them. read_increment must detect the
    intervening rollback and refuse (CDF continuity break), including
    when only the endpoints' manifests survive."""
    st = TopicStore(spark, str(tmp_path / "incres"))
    st.create_topic("x", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(40), "x")
    v_base, _ = st.latest_manifest("x")
    st.restore("x", 1)  # rewind to empty
    st.produce(ev.limit(30), "x")  # reuses seqs 0..N
    with pytest.raises(ValueError, match="restored"):
        st.read_increment("x", since_version=v_base)
    # increments entirely on one side of the rollback still work
    v_after, _ = st.latest_manifest("x")
    st.produce(ev.filter((F.col("event_id") >= 40) & (F.col("event_id") < 55)), "x")
    assert st.read_increment("x", since_version=v_after).count() == 15


def test_cross_instance_consume_sees_new_produces(spark, sf_dir, tmp_path):
    """Producer and consumer on DIFFERENT TopicStore instances: the
    consumer's cached maxima must refresh when another instance commits
    (previously the unstamped cache froze delivered-row sizing at the
    first-seen high-water mark — a permanent livelock)."""
    root = str(tmp_path / "xi")
    producer = TopicStore(spark, root)
    producer.create_topic("x", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    producer.produce(ev.limit(40), "x")

    consumer = TopicStore(spark, root)  # separate instance, same root
    consumer.register_consumer("c", "x")
    b0, nxt = consumer.consume("c", "x", bucket=0, count=10_000)
    n0 = b0.count()
    consumer.commit("c", "x", 0, nxt)
    # drained — and the consumer's cache is now warm
    empty, _ = consumer.consume("c", "x", bucket=0, count=10)
    assert empty.count() == 0
    # the OTHER instance appends; this instance must see it
    producer.produce(ev.filter((F.col("event_id") >= 40) & (F.col("event_id") < 80)), "x")
    b1, nxt2 = consumer.consume("c", "x", bucket=0, count=10_000)
    n1 = b1.count()
    assert n1 > 0
    assert nxt2 == n0 + n1  # contiguous: no gap, no rewind


def test_truncate_preserves_floor_of_fully_aged_bucket(spark, sf_dir, tmp_path):
    """A bucket fully aged out by truncate A keeps its committed floor
    through a later truncate B that sees no files for it — otherwise a
    fresh consumer at offset 0 spins through phantom seq ranges instead
    of clamping to the retained floor."""
    st = TopicStore(spark, str(tmp_path / "fl"))
    st.create_topic("f", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(60), "f")
    st.compact("f")
    hi = max(st._bucket_maxima("f").values())
    # truncate A: age out EVERYTHING -> every bucket gets floor = max+1
    assert st.truncate("f", before_seq=hi + 1) >= 1
    floors_a = dict(st._bucket_floors("f"))
    assert all(v > 0 for v in floors_a.values())
    # truncate B on the now-empty topic: must be a no-op commit-wise
    v_before = st.latest_manifest("f")[0]
    assert st.truncate("f", before_seq=hi + 1) == 0
    assert st.latest_manifest("f")[0] == v_before  # no version burned
    assert dict(st._bucket_floors("f")) == floors_a  # floors survive
    # produce after retention: seq continues above the floor and a
    # fresh consumer clamps to the floor, not offset 0
    st.produce(ev.filter((F.col("event_id") >= 60) & (F.col("event_id") < 90)), "f")
    st.register_consumer("nc", "f")
    for b in (0, 1):
        batch, _ = st.consume("nc", "f", bucket=b, count=10_000)
        seqs = [r["seq"] for r in batch.orderBy("seq").collect()]
        if seqs:
            assert seqs[0] >= floors_a.get(b, 0)


def test_expand_buckets_grows_routing_without_rebalance(spark, sf_dir, tmp_path):
    """Kafka add-partitions parity: expansion is one manifest commit;
    old data stays in place, new buckets fill with dense seqs from 0,
    per-bucket consumer cursors survive, and the native sink routes by
    the new count."""
    from pyspark.sql import functions as F

    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "expand_topics"))
    st.create_topic("ex", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    st.produce(ev.filter(F.col("event_id") < 200), "ex")
    before_files = set(st.latest_manifest("ex")[1]["files"])
    pre = {
        r["bucket"]: r["mx"]
        for r in st.read_topic("ex")
        .groupBy("bucket")
        .agg(F.max("seq").alias("mx"))
        .collect()
    }
    assert set(pre) == {0, 1}

    # a consumer mid-stream before the expansion
    st.register_consumer("c-ex", "ex")
    _batch, nxt = st.consume("c-ex", "ex", bucket=0, count=10)
    st.commit("c-ex", "ex", 0, nxt)

    st.expand_buckets("ex", 4)
    assert st.topic_meta("ex")["n_buckets"] == 4
    with pytest.raises(ValueError, match="grow-only"):
        st.expand_buckets("ex", 2)
    # no rebalance: every pre-expansion file is still live, untouched
    assert before_files <= set(st.latest_manifest("ex")[1]["files"])

    # future produce routes by the new count (both produce and the sink)
    st.produce(
        ev.filter((F.col("event_id") >= 200) & (F.col("event_id") < 400)), "ex"
    )
    spark.dataSource.register(RippleTopicDataSource)
    (
        ev.filter((F.col("event_id") >= 400) & (F.col("event_id") < 500))
        .write.format("ripple_topic")
        .mode("append")
        .option("root", st.root)
        .option("topic", "ex")
        .save()
    )
    post = (
        st.read_topic("ex")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
             F.countDistinct("seq").alias("nd"))
        .collect()
    )
    assert {r["bucket"] for r in post} == {0, 1, 2, 3}
    for r in post:  # dense seqs everywhere, incl. the new buckets
        assert r["mx"] == r["n"] - 1 and r["nd"] == r["n"]
    # old-bucket seqs continued above their pre-expansion maxima
    by_bucket = {r["bucket"]: r for r in post}
    assert by_bucket[0]["mx"] > pre[0] and by_bucket[1]["mx"] > pre[1]

    # consumer cursor survives: resumes exactly where it committed
    batch2, _n2 = st.consume("c-ex", "ex", bucket=0, count=5)
    assert batch2.agg(F.min("seq")).first()[0] == nxt


def test_assign_buckets_range_assignor(spark, sf_dir, tmp_path):
    """assign_buckets (Kafka range-assignor extension): N members split
    a topic's buckets into contiguous, disjoint, exhaustive runs (sizes
    differ by <= 1); the assignment is a pure function (every member
    computes the same split); and members are ordinary consumers whose
    fenced commits stay per bucket — 2 members x 4 buckets drain the
    topic with disjoint coverage and no row seen twice across the
    group."""
    st = TopicStore(spark, str(tmp_path / "grp_topics"))
    st.create_topic("g1", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").limit(200)
    st.produce(ev, "g1")

    asg = st.assign_buckets("g1", "workers", 2)
    assert asg == {"workers-0": [0, 1], "workers-1": [2, 3]}
    # pure function: recomputing (any member, any process) agrees
    assert st.assign_buckets("g1", "workers", 2) == asg
    # uneven split: sizes differ by at most one, coverage exhaustive
    asg3 = st.assign_buckets("g1", "w3", 3)
    sizes = sorted(len(v) for v in asg3.values())
    assert sizes == [1, 1, 2]
    assert sorted(b for v in asg3.values() for b in v) == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="n_members"):
        st.assign_buckets("g1", "w0", 0)

    # group drain: disjoint coverage, exactly-once across the group
    gen = st.group_state("g1", "workers")["generation"]
    seen: dict[tuple[int, int], str] = {}
    for member, buckets in asg.items():
        for b in buckets:
            batch, nxt = st.consume(member, "g1", bucket=b, count=10_000)
            for r in batch.select("bucket", "seq").collect():
                key = (r["bucket"], r["seq"])
                assert key not in seen, f"{key} seen by {seen[key]} and {member}"
                seen[key] = member
            st.commit(member, "g1", b, nxt, group_id="workers", generation=gen)
    assert len(seen) == 200
    # commits are independent per member: each member only has offsets
    # for ITS buckets; a member restart replays nothing already committed
    for member, buckets in asg.items():
        offs = st.committed_offsets(member, "g1")
        assert set(offs) == set(buckets)
        for b in buckets:
            batch, _ = st.consume(member, "g1", bucket=b, count=10_000)
            assert batch.count() == 0


def test_user_writes_keep_their_types_during_compaction(spark, sf_dir, tmp_path):
    """ADVICE r09 (medium): the engine never sets a SQL conf on the
    shared session, so a user parquet write racing produce and
    compact_by_key on another driver thread keeps the user's configured
    timestamp type (the pre-r10 set/restore window on the shared
    session conf re-typed such writes), while every topic file, written
    by the staging kernel, carries micros."""
    import glob
    import threading

    import pyarrow.parquet as pq

    st = TopicStore(spark, str(tmp_path / "iso_topics"))
    st.create_topic("iso", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").limit(300).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rules = "spark.sql.adaptive.optimizer.excludedRules"
    rules_before = spark.conf.get(rules, None)

    user_dir = str(tmp_path / "user_out")
    stop = threading.Event()
    errs: list[Exception] = []

    def user_writer():
        i = 0
        try:
            while not stop.is_set() or i == 0:
                ev.limit(50).write.mode("overwrite").parquet(
                    f"{user_dir}/w{i % 3}"
                )
                i += 1
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errs.append(e)

    t = threading.Thread(target=user_writer)
    t.start()
    try:
        for k in range(3):
            st.produce(ev.filter(F.col("event_id") % 3 == k), "iso")
        dropped = st.compact_by_key("iso", key_col="user_id")
    finally:
        stop.set()
        t.join()
    assert not errs, errs
    assert dropped > 0  # the pass swapped in compacted files

    # every ENGINE file carries micros ts (row-group-stats capable)...
    eng_files = glob.glob(
        str(tmp_path / "iso_topics/topics/iso/data/bucket=*/*.parquet")
    )
    assert any("/cmp-" in f for f in eng_files)
    for f in eng_files:
        typ = str(pq.ParquetFile(f).schema_arrow.field("ts").type)
        assert typ.startswith("timestamp[us"), (f, typ)
    # ...every USER file keeps the session default (INT96 -> arrow ns)
    user_files = glob.glob(f"{user_dir}/*/*.parquet")
    assert user_files
    for f in user_files:
        typ = str(pq.ParquetFile(f).schema_arrow.field("ts").type)
        assert typ.startswith("timestamp[ns"), (f, typ)
    # user session confs untouched
    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    assert spark.conf.get(rules, None) == rules_before


def test_time_positioning_on_ts_less_topic_raises_named_error(spark, tmp_path):
    """ADVICE r09: a topic whose recorded schema has no ``ts`` column
    (e.g. populated by a foreign writer through the manifest protocol)
    must fail time positioning with a named contract error, not an
    opaque AnalysisException surfaced once per maintenance cycle."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    st = TopicStore(spark, str(tmp_path / "notss"))
    st.create_topic("nt", n_buckets=2)
    # foreign writer: stage a keyed, ts-less file and commit it via the
    # manifest protocol (files + maxima + schema are the contract)
    bdir = os.path.join(st.data_dir("nt"), "bucket=0")
    os.makedirs(bdir, exist_ok=True)
    pq.write_table(
        pa.table({"seq": [0, 1, 2], "k": [7, 7, 7], "payload": [1, 2, 3]}),
        os.path.join(bdir, "foreign-0.parquet"),
    )

    def apply(m: dict) -> dict:
        m["files"] = ["bucket=0/foreign-0.parquet"]
        m["maxima"] = {"0": 2}
        m["schema"] = ["seq:bigint", "k:bigint", "payload:bigint"]
        return m

    manifest.commit(st.root, "nt", st.latest_manifest("nt")[0], apply)

    with pytest.raises(ValueError, match="no 'ts' column"):
        st.offsets_for_times("nt", 1_700_000_000_000)
    with pytest.raises(ValueError, match="no 'ts' column"):
        st.truncate_before_timestamp("nt", 1_700_000_000_000)
    # the stream's start_at=timestamp cursors name the same contract
    from ripple_server_spark.sources.datasource import _initial_cursors

    with pytest.raises(ValueError, match="no 'ts' column"):
        _initial_cursors(st.root, "nt", "timestamp:1700000000000")
    # seq-based reads are unaffected by the missing ts
    assert st.read_topic("nt").count() == 3


def test_group_generation_fencing(spark, sf_dir, tmp_path):
    """VERDICT r09 item 3 (Kafka zombie fencing): rebalancing 2 -> 3
    members bumps the group epoch in the topic manifest; a member of
    the old generation can no longer commit — neither with its stale
    epoch nor to a bucket outside its new range."""
    from ripple_server_spark.sources.topics import StaleGenerationError

    st = TopicStore(spark, str(tmp_path / "gen_topics"))
    st.create_topic("g", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").limit(200)
    st.produce(ev, "g")

    asg2 = st.assign_buckets("g", "w", 2)
    gen2 = st.group_state("g", "w")["generation"]
    assert gen2 == 1
    # idempotent join: same n_members never bumps the epoch
    assert st.assign_buckets("g", "w", 2) == asg2
    assert st.group_state("g", "w")["generation"] == gen2

    # member w-0 drains bucket 0 and commits with the current epoch
    batch, nxt = st.consume("w-0", "g", bucket=0, count=10)
    st.commit("w-0", "g", 0, nxt, group_id="w", generation=gen2)

    # REBALANCE to 3 members: epoch bumps, coverage stays disjoint
    asg3 = st.assign_buckets("g", "w", 3)
    gen3 = st.group_state("g", "w")["generation"]
    assert gen3 == gen2 + 1
    assert sorted(b for v in asg3.values() for b in v) == [0, 1, 2, 3]

    # zombie: w-1 still believes generation gen2 and owns bucket 2-3;
    # under gen3 its range shrank — the stale-epoch commit is fenced
    with pytest.raises(StaleGenerationError, match="rebalanced"):
        st.commit("w-1", "g", 3, 5, group_id="w", generation=gen2)
    # even with the CURRENT epoch, a bucket outside the member's new
    # range is fenced (w-1 owns [2] under gen3; bucket 3 moved to w-2)
    with pytest.raises(StaleGenerationError, match="does not own bucket 3"):
        st.commit("w-1", "g", 3, 5, group_id="w", generation=gen3)
    # the same commit under the new assignment by the RIGHT member works
    st.commit("w-2", "g", 3, 5, group_id="w", generation=gen3)
    assert st.committed_offsets("w-2", "g")[3] == 5

    # group-scoped commit without a generation is a usage error;
    # an unknown group is fenced loudly
    with pytest.raises(ValueError, match="requires generation"):
        st.commit("w-0", "g", 0, 1, group_id="w")
    with pytest.raises(StaleGenerationError, match="no recorded assignment"):
        st.commit("x-0", "g", 0, 1, group_id="x", generation=1)
    # ungated independent consumers (the reference's fan-out model)
    # remain unaffected by any group's epochs
    st.register_consumer("solo", "g")
    st.commit("solo", "g", 0, 7)
    assert st.committed_offsets("solo", "g")[0] == 7


def test_describe_group_reports_generation_assignment_lag(spark, sf_dir, tmp_path):
    st = TopicStore(spark, str(tmp_path / "dg_topics"))
    st.create_topic("dg", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").limit(200)
    st.produce(ev, "dg")
    st.assign_buckets("dg", "w", 2)
    gen = st.group_state("dg", "w")["generation"]

    # w-0 drains bucket 0 fully and commits
    batch, nxt = st.consume("w-0", "dg", bucket=0, count=10_000)
    st.commit("w-0", "dg", 0, nxt, group_id="w", generation=gen)

    d = st.describe_group("dg", "w")
    assert d["generation"] == gen and d["n_members"] == 2
    assert d["members"]["w-0"]["buckets"] == [0, 1]
    assert d["members"]["w-1"]["buckets"] == [2, 3]
    maxima = st._bucket_maxima("dg")
    assert d["members"]["w-0"]["lag"][0] == 0  # fully committed
    assert d["members"]["w-0"]["lag"][1] == maxima[1] + 1  # untouched
    per_bucket_rows = {b: mx + 1 for b, mx in maxima.items()}
    assert d["total_lag"] == sum(per_bucket_rows.values()) - per_bucket_rows[0]
    with pytest.raises(KeyError, match="no recorded assignment"):
        st.describe_group("dg", "ghost")
    # lag clamps at the retained floor: truncate below the committed
    # range, a fresh group's lag counts only deliverable rows
    st.assign_buckets("dg", "w2", 1)
    cutoff = min(maxima.values()) // 2
    st.truncate("dg", before_seq=cutoff)
    floors = st._bucket_floors("dg")
    d2 = st.describe_group("dg", "w2")
    exp = sum(maxima[b] + 1 - floors.get(b, 0) for b in maxima)
    assert d2["total_lag"] == exp


def test_rekey_topic_rebuilds_clean_mapping_after_expand(spark, sf_dir, tmp_path):
    """The documented repair for cross-expansion key semantics: after
    expand_buckets splits a key's rows across buckets, rekey_topic
    rewrites into a fresh topic where every key lives in exactly one
    bucket again and compact_by_key is globally correct."""
    st = TopicStore(spark, str(tmp_path / "rk_topics"))
    st.create_topic("rk", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").limit(120).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    st.produce(ev.filter(F.col("event_id") < 60), "rk")
    st.expand_buckets("rk", 4)
    st.produce(ev.filter(F.col("event_id") >= 60), "rk")
    # some key now spans two buckets (residue changed for n=2 -> n=4)
    spans = (
        st.read_topic("rk")
        .groupBy("user_id")
        .agg(F.countDistinct("bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert spans > 0, "fixture produced no cross-bucket key; weaken test"

    n = st.rekey_topic("rk", "rk2")
    assert n == 120
    rk2 = st.read_topic("rk2")
    assert rk2.count() == 120
    # clean mapping: every key in exactly one bucket, correct residue
    bad = (
        rk2.groupBy("user_id")
        .agg(F.countDistinct("bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert bad == 0
    # config is carried over and the copy is idempotent under batch_id
    st.create_topic("rk3", n_buckets=4)  # pre-created dst also works
    assert st.rekey_topic("rk", "rk3", batch_id="copy-1") == 120
    assert st.rekey_topic("rk", "rk3", batch_id="copy-1") == 0  # replay
    with pytest.raises(ValueError, match="distinct destination"):
        st.rekey_topic("rk", "rk")


def test_produce_kernel_stage_equivalence(spark, tmp_path):
    """r12 optimization pin: produce's pyarrow staging kernel
    (staging.stage_kernel) must reproduce the old window+partitionBy
    plan exactly — seq order (ts, event_id) ascending NULLS FIRST per
    bucket, TIMESTAMP_MICROS physical columns WITH min/max statistics
    (the contract the old Spark writer's micros conf honored), and
    recomputing any seq/bucket columns the batch already carries with
    seq at its original schema position (the withColumn-overwrite
    contract a consume->produce round trip relies on).

    Both produce paths are held to it on one input set: the batch as a
    distributed frame (exchange + JVM sort + mapInArrow), as a local
    relation (one collect, then the Arrow append on the driver) and as
    a ``pyarrow.Table`` (the Arrow append with no collect), also one
    whose ``ts`` is a naive ``timestamp[us]``, give the same rows, file
    statistics and recorded schema."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import in_form

    def as_input(frame, form):
        if form != "naive_arrow":
            return in_form(frame, form)
        tbl = frame.toArrow()
        i = tbl.schema.get_field_index("ts")
        return tbl.set_column(i, "ts", tbl["ts"].cast(pa.timestamp("us")))

    st = TopicStore(spark, str(tmp_path / "kern"))
    base_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")
    df = spark.createDataFrame(
        # event_id 5/6: NULL ts -> must take the LOWEST seqs of their
        # bucket (NULLS FIRST, the old window's ascending default);
        # event_id 0..4: ts descending by id -> seq must INVERT id order;
        # event_id 8: NULL key -> bucket 0, after the ts=4 row (id 0)
        [(0, 0, 4), (1, 0, 3), (2, 0, 2), (3, 0, 1), (4, 0, 0), (5, 0, None), (6, 1, None), (7, 1, 0), (8, None, 5)],
        "event_id bigint, user_id bigint, off int",
    ).select(
        "event_id",
        F.when(
            F.col("off").isNotNull(),
            base_ts + F.make_interval(secs=F.col("off")),
        ).alias("ts"),
        "user_id",
    )
    # a batch already carrying seq/bucket: both recomputed, seq at its
    # original position, values from THIS produce (not the stale ones)
    carried = df.withColumn("seq", F.lit(999).cast("bigint")).withColumn(
        "bucket", F.lit(77)
    )
    seen = {}
    for form in ("exchange", "local", "arrow", "naive_arrow"):
        topic = f"k{form}"
        st.create_topic(topic, n_buckets=2)
        assert st.produce(as_input(df, form), topic) == 9
        got = {
            (r["bucket"], r["seq"]): r["event_id"]
            for r in st.read_topic(topic).collect()
        }
        # bucket 0: NULL-ts row first, then ts ascending (= event_id
        # 4..0), then the NULL-key row's ts=5
        assert [got[(0, s)] for s in range(7)] == [5, 4, 3, 2, 1, 0, 8]
        # bucket 1: NULL ts (6) before ts=0 (7)
        assert [got[(1, s)] for s in range(2)] == [6, 7]

        # physical layout: timestamp[us] with statistics on every column
        stats = {}
        for b in (0, 1):
            f = glob.glob(os.path.join(st.data_dir(topic), f"bucket={b}", "*.parquet"))
            assert len(f) == 1
            sch = pq.read_schema(f[0])
            assert str(sch.field("ts").type).startswith("timestamp[us")
            rg = pq.read_metadata(f[0]).row_group(0)
            for i in range(rg.num_columns):
                col = rg.column(i)
                assert col.statistics is not None, col.path_in_schema
            ts_stats = rg.column(sch.get_field_index("ts")).statistics
            stats[b] = (str(sch), ts_stats.null_count, ts_stats.min, ts_stats.max)

        topic2 = f"k2{form}"
        st.create_topic(topic2, n_buckets=2)
        assert st.produce(as_input(carried, form), topic2) == 9
        rt = st.read_topic(topic2)
        names = [fld.name for fld in rt.schema.fields]
        # seq keeps its pre-bucket position; bucket is the partition column
        assert names.index("seq") < len(names) - 1
        assert rt.filter(F.col("seq") == 999).count() == 0
        assert sorted(r["bucket"] for r in rt.select("bucket").distinct().collect()) == [0, 1]
        per_bucket = rt.groupBy("bucket").agg(
            F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n")
        ).collect()
        for r in per_bucket:
            assert r["mn"] == 0 and r["mx"] == r["n"] - 1
        carried_got = {
            (r["bucket"], r["seq"]): r["event_id"] for r in rt.collect()
        }
        assert carried_got == got
        seen[form] = (
            got,
            stats,
            st.latest_manifest(topic)[1]["schema"],
            st.latest_manifest(topic2)[1]["schema"],
        )
    for form in ("local", "arrow", "naive_arrow"):
        assert seen[form] == seen["exchange"], form


def test_produce_stage_kernel_streams_bounded_row_groups(tmp_path):
    """r13 memory bound (VERDICT r12 item 3): the staging kernel
    streams sorted batches through an open ParquetWriter instead of
    buffering a task's whole input — a skewed produce (every row one
    bucket) flushes a row group whenever the buffer passes flush_bytes,
    so worker memory is bounded by the flush target plus one Arrow
    batch. Driven directly with a tiny flush target: the one-bucket
    file must hold MULTIPLE row groups, each with statistics, and seq
    must stay contiguous in (ts, event_id) order across flushes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ripple_server_spark.sources.staging import stage_kernel

    data_dir = str(tmp_path / "data")
    os.makedirs(data_dir)
    n = 10_000
    # all rows bucket 3 (total skew); ts descending so the caller-side
    # sort contract matters — the kernel itself trusts input order, so
    # feed it pre-sorted ascending batches like the JVM sort would
    ts = pa.array(
        [1_700_000_000_000_000 + i for i in range(n)],
        pa.timestamp("us", tz="UTC"),
    )
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([3] * n, pa.int64()),
            "bucket": pa.array([3] * n, pa.int32()),
        }
    )
    batches = tbl.to_batches(max_chunksize=1000)
    kernel = stage_kernel(
        data_dir,
        base={3: 99},  # seqs must start at 100
        file_cols=["event_id", "ts", "user_id", "seq"],
        flush_bytes=64 << 10,  # tiny: force many flushes
    )
    out = list(kernel(iter(batches)))
    assert len(out) == 1 and out[0].num_rows == 1
    row = out[0].to_pylist()[0]
    assert row["bucket"] == 3 and row["n"] == n
    path = os.path.join(data_dir, row["rel"])
    md = pq.read_metadata(path)
    assert md.num_row_groups > 1, "skewed batch did not stream/flush"
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            assert rg.column(i).statistics is not None
    got = pq.read_table(path)
    assert got.column("seq").to_pylist() == list(range(100, 100 + n))
    assert got.column("event_id").to_pylist() == list(range(n))
    assert str(got.schema.field("ts").type).startswith("timestamp[us")


def test_seq_race_rebase_keeps_kernel_file_layout(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r12: a raced produce's REWRITTEN files must carry the
    same physical guarantees as first-staging files (micros timestamps
    with min/max statistics, prd- kernel naming) — the rebase now runs
    the same sort + streaming-kernel pipeline instead of the old Hadoop
    committer rewrite."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tests.conftest import count_stagings, land_before_next_commit

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    s1 = TopicStore(spark, str(tmp_path))
    s1.create_topic("rb", n_buckets=2)
    s1.produce(ev.filter(F.col("event_id") < 50), "rb")
    s2 = TopicStore(spark, str(tmp_path))
    # s2's produce lands between s1's staging and s1's commit ->
    # seq race -> kernel restage
    stagings = count_stagings(monkeypatch)
    land_before_next_commit(
        monkeypatch,
        lambda: s2.produce(
            ev.filter((F.col("event_id") >= 50) & (F.col("event_id") < 100)), "rb"
        ),
    )
    s1.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 150)), "rb"
    )
    monkeypatch.undo()
    assert len(stagings) == 3, "s1 stages, s2 produces, s1 must restage"
    live = set(s1.latest_manifest("rb")[1]["files"])
    assert all("/prd-" in f or f.startswith("bucket=") for f in live)
    data = s1.data_dir("rb")
    for rel in live:
        assert "prd-" in rel, f"non-kernel staged file in manifest: {rel}"
        md = pq.read_metadata(os.path.join(data, rel))
        sch = pq.read_schema(os.path.join(data, rel))
        assert str(sch.field("ts").type).startswith("timestamp[us")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                assert rg.column(i).statistics is not None
    # and the rows are exactly the three batches, contiguous per bucket
    df = s1.read_topic("rb")
    assert df.count() == 150
    per_bucket = df.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.countDistinct("seq").alias("nd"),
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
    ).collect()
    for r in per_bucket:
        assert r["nd"] == r["n"] and (r["lo"], r["hi"]) == (0, r["n"] - 1)


def test_touch_staged_refreshes_mtime_for_vacuum_grace(spark, sf_dir, tmp_path):
    """ADVICE r12 (vacuum race): staged-but-uncommitted files are
    re-timestamped at the commit point, so a vacuum whose grace window
    opened after the staging write cannot reclaim them. Simulated by
    aging a staged file's mtime and calling the helper the produce
    commit path uses."""
    import os
    import time as _time

    st = TopicStore(spark, str(tmp_path))
    st.create_topic("tg", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    st.produce(ev.filter(F.col("event_id") < 50), "tg")
    rels = st.latest_manifest("tg")[1]["files"]
    old = _time.time() - 3600
    data = st.data_dir("tg")
    for rel in rels:
        os.utime(os.path.join(data, rel), (old, old))
    manifest.touch(st.root, "tg", rels)
    for rel in rels:
        assert os.path.getmtime(os.path.join(data, rel)) > old + 3000
    # a vacuum with an hour's grace now spares them even if they were
    # staged (by wall clock) long before the commit landed
    assert st.vacuum("tg", grace_s=1800) == 0
    assert st.read_topic("tg").count() == 50


def test_executor_direct_writes_route_through_fsio_seam(tmp_path):
    """r13 (VERDICT r12 item 7): the staging kernel's data writes go
    through the fsio.DATA_FS seam, so a non-POSIX deployment swaps ONE
    object (via an importable bootstrap that executor workers import).
    Proven in-process by driving the kernel directly with a recording
    filesystem — the same invocation path the executor worker takes."""
    import os as _os

    import pyarrow as pa

    from ripple_server_spark.sources import fsio
    from ripple_server_spark.sources.staging import stage_kernel

    calls = []

    class RecordingFS(fsio.PosixDataFS):
        def makedirs(self, path):
            calls.append("makedirs")
            super().makedirs(path)

        def parquet_writer(self, path, schema):
            calls.append("parquet_writer")
            return super().parquet_writer(path, schema)

    data_dir = str(tmp_path / "data")
    _os.makedirs(data_dir)
    tbl = pa.table(
        {
            "event_id": pa.array(range(10), pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000 + i for i in range(10)],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([1] * 10, pa.int64()),
            "bucket": pa.array([1] * 10, pa.int32()),
        }
    )
    kernel = stage_kernel(
        data_dir, base={}, file_cols=["event_id", "ts", "user_id", "seq"]
    )
    orig = fsio.DATA_FS
    fsio.DATA_FS = RecordingFS()
    try:
        out = list(kernel(iter(tbl.to_batches())))
    finally:
        fsio.DATA_FS = orig
    assert out and out[0].to_pylist()[0]["n"] == 10
    assert "makedirs" in calls and "parquet_writer" in calls, (
        "staging kernel bypassed the fsio seam"
    )
    rel = out[0].to_pylist()[0]["rel"]
    assert _os.path.exists(_os.path.join(data_dir, rel))


@pytest.fixture(scope="module")
def polled(spark, sf_dir, tmp_path_factory):
    """40 produces into 8 buckets: a log of 300+ small files."""
    st = TopicStore(spark, str(tmp_path_factory.mktemp("poll_plan")))
    st.create_topic("pp", n_buckets=8)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    for i in range(40):
        st.produce(ev.filter(F.col("event_id") % 40 == i), "pp")
    return st


def test_caught_up_consume_plans_only_overlapping_files(polled, monkeypatch):
    """Range pruning: a poll near the tail scans exactly the files of
    its bucket whose manifest seq range overlaps [offset, next)."""
    import os

    from ripple_server_spark.sources import datasource

    st = polled
    m = st.latest_manifest("pp")[1]
    b = 3
    mx = int(m["maxima"][str(b)])
    st.register_consumer("tail", "pp")
    st.commit("tail", "pp", b, mx - 4)
    scanned: list[str] = []
    real_scan = datasource._scan

    def recording(files, *args):
        scanned.extend(files)
        return real_scan(files, *args)

    monkeypatch.setattr(datasource, "_scan", recording)
    df, nxt = st.consume("tail", "pp", b, 100)
    assert nxt == mx + 1
    want = {
        rel
        for rel, (lo, hi) in m["seq_ranges"].items()
        if manifest.bucket_of(rel) == b and hi >= mx - 4 and lo <= mx
    }
    got = {os.path.relpath(f, st.data_dir("pp")) for f in scanned}
    assert got == want
    in_bucket = [r for r in m["files"] if manifest.bucket_of(r) == b]
    assert len(got) < len(in_bucket) / 4
    assert [r["seq"] for r in df.collect()] == list(range(mx - 4, mx + 1))


@contextmanager
def _jobs_in(sc, group: str):
    """Collect the ids of the Spark jobs run inside the block, under a
    job group of its own; the caller's job group is restored after."""
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    caller = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, group)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
        for k, v in caller.items():
            sc.setLocalProperty(k, v)


def test_local_relation_produce_runs_one_job(spark, tmp_path):
    """A produce of a local relation (``createDataFrame`` of an Arrow
    table: its rows are already in driver memory) runs ONE Spark job,
    the routed collect, in one stage: no exchange and no mapInArrow
    stage of Python tasks. The caller's job group is left intact."""
    import pyarrow as pa

    n = 600
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [1_767_225_600_000_000 + (i * 7919) % n for i in range(n)],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([i % 13 for i in range(n)], pa.int64()),
        }
    )
    df = spark.createDataFrame(tbl)
    assert df.isLocal()
    st = TopicStore(spark, str(tmp_path / "lp"))
    st.create_topic("lp", n_buckets=4)
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's own group")
    try:
        with _jobs_in(sc, "local-produce") as jobs:
            assert st.produce(df, "lp") == n
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    m = st.latest_manifest("lp")[1]
    rt = st.read_topic("lp")
    assert rt.count() == n
    for r in rt.groupBy("bucket").agg(
        F.count("*").alias("n"), F.min("seq").alias("lo"), F.max("seq").alias("hi")
    ).collect():
        assert (r["lo"], r["hi"]) == (0, r["n"] - 1)
        assert int(m["maxima"][str(r["bucket"])]) == r["hi"]


def test_local_produce_seq_race_restages_without_a_job(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A local relation's produce that loses a seq race restages its
    sorted in-memory batch against the new base with no further Spark
    job: the whole raced produce runs the one collect. Seqs stay
    contiguous and the manifest maxima equal the data."""
    from tests.conftest import count_stagings, in_form, land_before_next_commit

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    root = str(tmp_path / "lr")
    s1 = TopicStore(spark, root)
    s1.create_topic("lr", n_buckets=2)
    s1.produce(ev.filter(F.col("event_id") < 50), "lr")
    s2 = TopicStore(spark, root)
    batch = in_form(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 150)), "local"
    )
    sc = spark.sparkContext
    sibling_jobs: list = []

    def sibling():
        # its own job group, so its jobs are not counted as s1's
        with _jobs_in(sc, "sibling") as jobs:
            s2.produce(
                ev.filter((F.col("event_id") >= 50) & (F.col("event_id") < 100)), "lr"
            )
        sibling_jobs.extend(jobs)

    stagings = count_stagings(monkeypatch)
    land_before_next_commit(monkeypatch, sibling)
    with _jobs_in(sc, "raced-local") as jobs:
        assert s1.produce(batch, "lr") == 50
    monkeypatch.undo()
    assert len(stagings) == 3, "s1 stages, the sibling produces, s1 must restage"
    assert sibling_jobs, "the sibling's produce did not land mid-produce"
    assert len(jobs) == 1, "the restage ran a Spark job"
    rt = s1.read_topic("lr")
    assert rt.count() == 150
    maxima = {int(b): x for b, x in s1.latest_manifest("lr")[1]["maxima"].items()}
    for r in rt.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.countDistinct("seq").alias("nd"),
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
    ).collect():
        assert r["nd"] == r["n"] and (r["lo"], r["hi"]) == (0, r["n"] - 1)
        assert maxima[r["bucket"]] == r["hi"]


def test_arrow_table_produce_runs_no_job(spark, tmp_path):
    """A produce of a ``pyarrow.Table`` runs no Spark job: its rows are
    routed, sorted and staged on the driver by the one Arrow append.
    It records the schema and rows the same table gives as a local
    relation, and the caller's job group is left intact."""
    import pyarrow as pa

    n = 600
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [1_767_225_600_000_000 + (i * 7919) % n for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 13 - 6 for i in range(n)], pa.int64()),
        }
    )
    st = TopicStore(spark, str(tmp_path / "ap"))
    for t in ("arrow", "local"):
        st.create_topic(t, n_buckets=4)
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's own group")
    try:
        with _jobs_in(sc, "arrow-produce") as jobs:
            assert st.produce(tbl, "arrow") == n
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert st.produce(spark.createDataFrame(tbl), "local") == n

    def rows(t):
        return sorted(tuple(r) for r in st.read_topic(t).collect())

    assert rows("arrow") == rows("local")
    assert st.topic_meta("arrow")["schema"] == st.topic_meta("local")["schema"]


def test_local_produce_replay_runs_no_job(spark, tmp_path):
    """A replayed ``batch_id`` produce of a local relation returns 0
    before its rows are collected: no Spark job."""
    import pyarrow as pa

    tbl = pa.table(
        {
            "event_id": pa.array(range(20), pa.int64()),
            "ts": pa.array(
                [1_767_225_600_000_000 + i for i in range(20)], pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array(range(20), pa.int64()),
        }
    )
    df = spark.createDataFrame(tbl)
    st = TopicStore(spark, str(tmp_path / "rp"))
    st.create_topic("rp", n_buckets=4)
    assert st.produce(df, "rp", batch_id="B1") == 20
    v = st.latest_manifest("rp")[0]
    with _jobs_in(spark.sparkContext, "replay") as jobs:
        assert st.produce(df, "rp", batch_id="B1") == 0
    assert jobs == []
    assert st.latest_manifest("rp")[0] == v


def test_produce_without_key_column_raises_before_any_job(spark, sf_dir, tmp_path):
    """A missing routing-key column is the append input check's error,
    raised before any Spark job, in every produce form."""
    from ripple_server_spark.sources.staging import AppendInputError
    from tests.conftest import in_form

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 20)
    ev = ev.select("event_id", "user_id", "ts")
    st = TopicStore(spark, str(tmp_path / "nk"))
    st.create_topic("nk", n_buckets=2)
    for form in ("exchange", "local", "arrow"):
        df = in_form(ev, form)
        with _jobs_in(spark.sparkContext, f"no-key-{form}") as jobs:
            with pytest.raises(AppendInputError, match="requires column 'nope'"):
                st.produce(df, "nk", key_col="nope")
        assert jobs == [], form
    assert st.latest_manifest("nk")[1]["files"] == []


# key type -> (DDL type, key values); every row also gets an event_id
# and a ts (NULL for one row)
_ROUTING_KEYS = {
    "bigint": ("bigint", [-9, -1, 0, 7, 12, None]),
    "int": ("int", [-9, 3, None]),
    "numeric string": ("string", ["12", "-3", None]),
    "double": ("double", [3.7, -1.5, 12.0, None]),
    "decimal": ("decimal(5,2)", ["-1.50", "9.25"]),
}


@pytest.mark.parametrize("key_type", sorted(_ROUTING_KEYS))
def test_one_routing_contract_on_every_append_surface(spark, tmp_path, key_type):
    """One routing contract over every append surface: produce of a
    distributed frame (exchange), of a local relation, of a
    ``pyarrow.Table``, and the native sink. An integer key, or a string
    holding one, lands every row in bucket pmod(key, 8) (NULL -> 0)
    with the same (bucket, seq, event_id) rows on all four. A
    fractional key is refused at entry by the one input check, with no
    file staged and no Spark job."""
    import glob
    import os

    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from ripple_server_spark.sources.staging import AppendInputError
    from tests.conftest import in_form

    spark.dataSource.register(RippleTopicDataSource)
    ddl, keys = _ROUTING_KEYS[key_type]
    path = str(tmp_path / "in")
    spark.range(len(keys)).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") != 1, F.timestamp_seconds(F.lit(1_767_225_600) - F.col("id"))).alias(
            "ts"
        ),
        F.element_at(
            F.array(*[F.lit(k).cast(ddl) for k in keys]), (F.col("id") + 1).cast("int")
        ).alias("k"),
    ).write.parquet(path)
    base = spark.read.parquet(path)
    assert base.schema["k"].dataType.simpleString() == ddl
    st = TopicStore(spark, str(tmp_path / "store"))

    def sink(df, topic):
        (
            df.coalesce(1)  # one task: the task's order is the batch order
            .write.format("ripple_topic")
            .mode("append")
            .option("root", st.root)
            .option("topic", topic)
            .option("key_col", "k")
            .save()
        )

    got = {}
    for surface in ("exchange", "local", "arrow", "sink"):
        st.create_topic(surface, n_buckets=8)
        df = base if surface == "sink" else in_form(base, surface)
        with _jobs_in(spark.sparkContext, f"route-{key_type}-{surface}") as jobs:
            try:
                if surface == "sink":
                    sink(df, surface)
                else:
                    st.produce(df, surface, key_col="k")
            except Exception as e:  # the sink surfaces it through Spark
                got[surface] = e
        if isinstance(got.get(surface), Exception):
            assert key_type in ("double", "decimal"), got[surface]
            assert f"routing key 'k' has type {ddl}" in str(got[surface])
            if surface != "sink":
                assert isinstance(got[surface], AppendInputError)
            assert jobs == [], surface
            assert not glob.glob(os.path.join(st.data_dir(surface), "*", "*.parquet"))
            assert st.latest_manifest(surface)[1]["files"] == []
            continue
        got[surface] = sorted(
            (r["bucket"], r["seq"], r["event_id"]) for r in st.read_topic(surface).collect()
        )
    if key_type in ("double", "decimal"):
        assert all(isinstance(e, Exception) for e in got.values()) and len(got) == 4
        return
    want_bucket = {i: 0 if k is None else int(k) % 8 for i, k in enumerate(keys)}
    assert sorted(b for b, _s, _e in got["exchange"]) == sorted(want_bucket.values())
    assert all(want_bucket[e] == b for b, _s, e in got["exchange"])
    for surface in ("local", "arrow", "sink"):
        assert got[surface] == got["exchange"], surface


def test_consume_materializes_in_one_job_in_seq_order(polled):
    """A poll whose range spans many files — more than Spark lists
    without a job — runs no Spark job at all, and consuming the same
    range as a DataFrame is one job; both return the rows seq-ordered."""
    st = polled
    sc = st.spark.sparkContext
    st.register_consumer("one_job", "pp")
    m = st.latest_manifest("pp")[1]
    sc.setJobGroup("caller", "the caller's own group")
    try:
        for b in (0, 5):
            n_files = sum(1 for r in m["files"] if manifest.bucket_of(r) == b)
            assert n_files > 32
            with _jobs_in(sc, f"poll-jobs-{b}") as jobs:
                polled_tbl, nxt = st.poll("one_job", "pp", b, 10_000)
            assert jobs == []
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
            with _jobs_in(sc, f"consume-jobs-{b}") as jobs:
                df, nxt2 = st.consume("one_job", "pp", b, 10_000)
                tbl = df.toArrow()
            assert len(jobs) == 1
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
            assert nxt2 == nxt
            assert polled_tbl["seq"].to_pylist() == list(range(nxt))
            assert tbl["seq"].to_pylist() == list(range(nxt))
            assert set(tbl["bucket"].to_pylist()) == {b}
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_read_increment_plans_only_the_tail_files(polled):
    """Building an increment over a 300+ file log runs no Spark job
    (no listing job over the whole snapshot; the caller's job group is
    left as it was) and opens exactly the files manifest.plan plans
    past each bucket's base maximum."""
    import os
    from urllib.parse import urlparse

    st = polled
    sc = st.spark.sparkContext
    produces = [h["version"] for h in st.history("pp") if h["operation"] == "produce"]
    since = produces[-2]
    base = manifest.load(st.root, "pp", since)
    v, m = st.latest_manifest("pp")
    assert len(m["files"]) > 300
    sc.setJobGroup("caller", "the caller's own group")
    try:
        with _jobs_in(sc, "read-increment") as jobs:
            inc = st.read_increment("pp", since_version=since, version=v)
        assert jobs == []
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    base_max = {int(b): x for b, x in base["maxima"].items()}
    spans = {b: (base_max.get(b, -1) + 1, 2**63 - 1) for b in range(int(m["n_buckets"]))}
    want = {rel for rels in manifest.plan(m, spans).values() for rel in rels}
    got = {
        os.path.relpath(urlparse(f).path, st.data_dir("pp")) for f in inc.inputFiles()
    }
    assert got == want
    assert len(got) < len(m["files"]) / 4
    tail = sum(int(x) - base_max.get(int(b), -1) for b, x in m["maxima"].items())
    assert inc.count() == tail > 0


def test_offsets_writes_refuse_an_unknown_topic(spark, tmp_path):
    """register_consumer and an ungated commit on a topic that does not
    exist raise FileNotFoundError naming it and write nothing anywhere
    under the root: no consumer log that delete_topic could never
    reach."""
    st = TopicStore(spark, str(tmp_path / "orphan"))
    before = {(p, p.stat().st_mtime_ns) for p in tmp_path.rglob("*")}
    with pytest.raises(FileNotFoundError, match="'nope'"):
        st.register_consumer("c", "nope")
    with pytest.raises(FileNotFoundError, match="'nope'"):
        st.commit("d", "nope", 0, 5)
    assert {(p, p.stat().st_mtime_ns) for p in tmp_path.rglob("*")} == before


def test_offsets_for_times_runs_no_spark_job(polled):
    """offsetsForTimes over a 300+ file log is a driver-side scan: no
    Spark job, the caller's job group left as it was, and the answer of
    an independent Spark min(seq) over the at/after-T rows, with the
    high-water mark for a bucket that has none."""
    st = polled
    sc = st.spark.sparkContext
    t_ms = 1705276800000  # 2024-01-15T00:00:00Z, mid-fixture
    sc.setJobGroup("caller", "the caller's own group")
    try:
        with _jobs_in(sc, "offsets-for-times") as jobs:
            got = st.offsets_for_times("pp", t_ms)
        assert jobs == []
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert got == offsets_for_times_reference(st, "pp", t_ms)
    assert sorted(got) == list(range(8))
    hwm = {b: mx + 1 for b, mx in st._bucket_maxima("pp").items()}
    assert any(got[b] < hwm[b] for b in got)


def test_seek_to_timestamp_is_one_offsets_publish(spark, sf_dir, tmp_path, monkeypatch):
    """seek_to_timestamp moves every bucket in one consumer-log claim:
    with every claim after the first failing, the seek still lands
    whole, so a crash can never leave some buckets seeked and others at
    their prior offsets."""
    from ripple_server_spark.sources import manifest

    st = TopicStore(spark, str(tmp_path / "seek_one"))
    st.create_topic("sk", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    st.produce(ev, "sk")
    st.register_consumer("c", "sk")
    writes: list[str] = []
    real = manifest.claim

    def one_write(slot, doc):
        writes.append(slot)
        if len(writes) > 1:
            raise OSError("offsets write failed")
        return real(slot, doc)

    monkeypatch.setattr(manifest, "claim", one_write)
    offsets = st.seek_to_timestamp("c", "sk", 1705276800000)
    assert len(writes) == 1 and f"/{manifest.CONSUMER_LOG}/" in writes[0]
    assert len(offsets) == 4
    assert st.committed_offsets("c", "sk") == offsets


def test_consume_schema_matches_read_topic_on_evolved_topic(spark, sf_dir, tmp_path):
    """consume types its scan from the manifest's recorded schema: on an
    evolved topic it returns the same columns, types and typed nulls as
    read_topic() filtered to the same range — including a column
    declared by a metadata-only (empty) produce that no file holds."""
    st = TopicStore(spark, str(tmp_path / "evo_poll"))
    st.create_topic("ep", n_buckets=2)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    st.produce(ev.filter(F.col("event_id") < 100), "ep")
    st.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)).withColumn(
            "tag", F.concat(F.lit("t"), F.col("event_id").cast("string"))
        ),
        "ep",
    )
    st.produce(ev.limit(0).withColumn("score", F.lit(1.5)), "ep")
    evolved = st.read_topic("ep")
    assert evolved.columns[-3:] == ["tag", "score", "bucket"]
    assert evolved.filter(F.col("score").isNotNull()).count() == 0
    st.register_consumer("evo", "ep")
    for b in range(2):
        df, nxt = st.consume("evo", "ep", b, 10_000)
        ref = (
            st.read_topic("ep")
            .filter((F.col("bucket") == b) & (F.col("seq") < nxt))
            .orderBy("seq")
        )
        assert dict((f.name, f.dataType) for f in df.schema.fields) == dict(
            (f.name, f.dataType) for f in ref.schema.fields
        )
        cols = sorted(df.columns)
        got = [r.asDict() for r in df.select(*cols).collect()]
        assert got == [r.asDict() for r in ref.select(*cols).collect()]
        assert any(r["tag"] is None for r in got) and any(r["tag"] for r in got)


@pytest.fixture(scope="module")
def one_range(spark, sf_dir, tmp_path_factory, polled):
    """One poll range per case, as (store, topic, consumer, bucket,
    count): an evolved column the bucket's first file lacks, an offset
    below a truncate floor, a lagging poll over more files than Spark
    lists without a job, and an empty range at the high-water mark."""
    st = TopicStore(spark, str(tmp_path_factory.mktemp("one_range")))
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    st.create_topic("evo", n_buckets=2)
    st.produce(ev.filter(F.col("event_id") < 100), "evo")
    st.produce(
        ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)).withColumn(
            "tag", F.lit("v2")
        ),
        "evo",
    )
    st.create_topic("floor", n_buckets=2)
    for lo in (0, 60, 120):
        st.produce(
            ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < lo + 60)),
            "floor",
        )
    assert st.truncate("floor", before_seq=25) >= 1
    assert st._bucket_floors("floor")[1] > 0
    polled.register_consumer("lagging", "pp")
    polled.commit("lagging", "pp", 6, 0)
    polled.register_consumer("at_hwm", "pp")
    polled.commit("at_hwm", "pp", 2, polled._bucket_maxima("pp")[2] + 1)
    st.register_consumer("eq", "evo")
    st.register_consumer("eq", "floor")
    return {
        "evolved_column_missing_from_first_file": (st, "evo", "eq", 1, 10_000),
        "offset_below_truncate_floor": (st, "floor", "eq", 1, 40),
        "lagging_poll_over_many_files": (polled, "pp", "lagging", 6, 10_000),
        "empty_range": (polled, "pp", "at_hwm", 2, 100),
    }


@pytest.mark.parametrize(
    "case",
    [
        "evolved_column_missing_from_first_file",
        "offset_below_truncate_floor",
        "lagging_poll_over_many_files",
        "empty_range",
    ],
)
def test_poll_consume_and_read_topic_return_one_range(one_range, case):
    """poll, consume and read_topic filtered to [offset, next_offset)
    return the same seqs, columns and values for one bucket range."""
    st, topic, consumer, b, count = one_range[case]
    offset = max(
        st.committed_offsets(consumer, topic).get(b, 0),
        st._bucket_floors(topic).get(b, 0),
    )
    tbl, nxt = st.poll(consumer, topic, b, count)
    df, nxt2 = st.consume(consumer, topic, b, count)
    ref = (
        st.read_topic(topic)
        .filter((F.col("bucket") == b) & (F.col("seq") >= offset) & (F.col("seq") < nxt))
        .orderBy("seq")
    )
    assert nxt2 == nxt
    got = {"poll": tbl, "consume": df.toArrow(), "read_topic": ref.toArrow()}
    for name, t in got.items():
        assert t.column_names == ref.columns, name
        assert t.to_pylist() == got["read_topic"].to_pylist(), name
    seqs = tbl["seq"].to_pylist()
    if case == "empty_range":
        assert seqs == [] and nxt == offset
    else:
        assert seqs == list(range(offset, nxt)) and seqs
    if case == "evolved_column_missing_from_first_file":
        tags = tbl["tag"].to_pylist()
        assert None in tags and "v2" in tags
    if case == "offset_below_truncate_floor":
        assert st.committed_offsets(consumer, topic).get(b, 0) < offset
    if case == "lagging_poll_over_many_files":
        m = st.latest_manifest(topic)[1]
        assert len(manifest.plan(m, {b: (offset, nxt)})[b]) > 32


def test_type_clash_fails_every_read_with_the_column_named(spark, tmp_path):
    """A column produced as int and then as bigint has no one type to
    read it with: poll, consume and read_topic each raise ValueError
    naming it, instead of failing deep inside a Spark footer merge."""
    import datetime as dt

    st = TopicStore(spark, str(tmp_path / "clash"))
    st.create_topic("clash", n_buckets=1)
    t0 = dt.datetime(2026, 1, 1)
    for typ in ("int", "bigint"):
        st.produce(
            spark.createDataFrame(
                [(1, t0, 7, 3)], f"event_id long, ts timestamp, user_id long, x {typ}"
            ),
            "clash",
        )
    st.register_consumer("c", "clash")
    with pytest.raises(ValueError, match="column 'x'"):
        st.poll("c", "clash", 0, 10)
    with pytest.raises(ValueError, match="column 'x'"):
        st.consume("c", "clash", 0, 10)
    with pytest.raises(ValueError, match="column 'x'"):
        st.read_topic("clash")
        assert all(r["score"] is None for r in got)
