"""Manifest-log commit protocol: snapshot isolation, crash-orphan
invisibility, writer-conflict rebase, vacuum reclamation.

The scenarios mirror what S3-style storage breaks about rename-based
logs: a reader holding a snapshot while a compactor commits, a producer
crashing between its data write and its commit, and two maintenance
ops racing for the same manifest version.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources import manifest
from ripple_server_spark.sources.topics import TopicStore
from tests.conftest import in_form


def _mk(spark, sf_dir, tmp_path, topic="m1", n=300, buckets=4):
    store = TopicStore(spark, str(tmp_path / "store"))
    store.create_topic(topic, n_buckets=buckets)
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < n)
    store.produce(ev, topic)
    return store, ev


def test_crash_orphan_files_are_invisible_and_vacuumed(spark, sf_dir, tmp_path):
    """Files in the data dir that no manifest references (a produce that
    crashed before its commit) are invisible to readers and reclaimed
    by vacuum — the exactly-once crash-window fix."""
    store, ev = _mk(spark, sf_dir, tmp_path)
    n_live = store.read_topic("m1").count()

    # simulate a crashed produce: parquet lands, commit never happens
    bdir = os.path.join(store.data_dir("m1"), "bucket=0")
    orphan = os.path.join(bdir, "deadbeef-orphan.parquet")
    src = glob.glob(os.path.join(bdir, "*.parquet"))[0]
    import shutil

    shutil.copy(src, orphan)

    assert store.read_topic("m1").count() == n_live  # orphan not read
    removed = store.vacuum("m1")
    assert removed >= 1
    assert not os.path.exists(orphan)
    assert store.read_topic("m1").count() == n_live


def test_produce_commits_batch_id_atomically_with_files(spark, sf_dir, tmp_path):
    """applied_batches lives IN the manifest: the data files and the
    idempotency record become visible in one commit."""
    store, ev = _mk(spark, sf_dir, tmp_path)
    v0, m0 = store.latest_manifest("m1")
    store.produce(ev.limit(50), "m1", batch_id="bx")
    v1, m1 = store.latest_manifest("m1")
    assert v1 == v0 + 1
    assert "bx" in m1["applied_batches"] and "bx" not in m0["applied_batches"]
    assert len(m1["files"]) > len(m0["files"])


def test_interleaved_produce_compact_consume(spark, sf_dir, tmp_path):
    """A produce that lands between a compactor's snapshot read and its
    commit survives the compaction commit (rebase keeps files that were
    not part of the compacted input), and consumers see every row."""
    store, ev = _mk(spark, sf_dir, tmp_path, n=200)

    # compactor reads its input snapshot...
    base_v, base = store.latest_manifest("m1")

    # ...a concurrent produce commits mid-compact...
    late = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") >= 200) & (F.col("event_id") < 260)
    )
    store.produce(late, "m1")
    total = store.read_topic("m1").count()

    # ...then the compactor commits FROM ITS OLD SNAPSHOT; the commit
    # collides with the produce's manifest version and rebases, keeping
    # the late files it never compacted
    store.compact("m1", base_version=base_v)

    after = store.read_topic("m1")
    assert after.count() == total
    # per-bucket seq chain still contiguous from 0
    chk = after.groupBy("bucket").agg(
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
        F.count("*").alias("n"),
        F.countDistinct("seq").alias("d"),
    )
    for r in chk.collect():
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["d"] == r["n"]


def test_truncate_is_a_manifest_commit_not_a_delete(spark, sf_dir, tmp_path):
    """Retention drops files from the manifest; a pinned pre-truncate
    snapshot still reads them until vacuum."""
    store, ev = _mk(spark, sf_dir, tmp_path)
    store.compact("m1")
    v_pre, _ = store.latest_manifest("m1")
    full = store.read_topic("m1").count()

    maxima = store._bucket_maxima("m1")
    cutoff = min(maxima.values()) + 1
    dropped = store.truncate("m1", before_seq=cutoff)
    assert dropped >= 1

    # live view shrank; pinned snapshot did not
    assert store.read_topic("m1").count() < full
    assert store.read_topic("m1", version=v_pre).count() == full

    store.vacuum("m1")
    assert store.read_topic("m1").count() < full


def test_cold_store_instance_never_scans_for_maxima(spark, sf_dir, tmp_path):
    """A fresh TopicStore over an existing log serves maxima/floors from
    the manifest (metadata-only cold start — no Spark job over the
    log)."""
    store, ev = _mk(spark, sf_dir, tmp_path)
    warm = store._bucket_maxima("m1")

    cold = TopicStore(spark, str(tmp_path / "store"))
    tracker = spark.sparkContext.statusTracker()
    before_jobs = tracker.getJobIdsForGroup(None)
    got = cold._bucket_maxima("m1")
    after_jobs = tracker.getJobIdsForGroup(None)
    assert got == warm
    assert len(after_jobs) == len(before_jobs), "cold maxima launched a Spark job"


def test_concurrent_produce_seq_race_is_rebased(
    spark, sf_dir, tmp_path, monkeypatch, form="exchange"
):
    """Two producers appending from the same observed base must not
    assign overlapping seqs: the second commit detects the advanced
    maxima, restages its rows with shifted seqs, and lands contiguously.

    The race is forced at the append seam: s1 has staged b3 when s2's
    produce of b2 lands, hooked into s1's first manifest commit."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.topics import TopicStore
    from tests.conftest import count_stagings, land_before_next_commit

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    b1 = ev.filter(F.col("event_id") < 100)
    b2 = ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
    b3 = ev.filter((F.col("event_id") >= 200) & (F.col("event_id") < 300))

    s1 = TopicStore(spark, str(tmp_path))
    s1.create_topic("race", n_buckets=2)
    s1.produce(b1, "race")
    s2 = TopicStore(spark, str(tmp_path))
    b3 = in_form(b3, form)
    stagings = count_stagings(monkeypatch)
    land_before_next_commit(monkeypatch, lambda: s2.produce(b2, "race"))
    s1.produce(b3, "race")  # stale base -> must restage, not overlap
    monkeypatch.undo()
    assert len(stagings) == 3, "s1 stages, s2 produces, s1 must restage"

    df = s1.read_topic("race")
    assert df.count() == 300
    per_bucket = (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("seq").alias("nd"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
        )
        .collect()
    )
    for r in per_bucket:
        assert r["nd"] == r["n"], "overlapping seqs"
        assert (r["lo"], r["hi"]) == (0, r["n"] - 1), "non-contiguous seqs"
    # manifest maxima agree with the data
    maxima = {int(b): x for b, x in s1.latest_manifest("race")[1]["maxima"].items()}
    for r in per_bucket:
        assert maxima[r["bucket"]] == r["hi"]


def test_local_produce_seq_race_is_rebased(spark, sf_dir, tmp_path, monkeypatch):
    """The rebase above with the raced batch a local relation: the
    driver-side path restages its sorted in-memory rows."""
    test_concurrent_produce_seq_race_is_rebased(
        spark, sf_dir, tmp_path, monkeypatch, form="local"
    )


def test_arrow_produce_seq_race_is_rebased(spark, sf_dir, tmp_path, monkeypatch):
    """The rebase above with the raced batch a ``pyarrow.Table``: the
    Arrow append restages its sorted rows."""
    test_concurrent_produce_seq_race_is_rebased(
        spark, sf_dir, tmp_path, monkeypatch, form="arrow"
    )


def test_replayed_batch_id_race_cannot_double_append(
    spark, sf_dir, tmp_path, monkeypatch, form="exchange"
):
    """The batch_id idempotence check re-runs inside the commit: a
    replayed produce whose twin landed after its entry check (forced
    via a second store instance) must append nothing."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.topics import TopicStore
    from tests.conftest import count_stagings

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    batch = ev.filter(F.col("event_id") < 100)

    s1 = TopicStore(spark, str(tmp_path))
    s1.create_topic("idem", n_buckets=2)
    s1.produce(batch, "idem", batch_id="B1")  # warms s1's caches
    # s2 replays B1 — s2's entry check reads the manifest fresh and is
    # a no-op; then force the in-commit path on a THIRD instance whose
    # entry check is defeated by monkeypatching latest_manifest once.
    s2 = TopicStore(spark, str(tmp_path))
    assert s2.produce(batch, "idem", batch_id="B1") == 0

    # force the in-commit path on a third instance: its entry check
    # (the append's first manifest read) is shown a manifest without B1
    s3 = TopicStore(spark, str(tmp_path))
    replay = in_form(batch, form)
    v_before = s3.latest_manifest("idem")[0]
    real = manifest.latest
    calls = {"n": 0}

    def stale_once(root, topic):
        v, m = real(root, topic)
        calls["n"] += 1
        if calls["n"] == 1:  # entry check sees a manifest without B1
            m = dict(m)
            m["applied_batches"] = []
        return v, m

    stagings = count_stagings(monkeypatch)
    monkeypatch.setattr(manifest, "latest", stale_once)
    assert s3.produce(replay, "idem", batch_id="B1") == 0
    monkeypatch.undo()
    # the batch got past the entry check and staged; only the in-commit
    # applied-id check can have refused it
    assert len(stagings) == 1, "the entry check was not defeated"
    assert s3.latest_manifest("idem")[0] == v_before

    df = s1.read_topic("idem")
    assert df.count() == 100  # appended exactly once across all replays


def test_local_produce_replayed_batch_id_race_cannot_double_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The in-commit applied-id check above, replaying a local relation."""
    test_replayed_batch_id_race_cannot_double_append(
        spark, sf_dir, tmp_path, monkeypatch, form="local"
    )


def test_arrow_produce_replayed_batch_id_race_cannot_double_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The in-commit applied-id check above, replaying a ``pyarrow.Table``."""
    test_replayed_batch_id_race_cannot_double_append(
        spark, sf_dir, tmp_path, monkeypatch, form="arrow"
    )


def test_history_classifies_operations(spark, sf_dir, tmp_path):
    """history() must reconstruct the operation kind of every committed
    version by diffing consecutive manifests: create, produce, compact
    (add+remove swap), truncate (removal/floor raise) — with versions
    contiguous and timestamps non-decreasing. Vacuum commits nothing
    and must not appear."""
    from ripple_server_spark.catalog import load_table
    from ripple_server_spark.sources.topics import TopicStore

    st = TopicStore(spark, str(tmp_path / "hist"))
    st.create_topic("h", n_buckets=2)
    ev = load_table(spark, sf_dir, "events")
    st.produce(ev.limit(50), "h")
    st.produce(ev.filter((F.col("event_id") >= 50) & (F.col("event_id") < 80)), "h")
    st.compact("h")
    # age out the compacted segment: a newer produce keeps the topic
    # non-empty, then the cutoff passes every compacted file's max seq
    compacted_max = max(st._bucket_maxima("h").values())
    st.produce(ev.filter((F.col("event_id") >= 80) & (F.col("event_id") < 120)), "h")
    assert st.truncate("h", before_seq=compacted_max + 1) >= 1

    hist = st.history("h")
    assert [h["version"] for h in hist] == list(range(1, len(hist) + 1))
    assert [h["operation"] for h in hist] == [
        "create", "produce", "produce", "compact", "produce", "truncate"
    ]
    ts = [h["ts"] for h in hist]
    assert ts == sorted(ts)
    assert hist[-1]["files_removed"] >= 1

    # vacuum prunes old manifest versions: history shrinks to the
    # retained tail, whose head is a full snapshot, not a delta
    st.vacuum("h")
    pruned = st.history("h")
    assert len(pruned) < len(hist)
    assert pruned[0]["operation"] == "retained-snapshot"
    assert pruned[-1]["version"] == hist[-1]["version"]


# -- manifest module: torn reads, seq ranges --------------------------------


def test_commit_retries_a_torn_manifest_read(spark, tmp_path, monkeypatch):
    """On the linkless-filesystem fallback a reader can open a manifest
    whose name exists before its bytes do. Every manifest read goes
    through manifest.load, which retries the JSONDecodeError: a commit
    whose base read is served truncated once still lands."""
    import builtins
    import io

    store = TopicStore(spark, str(tmp_path / "store"))
    store.create_topic("torn", n_buckets=2)
    v, _m = store.latest_manifest("torn")
    target = manifest.path(store.root, "torn", v)
    real_open = builtins.open
    served = []

    def torn_open(p, mode="r", *a, **k):
        if p == target and mode == "r" and not served:
            with real_open(p) as f:
                text = f.read()
            served.append(p)
            return io.StringIO(text[: len(text) // 2])
        return real_open(p, mode, *a, **k)

    monkeypatch.setattr(manifest, "open", torn_open, raising=False)
    assert store.fence_producers("torn") == 1
    assert served == [target]
    monkeypatch.undo()
    v2, m2 = store.latest_manifest("torn")
    assert v2 == v + 1 and m2["producer_epoch"] == 1


def _footer_range(path: str) -> list[int]:
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    idx = md.schema.to_arrow_schema().get_field_index("seq")
    stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
    return [min(s.min for s in stats), max(s.max for s in stats)]


def _assert_ranges_match_footers(store, topic: str) -> dict:
    """Every live file has a seq_ranges entry equal to its footer seq
    min/max, and no entry names a file outside ``files``."""
    _v, m = store.latest_manifest(topic)
    ranges = m.get("seq_ranges", {})
    assert set(ranges) <= set(m["files"]), "range entry for a dead file"
    data = store.data_dir(topic)
    for rel in m["files"]:
        assert ranges.get(rel) == _footer_range(os.path.join(data, rel)), rel
    return m


def test_seq_ranges_match_footers_through_every_writer(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The manifest's per-file seq ranges are written by the commit that
    adds each file and pruned by the one commit function: after
    produce, a native-sink write, a forced _SeqRace rebase, compact,
    compact_by_key, truncate and restore, every live file's range equals
    its footer and no entry outlives its file."""
    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from tests.conftest import count_stagings, land_before_next_commit

    spark.dataSource.register(RippleTopicDataSource)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")

    def part(lo, hi):
        return ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))

    root = str(tmp_path / "store")
    s1 = TopicStore(spark, root)
    s1.create_topic("rg", n_buckets=4)
    s1.produce(part(0, 100), "rg")
    _assert_ranges_match_footers(s1, "rg")

    (
        part(100, 200)
        .write.format("ripple_topic")
        .mode("append")
        .option("root", root)
        .option("topic", "rg")
        .save()
    )
    _assert_ranges_match_footers(s1, "rg")

    # forced seq race: a second store's produce lands between s1's
    # staging and s1's commit
    stagings = count_stagings(monkeypatch)
    land_before_next_commit(
        monkeypatch, lambda: TopicStore(spark, root).produce(part(200, 300), "rg")
    )
    s1.produce(part(300, 400), "rg")
    monkeypatch.undo()
    assert len(stagings) == 3, "s1 stages, the sibling produces, s1 must restage"
    _assert_ranges_match_footers(s1, "rg")

    s1.compact("rg")
    _assert_ranges_match_footers(s1, "rg")

    assert s1.compact_by_key("rg") > 0
    m = _assert_ranges_match_footers(s1, "rg")
    v_keyed = s1.latest_manifest("rg")[0]

    s1.produce(part(400, 500), "rg")
    keyed_max = max(r[1] for f, r in m["seq_ranges"].items())
    assert s1.truncate("rg", before_seq=keyed_max + 1) >= 1
    m = _assert_ranges_match_footers(s1, "rg")
    assert len(m["seq_ranges"]) == len(m["files"])

    s1.restore("rg", v_keyed)
    m = _assert_ranges_match_footers(s1, "rg")
    target = manifest.load(root, "rg", v_keyed)
    assert (m["files"], m["seq_ranges"]) == (target["files"], target["seq_ranges"])


def test_manifest_without_seq_ranges_still_reads(spark, sf_dir, tmp_path):
    """Upgrade path: a manifest written before ranges were recorded
    plans every file of the bucket, so consume returns the same rows
    and retention falls back to the parquet footers."""
    import json

    store, _ev = _mk(spark, sf_dir, tmp_path, n=300)
    first = store._bucket_maxima("m1")
    late = load_table(spark, sf_dir, "events").filter(
        (F.col("event_id") >= 300) & (F.col("event_id") < 500)
    )
    store.produce(late, "m1")

    def polls(consumer):
        store.register_consumer(consumer, "m1")
        out = {}
        for b in range(4):
            df, nxt = store.consume(consumer, "m1", b, 10_000)
            out[b] = ([r.asDict() for r in df.collect()], nxt)
        return out

    before = polls("c_before")
    v, m = store.latest_manifest("m1")
    assert m["seq_ranges"]
    del m["seq_ranges"]
    with open(manifest.path(store.root, "m1", v), "w") as f:
        json.dump(m, f)
    assert polls("c_after") == before

    # retention falls back to the footers of range-less files
    assert store.truncate("m1", before_seq=max(first.values()) + 1) >= 1
    assert "seq_ranges" not in store.latest_manifest("m1")[1]


def test_truncate_reads_seq_ranges_not_footers(spark, sf_dir, tmp_path, monkeypatch):
    """Retention plans from the manifest: on a topic whose files all
    carry seq ranges, truncate opens no parquet footer."""
    import pyarrow.parquet as pq

    store, _ev = _mk(spark, sf_dir, tmp_path, n=300)
    store.produce(
        load_table(spark, sf_dir, "events").filter(
            (F.col("event_id") >= 300) & (F.col("event_id") < 600)
        ),
        "m1",
    )
    m = store.latest_manifest("m1")[1]
    assert set(m["seq_ranges"]) == set(m["files"])

    def no_footers(*_a, **_k):
        raise AssertionError("truncate opened a parquet footer")

    monkeypatch.setattr(pq, "read_metadata", no_footers)
    first_hi = {}
    for rel, (_lo, hi) in m["seq_ranges"].items():
        b = int(rel.split("/", 1)[0].split("=", 1)[1])
        first_hi[b] = min(first_hi.get(b, hi), hi)
    dropped = store.truncate("m1", before_seq=max(first_hi.values()) + 1)
    assert dropped >= 1
    after = store.latest_manifest("m1")[1]
    assert len(after["files"]) == len(m["files"]) - dropped


def _lose_every_seq_race(monkeypatch, n_buckets):
    """Wrap manifest.commit so every append attempt loses its seq race:
    before each commit, a sibling metadata commit advances every
    bucket's maxima. Returns the list of hooked commit calls."""
    real = manifest.commit
    calls: list = []

    def bump(m):
        mx = dict(m.get("maxima", {}))
        for b in range(n_buckets):
            mx[str(b)] = int(mx.get(str(b), -1)) + 1
        m["maxima"] = mx
        return m

    def always_raced(root, topic, base_version, apply):
        calls.append(1)
        real(root, topic, manifest.latest_version(root, topic), bump)
        return real(root, topic, base_version, apply)

    monkeypatch.setattr(manifest, "RETRIES", 3)
    monkeypatch.setattr(manifest, "commit", always_raced)
    return calls


def test_produce_seq_race_retries_are_bounded(
    spark, sf_dir, tmp_path, monkeypatch, form="exchange"
):
    """A produce that loses every seq race gives up after
    ``manifest.RETRIES`` restages with a RuntimeError, and none of its
    rows become visible."""
    from tests.conftest import count_stagings

    store, _ev = _mk(spark, sf_dir, tmp_path, n=100, buckets=2)
    before = store.read_topic("m1").count()
    late = in_form(
        load_table(spark, sf_dir, "events").filter(
            (F.col("event_id") >= 100) & (F.col("event_id") < 200)
        ),
        form,
    )
    stagings = count_stagings(monkeypatch)
    calls = _lose_every_seq_race(monkeypatch, n_buckets=2)
    with pytest.raises(RuntimeError, match="seq-claim contention"):
        store.produce(late, "m1")
    monkeypatch.undo()
    assert len(calls) == len(stagings) == 3
    assert store.read_topic("m1").count() == before


def test_local_produce_seq_race_retries_are_bounded(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The retry bound above, for a local relation's driver-side path."""
    test_produce_seq_race_retries_are_bounded(
        spark, sf_dir, tmp_path, monkeypatch, form="local"
    )


def test_arrow_produce_seq_race_retries_are_bounded(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The retry bound above, for a ``pyarrow.Table`` produce."""
    test_produce_seq_race_retries_are_bounded(
        spark, sf_dir, tmp_path, monkeypatch, form="arrow"
    )


def test_sink_seq_race_retries_are_bounded(spark, sf_dir, tmp_path, monkeypatch):
    """A native-sink task that loses every seq race gives up after
    ``manifest.RETRIES`` attempts with a RuntimeError (the write task
    run in-process, so the hooks apply), and none of its rows become
    visible."""
    from ripple_server_spark.sources import datasink

    store, _ev = _mk(spark, sf_dir, tmp_path, n=100, buckets=2)
    before = store.read_topic("m1").count()
    tbl = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") >= 100) & (F.col("event_id") < 200))
        .select("event_id", "user_id", "ts")
        .toArrow()
    )
    fields = ["event_id:bigint", "user_id:bigint", "ts:timestamp", "seq:bigint"]
    calls = _lose_every_seq_race(monkeypatch, n_buckets=2)
    with pytest.raises(RuntimeError, match="seq-claim contention"):
        datasink._task_append(
            store.root,
            "m1",
            "user_id",
            "dsw/bounded/p0",
            iter(tbl.to_batches()),
            fields,
        )
    monkeypatch.undo()
    assert len(calls) == 3
    assert store.read_topic("m1").count() == before


def test_concurrent_produces_and_sink_write_keep_seqs_contiguous(
    spark, sf_dir, tmp_path
):
    """Two produce threads and one native-sink batch write append to one
    4-bucket topic at once: every row lands exactly once, each bucket's
    seqs are gap-free from 0, and the manifest maxima equal the data."""
    import threading

    from ripple_server_spark.sources.datasource import RippleTopicDataSource

    spark.dataSource.register(RippleTopicDataSource)
    root = str(tmp_path / "store")
    store = TopicStore(spark, root)
    store.create_topic("cw", n_buckets=4)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")

    def part(lo, hi):
        return ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))

    def sink_write():
        # Python data sources resolve through the JVM thread's ACTIVE
        # session, which a fresh thread does not have
        spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
            spark._jsparkSession
        )
        (
            part(300, 450)
            .repartition(2)
            .write.format("ripple_topic")
            .mode("append")
            .option("root", root)
            .option("topic", "cw")
            .save()
        )

    writers = [
        lambda: store.produce(part(0, 150), "cw"),
        lambda: TopicStore(spark, root).produce(part(150, 300), "cw"),
        sink_write,
    ]
    start = threading.Barrier(len(writers))
    errors: list = []

    def run(w):
        try:
            start.wait(timeout=60)
            w()
        except Exception as e:  # surfaced below, not swallowed
            errors.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in writers]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "a writer did not finish"
    assert not errors, errors

    df = store.read_topic("cw")
    assert df.count() == 450
    assert df.select("event_id").distinct().count() == 450
    per_bucket = (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("seq").alias("nd"),
            F.min("seq").alias("lo"),
            F.max("seq").alias("hi"),
        )
        .collect()
    )
    maxima = {int(b): x for b, x in store.latest_manifest("cw")[1]["maxima"].items()}
    assert set(maxima) == {r["bucket"] for r in per_bucket}
    for r in per_bucket:
        assert r["nd"] == r["n"], "overlapping seqs"
        assert (r["lo"], r["hi"]) == (0, r["n"] - 1), "non-contiguous seqs"
        assert maxima[r["bucket"]] == r["hi"]


def test_latest_version_lists_a_log_only_when_its_last_seen_version_is_gone(
    tmp_path, monkeypatch
):
    """latest_version probes v+1 upward from the newest version this
    process saw for a log: after one first listing per log, ~50 commits
    and reads of the data manifest and of the consumer-state log list
    no directory. A re-created topic and a vacuumed hint are each
    resolved right (one listing where the hinted version is gone), and a
    re-created topic that grew past the old hint is probed, not listed."""
    root = str(tmp_path / "store")
    st = TopicStore(None, root)
    manifest.create(root, "lv", 2)
    listings: list[str] = []
    real = os.listdir

    def counting(p="."):
        listings.append(str(p))
        return real(p)

    monkeypatch.setattr(manifest.os, "listdir", counting)

    def same(m: dict) -> dict:
        return m

    def traffic(i: int) -> None:
        manifest.commit(root, "lv", manifest.latest_version(root, "lv"), same)
        manifest.latest(root, "lv")
        st.commit("c", "lv", i % 2, i)
        st.committed_offsets("c", "lv")

    traffic(1)  # first contact with each log
    listings.clear()
    for i in range(2, 14):
        traffic(i)
    assert listings == []
    seen = manifest.latest_version(root, "lv")
    assert seen == 14 and st.committed_offsets("c", "lv") == {0: 12, 1: 13}

    # re-created and grown past the old hint with no read in between:
    # the hinted version is live again, and the probe finds the top
    st.delete_topic("lv")
    manifest.create(root, "lv", 2)
    v = 1
    while v < seen + 2:
        v = manifest.commit(root, "lv", v, same)["version"]
    listings.clear()
    assert manifest.latest_version(root, "lv") == seen + 2
    assert listings == []

    # re-created under the same name: the hinted version is gone, so
    # one listing finds the new log's version 1
    st.delete_topic("lv")
    manifest.create(root, "lv", 2)
    listings.clear()
    assert manifest.latest_version(root, "lv") == 1
    assert len(listings) == 1
    assert st.committed_offsets("c", "lv") == {}

    # the hinted version vacuumed away (as another process's vacuum
    # would): one listing
    v = 1
    for _ in range(3):
        v = manifest.commit(root, "lv", v, same)["version"]
    log = manifest.log_dir(root, "lv")
    for n in real(log):
        if n.endswith(".json") and int(n[:-5]) < v:
            os.remove(os.path.join(log, n))
    listings.clear()
    assert manifest.latest_version(root, "lv") == v
    assert len(listings) == 1


def test_vacuum_reclaims_crashed_claim_temp_files_past_grace(tmp_path):
    """A claim that loses, or crashes between writing its temp file and
    unlinking it, leaves ``<version>.json.tmp-<hex>`` in the log
    directory. vacuum removes such files in both logs once they are
    older than its grace window, and leaves younger ones alone. A temp
    file of a version past the newest may be an in-flight claim about to
    link, so it stays whatever its age."""
    import time

    root = str(tmp_path / "store")
    st = TopicStore(None, root)
    manifest.create(root, "tv", 2)
    st.commit("c", "tv", 0, 1)  # creates the consumer-state log
    made = {}
    for log in (manifest.LOG, manifest.CONSUMER_LOG):
        for age, tag, slot in ((3600, "0ld0ld00", 1), (0, "fresh000", 1), (3600, "next0000", 2)):
            p = os.path.join(manifest.log_dir(root, "tv", log), f"{slot:020d}.json.tmp-{tag}")
            with open(p, "w") as f:
                f.write("{")
            t = time.time() - age
            os.utime(p, (t, t))
            made[p] = tag != "0ld0ld00"
    st.vacuum("tv", grace_s=60)
    for p, kept in made.items():
        assert os.path.exists(p) == kept, p
    assert manifest.latest_version(root, "tv") == 1
    assert st.committed_offsets("c", "tv") == {0: 1}


def test_claim_whose_temp_file_is_swept_before_its_link_is_lost(tmp_path, monkeypatch):
    """A vacuum may sweep a losing claim's temp file between its write
    and its link. The claim then reports a loss: it publishes no empty
    version (which would leave the log unreadable) and raises nothing,
    and a commit through it lands intact on its retry."""
    root = str(tmp_path / "store")
    manifest.create(root, "sw", 2)
    real = os.link
    swept = []

    def sweep_then_link(src, dst):
        if not swept:
            swept.append(src)
            os.remove(src)
        return real(src, dst)

    monkeypatch.setattr(manifest.os, "link", sweep_then_link)
    slot = manifest.path(root, "sw", 2)
    assert manifest.claim(slot, {"version": 2}) is False
    assert not os.path.exists(slot)
    assert os.listdir(manifest.log_dir(root, "sw")) == [f"{1:020d}.json"]

    swept.clear()
    m = manifest.commit(root, "sw", 1, lambda m: {**m, "config": {"k": 1}})
    assert len(swept) == 1 and m["version"] == 2
    assert manifest.latest(root, "sw")[1]["config"] == {"k": 1}


def test_vacuum_keeps_live_versions_a_contiguous_run(tmp_path, monkeypatch):
    """latest_version probes upward from the newest version this process
    saw, which finds the newest only while the live versions are a
    contiguous run ending at it. vacuum keeps them so: it removes
    superseded versions oldest first, stops at the first one inside its
    grace window, and a vacuum that dies partway leaves a run too — a
    hint on any live version still resolves to the newest."""
    import time

    root = str(tmp_path / "store")
    st = TopicStore(None, root)
    manifest.create(root, "cv", 2)
    v = 1
    for _ in range(7):
        v = manifest.commit(root, "cv", v, lambda m: m)["version"]
    log = manifest.log_dir(root, "cv")

    def live() -> list[int]:
        return sorted(int(n[:-5]) for n in os.listdir(log) if n.endswith(".json"))

    # versions 1-8, all old except 4: 1-3 go, 4 stops the sweep, 5-7 stay
    old = time.time() - 3600
    for ver in range(1, v + 1):
        if ver != 4:
            os.utime(manifest.path(root, "cv", ver), (old, old))
    st.vacuum("cv", grace_s=60)
    assert live() == [4, 5, 6, 7, 8]

    # a vacuum killed after two removals: oldest first, so no gap
    removed = []
    real = os.remove

    def dies_on_third(p):
        if len(removed) == 2:
            raise RuntimeError("killed")
        removed.append(os.path.basename(p))
        real(p)

    monkeypatch.setattr(os, "remove", dies_on_third)
    with pytest.raises(RuntimeError, match="killed"):
        st.vacuum("cv", grace_s=0)
    monkeypatch.setattr(os, "remove", real)
    assert removed == [f"{4:020d}.json", f"{5:020d}.json"]
    assert live() == [6, 7, 8]

    # a stale hint on the oldest live version probes up to the newest
    manifest._seen[log] = 6
    assert manifest.latest_version(root, "cv") == 8
    assert manifest.commit(root, "cv", 8, lambda m: m)["version"] == 9
