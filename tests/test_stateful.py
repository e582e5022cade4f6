"""applyInPandasWithState cursor-tracker tests: state persists across
micro-batches and detects FIFO gaps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.sources.topics import TopicStore
from ripple_server_spark.streaming.stateful import delivery_cursor
from tests.conftest import batches_with_rows, topic_stream


@pytest.fixture()
def store(spark, sf_dir, tmp_path):
    st = TopicStore(spark, str(tmp_path / "topics"))
    st.create_topic("st1", n_buckets=4)
    st.produce(load_table(spark, sf_dir, "events").limit(200), "st1")
    return st


def test_cursor_tracks_full_log_without_gaps(spark, store, sf_dir, tmp_path):
    # a second produce wave after the first is processed forces a second
    # micro-batch -> state must carry across them.
    q = (
        delivery_cursor(topic_stream(store, "st1"))
        .writeStream.format("memory")
        .queryName("m_cursor")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        store.produce(load_table(spark, sf_dir, "events").limit(100), "st1")
        q.processAllAvailable()
        assert batches_with_rows(q) >= 2
    finally:
        q.stop()
    # last update per bucket = final cursor
    final = spark.sql(
        """
        SELECT bucket, delivered, max_seq, gaps FROM (
          SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY delivered DESC) rn
          FROM m_cursor
        ) WHERE rn = 1
        """
    ).collect()
    depths = {
        r["bucket"]: r["n"]
        for r in store.read_topic("st1").groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert {r["bucket"] for r in final} == set(depths)
    for r in final:
        assert r["delivered"] == depths[r["bucket"]]
        assert r["max_seq"] == depths[r["bucket"]] - 1  # contiguous log
        assert r["gaps"] == 0


def test_cursor_detects_gaps(spark, store, tmp_path):
    # stream a filtered view that drops some sequences -> gaps > 0
    src = topic_stream(store, "st1").filter(F.col("seq") % 3 != 1)
    q = (
        delivery_cursor(src)
        .writeStream.format("memory")
        .queryName("m_gap")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT max(gaps) g FROM m_gap").collect()
    assert rows[0]["g"] > 0


def test_ttl_dedup_groupstate_first_occurrence_only(spark, store, tmp_path):
    """GroupState TTL dedup: replaying the same log twice must emit each
    event_id exactly once."""
    from ripple_server_spark.streaming.stateful import dedup_stream_ttl_groupstate

    src = topic_stream(store, "st1")
    doubled = src.unionByName(src)  # two deliveries of every row
    # ttl_ms=None: finite drain (armed TTL timers would keep the query
    # busy forever under availableNow — see the operator docstring; the
    # TTL lifecycle itself is unit-tested below)
    q = (
        dedup_stream_ttl_groupstate(doubled, ttl_ms=None)
        .writeStream.format("memory")
        .queryName("m_ttl_gs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ttl_gs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM m_ttl_gs")
    log = store.read_topic("st1")
    assert out.count() == log.count()
    assert out.select("event_id").distinct().count() == out.count()


class _StubState:
    """Minimal GroupState double recording the TTL dedup's transitions."""

    def __init__(self, exists=False, timed_out=False):
        self.exists = exists
        self.hasTimedOut = timed_out
        self.removed = False
        self.updated = None
        self.timeout_set = None

    @property
    def get(self):
        return (1,)

    def update(self, v):
        self.updated = v
        self.exists = True

    def remove(self):
        self.removed = True
        self.exists = False

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_ttl_lifecycle_transitions():
    """TTL semantics unit-checked: fresh key emits once and arms the
    clock; duplicate emits nothing but re-arms; expiry removes state;
    a post-expiry arrival emits again (the at-least-once window TTL
    deliberately reopens)."""
    import pandas as pd

    from ripple_server_spark.streaming.stateful import ttl_dedup_fn

    fn = ttl_dedup_fn(5000)
    pdf = pd.DataFrame(
        {"event_id": [7], "ts": [pd.Timestamp("2026-01-01")],
         "user_id": [1], "value": [2.0]}
    )

    fresh = _StubState()
    out = list(fn((7,), iter([pdf]), fresh))
    assert len(out) == 1 and out[0]["event_id"].iloc[0] == 7
    assert fresh.updated == (1,) and fresh.timeout_set == 5000

    dup = _StubState(exists=True)
    assert list(fn((7,), iter([pdf]), dup)) == []
    assert dup.timeout_set == 5000 and not dup.removed  # re-armed

    expired = _StubState(exists=True, timed_out=True)
    assert list(fn((7,), iter([]), expired)) == []
    assert expired.removed

    again = _StubState()  # state gone after expiry -> emits again
    assert len(list(fn((7,), iter([pdf]), again))) == 1


# --------------------------------------------------------------------------
# Streaming leader watch (A12 watch/re-elect)
# --------------------------------------------------------------------------


class _LeaderStub:
    """GroupState double for leader_watch_fn."""

    def __init__(self, value=None):
        self.exists = value is not None
        self._value = value
        self.updated = None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self.updated = v
        self.exists = True


def test_leader_watch_lifecycle_transitions():
    """elect -> steady-state silence -> leader removal re-elects ->
    last member leaving vacates the seat (leader -1)."""
    import json

    import pandas as pd

    from ripple_server_spark.streaming.stateful import leader_watch_fn

    def batch(rows):
        return iter([pd.DataFrame(rows, columns=["member", "seq", "alive"])])

    # initial election: lowest registration seq wins
    s = _LeaderStub()
    out = list(leader_watch_fn((0,), batch([(10, 0, True), (11, 1, True), (12, 2, True)]), s))
    assert len(out) == 1
    r = out[0].iloc[0]
    assert (r["leader"], r["leader_seq"], r["epoch"], r["n_members"]) == (10, 0, 1, 3)

    # steady state (another member joins with a higher seq): no emission
    s2 = _LeaderStub(value=s.updated)
    assert list(leader_watch_fn((0,), batch([(13, 3, True)]), s2)) == []
    assert json.loads(s2.updated[0]) == {"10": 0, "11": 1, "12": 2, "13": 3}

    # leader leaves -> re-election in the same batch epoch
    s3 = _LeaderStub(value=s2.updated)
    out = list(leader_watch_fn((0,), batch([(10, 4, False)]), s3))
    r = out[0].iloc[0]
    assert (r["leader"], r["leader_seq"], r["epoch"]) == (11, 1, 2)

    # everyone leaves -> seat vacated
    s4 = _LeaderStub(value=s3.updated)
    out = list(
        leader_watch_fn((0,), batch([(11, 5, False), (12, 6, False), (13, 7, False)]), s4)
    )
    r = out[0].iloc[0]
    assert (r["leader"], r["epoch"], r["n_members"]) == (-1, 3, 0)


def test_leader_watch_reelects_after_leader_removal(spark, tmp_path):
    """End-to-end A12: membership deltas flow through a topic; the
    watch elects the lowest-seq member, then a later micro-batch
    carrying the leader's departure triggers re-election (the
    election.go:85-108 watch path). The removal is produced after the
    registrations were processed, so it lands in its own micro-batch
    and the state must carry the roster across batches. The query
    starts after the first produce, so it reads the topic's recorded
    membership schema."""
    from ripple_server_spark.streaming.stateful import leader_watch

    st = TopicStore(spark, str(tmp_path / "topics"))
    st.create_topic("elect", n_buckets=2)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, group long, member long, alive boolean"
        )

    import datetime

    t0 = datetime.datetime(2026, 1, 1)

    def ts(i):
        return t0 + datetime.timedelta(seconds=i)

    # epoch 1: three members register in each of two groups
    st.produce(
        mk(
            [(i, ts(i), g, 10 * (g + 1) + i, True) for g in (0, 1) for i in range(3)]
        ),
        "elect",
        key_col="group",
    )
    q = (
        leader_watch(topic_stream(st, "elect"))
        .writeStream.format("memory")
        .queryName("m_leader")
        .option("checkpointLocation", str(tmp_path / "ckpt_leader"))
        .start()
    )
    try:
        q.processAllAvailable()
        # epoch 2: both leaders (lowest-seq members: *0) crash/leave
        st.produce(
            mk([(100, ts(100), 0, 10, False), (101, ts(101), 1, 20, False)]),
            "elect",
            key_col="group",
        )
        q.processAllAvailable()
        assert batches_with_rows(q) >= 2
    finally:
        q.stop()
    rows = {
        (r["group"], r["epoch"]): r
        for r in spark.sql("SELECT * FROM m_leader").collect()
    }
    # each group: initial election then a re-election epoch
    for g in (0, 1):
        first = rows[(g, 1)]
        second = rows[(g, 2)]
        assert first["leader"] == 10 * (g + 1)  # lowest registration seq
        assert second["leader"] == 10 * (g + 1) + 1  # next-lowest takes over
        assert second["n_members"] == 2


def test_rate_limit_fn_transitions():
    """Unit-level token-bucket transitions (no engine): drain the
    budget, get denied, recover by event-time refill, cap at
    capacity."""
    import datetime as dt

    import pandas as pd

    from ripple_server_spark.streaming.stateful import rate_limit_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run(rows, state):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "user_id": [1] * len(rows),
                "ts": [base + dt.timedelta(seconds=r[1]) for r in rows],
            }
        )
        fn = rate_limit_fn(capacity=3, refill_per_sec=1)
        out = pd.concat(list(fn((1,), iter([pdf]), state)))
        return list(out["allowed"]), state

    # burst of 5 at t=0: first 3 allowed (capacity), rest denied
    allowed, st = run([(i, 0) for i in range(5)], FakeState())
    assert allowed == [True, True, True, False, False]
    # 2 seconds later: 2 tokens refilled -> 2 allowed then denied
    allowed, st = run([(10, 2), (11, 2), (12, 2)], st)
    assert allowed == [True, True, False]
    # long idle: refill caps at capacity (3), not idle*rate
    allowed, _ = run([(i + 20, 1000) for i in range(4)], st)
    assert allowed == [True, True, True, False]


def test_rate_limit_stream_marks_bursts(spark, tmp_path):
    """End-to-end: a keyed burst beyond the bucket is marked deferred;
    a slow key stays fully allowed. State carries across micro-batches
    (each produce is processed as its own batch)."""
    import datetime as dt

    from pyspark.sql import types as T

    from ripple_server_spark.streaming.stateful import rate_limit_stream

    st = TopicStore(spark, str(tmp_path / "rl_topics"))
    st.create_topic("rl", n_buckets=2)
    base = dt.datetime(2024, 1, 1)
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
            [(i, base + dt.timedelta(seconds=s), u, "click", 1.0, "{}") for i, s, u in rows],
            schema,
        )

    # user 1: 6 events in one second (bucket=3 -> 3 deferred);
    # user 2: 3 events spread over minutes (all allowed)
    st.produce(mk([(i, 0, 1) for i in range(6)]), "rl", key_col="user_id")
    q = (
        rate_limit_stream(topic_stream(st, "rl"), capacity=3, refill_per_sec=1)
        .writeStream.format("memory")
        .queryName("m_rate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_rate"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch, 10 s later: user 1 refilled 3 tokens at 1/s (cap 3)
        st.produce(
            mk([(10, 10, 1), (11, 10, 1), (12, 10, 1), (13, 10, 1)]
               + [(20, 0, 2), (21, 60, 2), (22, 120, 2)]),
            "rl",
            key_col="user_id",
        )
        q.processAllAvailable()
        assert batches_with_rows(q) >= 2
    finally:
        q.stop()
    rows = {
        r["event_id"]: r["allowed"]
        for r in spark.sql("SELECT event_id, allowed FROM m_rate").collect()
    }
    burst1 = [rows[i] for i in range(6)]
    assert burst1.count(True) == 3 and burst1.count(False) == 3
    # batch 2, user 1: 3 refilled tokens -> 3 allowed, 1 deferred
    burst2 = [rows[i] for i in (10, 11, 12, 13)]
    assert burst2.count(True) == 3 and burst2.count(False) == 1
    # user 2 never exceeds the budget
    assert rows[20] and rows[21] and rows[22]
