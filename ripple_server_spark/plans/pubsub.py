"""Pub/sub-semantics queries: event-time windows and consumer offsets.

The reference has *no* event time (batching is count-based; SURVEY.md
§2 Table B), so the windowed queries are new surface; the offset
queries reproduce its consumer-cursor semantics exactly. The live
streaming equivalents (readStream/writeStream with the same window
specs) are in ``ripple_server_spark/streaming`` and are pytest-covered;
these batch forms share the window logic and carry the oracles.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ripple_server_spark.catalog import load_table
from ripple_server_spark.functions.scalar import xor_fingerprint48
from ripple_server_spark.plans.registry import query


def _scratch_root(name: str, sf_dir: str) -> str:
    """An emptied scratch directory for one query's topics,
    ``<tmp>/ripple_<name>_<md5(sf_dir)[:12]>``: stable per (query, scale
    factor), so a rerun replaces its own files."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"ripple_{name}_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    shutil.rmtree(root, ignore_errors=True)
    return root


@query(
    "q_tumbling_hourly",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS ws_us,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    bench=True,
    tags=("streaming", "window-time"),
)
def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregate via F.window — the same expression the
    streaming job uses with a watermark (streaming/windows.py). Partial-
    aggregated like any groupBy; the window struct is computed in
    codegen, no shuffle beyond the agg."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_micros(F.col("w.start")).alias("ws_us"), "n", "sum_value")
    )


@query(
    "q_sliding_counts",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)
                    - k * INTERVAL '15 minutes') AS ws_us,
           count(*) AS n
    FROM events
    CROSS JOIN (SELECT unnest(range(4)) AS k) offs
    GROUP BY 1
    """,
    tags=("streaming", "window-time"),
)
def q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide): every event lands in
    exactly 4 windows. Spark's F.window handles replication internally;
    the oracle replicates explicitly via a 4-row cross join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("ws_us"), "n")
    )


@query(
    "q_offsets_fanout",
    oracle="""
    WITH consumers(consumer_id, off) AS (VALUES ('c0', 0), ('c1', 100), ('c2', 500))
    SELECT consumer_id,
           count(e.event_id) AS pending,
           min(e.event_id) AS next_seq
    FROM consumers
    LEFT JOIN events e ON e.event_id >= off
    GROUP BY consumer_id
    """,
    tags=("pubsub",),
)
def q_offsets_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-out pub/sub semantics: every consumer has an independent
    offset and sees the full stream from there (reference: per-consumer
    ZK cursors, internal/broker/consumer/server/core.go:46-63,77-85).
    Pending backlog + next sequence per consumer.

    Scale: the consumer side is 3 rows — broadcast nested-loop against
    the log's pushed-down range scan; with a bucketed log this becomes
    per-bucket tail-file reads, not a full scan."""
    ev = load_table(spark, sf_dir, "events")
    consumers = spark.createDataFrame(
        [("c0", 0), ("c1", 100), ("c2", 500)], ["consumer_id", "off"]
    )
    j = F.broadcast(consumers).join(ev, ev["event_id"] >= consumers["off"], "left")
    return j.groupBy("consumer_id").agg(
        F.count("event_id").alias("pending"),
        F.min("event_id").alias("next_seq"),
    )


@query(
    "q_dense_grid_zerofill",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
      FROM events GROUP BY day, event_type
    )
    SELECT d.day, t.event_type, coalesce(a.n, 0) AS n
    FROM days d CROSS JOIN types t
    LEFT JOIN actual a ON a.day = d.day AND a.event_type = t.event_type
    """,
    tags=("join", "cross", "agg", "reporting"),
)
def q_dense_grid_zerofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense day x type reporting grid with explicit zeros — the
    downstream-dashboard contract that missing combinations are 0, not
    absent. The cross join multiplies two DIMENSION extracts (30 days x
    5 types), never facts; the fact side arrives pre-aggregated through
    a left join. Both dimension sides and the grid broadcast."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        F.to_date("ts").alias("a_day"), F.col("event_type").alias("a_type")
    ).agg(F.count("*").alias("n"))
    grid = days.crossJoin(types)
    return (
        grid.join(
            actual,
            (grid.day == actual.a_day) & (grid.event_type == actual.a_type),
            "left",
        )
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )


@query(
    "q_interarrival_histogram",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id)) AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(floor(ln(gap_s) / ln(4)) AS BIGINT) AS gap_bucket_log4,
           count(*) AS n,
           round(avg(gap_s), 3) AS avg_gap_s
    FROM gaps WHERE gap_s IS NOT NULL AND gap_s > 0
    GROUP BY event_type, gap_bucket_log4
    """,
    tags=("pubsub", "window", "histogram", "timeseries"),
)
def q_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per stream (log4-bucketed) — the
    queue-health metric the reference cannot compute over its opaque
    payloads (it has no event time at all, SURVEY §2). One window
    shuffle on event_type for lag(), then a tiny histogram aggregate;
    the log-scale bucketing is closed-form, not a percentile sketch."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap = (sec - F.lag(sec).over(w)).alias("gap_s")
    gaps = ev.select("event_type", gap).filter(
        F.col("gap_s").isNotNull() & (F.col("gap_s") > 0)
    )
    bucket = F.floor(F.log(F.col("gap_s")) / F.log(F.lit(4.0))).cast("bigint")
    return gaps.groupBy(
        "event_type", bucket.alias("gap_bucket_log4")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.avg("gap_s"), 3).alias("avg_gap_s"),
    )


@query(
    "q_payload_roundtrip",
    oracle="""
    WITH src AS (
      SELECT event_id, user_id, ts,
             unhex(md5('payload:' || CAST(event_id AS VARCHAR))) AS payload
      FROM events
      WHERE event_id < 2000
    ), routed AS (
      SELECT event_id, payload,
             CAST(user_id % 8 AS INT) AS bucket,
             row_number() OVER (PARTITION BY user_id % 8
                                ORDER BY ts, event_id) - 1 AS seq
      FROM src
    )
    SELECT seq, event_id,
           lower(hex(payload)) AS payload_hex,
           CAST(octet_length(payload) AS BIGINT) AS payload_len
    FROM routed
    WHERE bucket = 3 AND seq < 40
    ORDER BY seq
    """,
    tags=("pubsub", "binary", "roundtrip"),
)
def q_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque BINARY payload produce->consume round-trip — the literal
    queue value semantics of the reference (a message is `Id int` +
    `Value []byte`, internal/broker/queue/queue.go:16-19; SubArray read
    queue.go:59-61). Builds deterministic 16-byte payloads from events,
    pushes them through a real TopicStore (parquet log, bucket routing,
    contiguous per-bucket seq), consumes a ranged batch from one bucket
    at offset 0, and exposes the bytes as a hex digest + length so the
    oracle can assert byte-exactness cross-engine (raw BLOB cells repr
    differently in Spark/DuckDB collect paths).

    Scale: the produce is one shuffle of the batch (seq window per
    bucket); the consume is a bucket-pruned, seq-range row-group read —
    identical plan shape to q_consume_offset_range but over binary
    values."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    payload = F.unhex(
        F.md5(F.concat(F.lit("payload:"), F.col("event_id").cast("string")))
    ).alias("payload")
    batch_df = ev.select("event_id", "user_id", "ts", payload)

    root = _scratch_root("payload_roundtrip", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("payloads", n_buckets=8)
    store.produce(batch_df, "payloads", key_col="user_id")
    batch, _next = store.consume("c-roundtrip", "payloads", bucket=3, count=40)
    return batch.select(
        F.col("seq").cast("bigint").alias("seq"),
        "event_id",
        F.lower(F.hex(F.col("payload"))).alias("payload_hex"),
        F.length(F.col("payload")).cast("bigint").alias("payload_len"),
    )


@query(
    "q_fanout_replicas",
    oracle="""
    SELECT CAST(r.replica AS BIGINT) AS replica, count(*) AS n_rows,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' || event_type),
                                   1, 12))::BIGINT) AS content_hash
    FROM events, (SELECT unnest([0, 1, 2]) AS replica) r
    WHERE event_id < 1500
    GROUP BY r.replica
    """,
    tags=("pubsub", "replication"),
)
def q_fanout_replicas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication fan-out parity (A9-A11 semantic): write one batch to
    N=3 replica paths — replaying one replica's write to prove
    idempotence — then read every replica back and fingerprint its
    content (row count + order-independent bit_xor of md5-derived row
    hashes). The oracle states the invariant directly: every replica
    carries exactly the source batch, byte-for-byte. This is the
    observable contract of the reference's leader->follower gossip +
    acks (internal/broker/producer/server/core.go:68-103,
    internal/broker/ack/ack.go) with durability delegated to storage.

    Scale: the fan-out itself is N sequential batch writes (at cluster
    scale, N DistCp-style jobs or storage-level replication); the
    parity check is one union + partial-aggregated groupBy per replica.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1500)
        .select("event_id", "user_id", "event_type", "value", "ts")
    )
    root = _scratch_root("fanout", sf_dir)
    for i in range(3):
        ev.write.mode("overwrite").parquet(f"{root}/rep{i}/batch=0")
    # replayed delivery of the same batch id: overwrite, not append
    ev.write.mode("overwrite").parquet(f"{root}/rep0/batch=0")

    reps = [
        spark.read.parquet(f"{root}/rep{i}").withColumn("replica", F.lit(i))
        for i in range(3)
    ]
    u = reps[0].unionByName(reps[1]).unionByName(reps[2])
    return u.groupBy("replica").agg(
        F.count("*").alias("n_rows"),
        F.expr(
            xor_fingerprint48("concat(cast(event_id as string), ':', event_type)")
        ).alias("content_hash"),
    )


@query(
    "q_topic_time_travel",
    oracle="""
    SELECT 'first_batch' AS snapshot,
           count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT 'latest' AS snapshot,
           count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM events
    """,
    tags=("pubsub", "time-travel", "mvcc", "manifest"),
)
def q_topic_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC time travel on the topic log: produce two batches, COMPACT
    the log between reads, then read the manifest version pinned after
    batch 1 alongside the latest version — the pinned snapshot must
    still equal exactly batch 1 (content-fingerprinted) even though
    compaction rewrote the data layout underneath. This is the
    Delta/Iceberg-style `VERSION AS OF` read the manifest-log commit
    protocol exists to support (reader pins a version; writers only
    ever add manifests).

    Scale: a version read lists the pinned manifest's files — O(files
    in snapshot), no log replay; compaction cost is amortized
    maintenance (sources/maintenance.py)."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    root = _scratch_root("time_travel", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("tt", n_buckets=4)
    store.produce(
        ev.filter(F.col("event_id") % 2 == 0), "tt", key_col="user_id"
    )
    v1, _ = store.latest_manifest("tt")
    store.produce(
        ev.filter(F.col("event_id") % 2 == 1), "tt", key_col="user_id"
    )
    store.compact("tt")

    def snap(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("snapshot"),
            F.count("*").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
            F.expr(xor_fingerprint48("cast(event_id as string)")).alias("ids_hash"),
        )

    pinned = store.read_topic("tt", version=v1)
    latest = store.read_topic("tt")
    return snap(pinned, "first_batch").unionAll(snap(latest, "latest"))


@query(
    "q_consumer_lag",
    oracle="""
    WITH depth AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS bucket, count(*) AS depth
      FROM events WHERE event_id < 2000 GROUP BY 1
    ),
    consumers(consumer_id, bucket, committed) AS (
      VALUES ('fast', 0, 0), ('fast', 1, 25), ('fast', 2, 50), ('fast', 3, 75),
             ('slow', 0, 0), ('slow', 1, 0), ('slow', 2, 0), ('slow', 3, 0)
    )
    SELECT c.consumer_id, CAST(c.bucket AS BIGINT) AS bucket,
           CAST(c.committed AS BIGINT) AS committed,
           d.depth,
           d.depth - c.committed AS lag
    FROM consumers c JOIN depth d ON d.bucket = c.bucket
    """,
    tags=("pubsub", "offsets", "lag", "ops"),
)
def q_consumer_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-lag report: per (consumer, bucket), the gap between the
    committed offset and the bucket's high-water mark — THE operational
    metric of a message queue (the reference tracks exactly this state
    in its per-consumer ZK cursors + bucket queues). Exercises the real
    TopicStore: produce routes by user_id, one consumer commits
    per-bucket offsets, one never commits; lag comes from the store's
    committed_offsets + manifest-served bucket maxima (no log scan).

    Scale: depth is a partial-agg count per bucket; committed offsets
    are O(consumers x buckets) metadata — the report is a broadcast
    join of metadata against the depth aggregate."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    root = _scratch_root("consumer_lag", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("lagtest", n_buckets=4)
    store.produce(
        ev.select("event_id", "user_id", "ts"), "lagtest", key_col="user_id"
    )
    for cid in ("fast", "slow"):
        store.register_consumer(cid, "lagtest")
    for b in range(4):
        store.commit("fast", "lagtest", bucket=b, offset=25 * b)

    depth = (
        store.read_topic("lagtest")
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(F.count("*").alias("depth"))
    )
    committed_rows = [
        (cid, int(b), int(store.committed_offsets(cid, "lagtest").get(b, 0)))
        for cid in ("fast", "slow")
        for b in range(4)
    ]
    consumers = spark.createDataFrame(
        committed_rows, "consumer_id string, bucket bigint, committed bigint"
    )
    return F.broadcast(consumers).join(depth, "bucket").select(
        "consumer_id",
        "bucket",
        "committed",
        "depth",
        (F.col("depth") - F.col("committed")).alias("lag"),
    )


@query(
    "q_topic_schema_evolution",
    oracle="""
    SELECT coalesce(tag, '<pre-evolution>') AS tag,
           count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids
    FROM (
      SELECT event_id, CASE WHEN event_id % 2 = 1 THEN 'v2' END AS tag
      FROM events
    ) GROUP BY 1
    """,
    tags=("pubsub", "schema-evolution", "manifest"),
)
def q_topic_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the topic log, end to end: batch 2 adds a
    column; the snapshot read must surface the union schema with
    pre-evolution rows nulled (Delta/Iceberg semantics) — previously a
    naive single-file-schema read silently DROPPED evolved columns.
    The manifest tracks evolution so un-evolved topics never pay
    footer-merge reads (sources/topics.py read_topic).

    Scale: evolution costs one manifest flag; the merged-footer read is
    O(files in snapshot) and compaction resets it."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    root = _scratch_root("schema_evo", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("evo", n_buckets=4)
    store.produce(
        ev.filter(F.col("event_id") % 2 == 0), "evo", key_col="user_id"
    )
    store.produce(
        ev.filter(F.col("event_id") % 2 == 1).withColumn("tag", F.lit("v2")),
        "evo",
        key_col="user_id",
    )
    return (
        store.read_topic("evo")
        .groupBy(F.coalesce("tag", F.lit("<pre-evolution>")).alias("tag"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
    )


@query(
    "q_session_window_agg",
    bench=True,
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id, count(*) AS n,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
        FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS max_session_events,
           CAST(sum(span_us) AS BIGINT) AS active_us
    FROM per_session GROUP BY user_id
    """,
    tags=("streaming", "session-window", "window-time"),
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats via the NATIVE ``session_window``
    operator (30 min gap) — the same expression the live streaming job
    uses with a watermark (streaming/api.py sessionized), here in
    batch where it is oracle-checkable. Complements q_sessionize_users
    (the lag/islands formulation): this one exercises Spark's built-in
    session merge (a new event extends the session while it starts
    strictly inside the previous event's [ts, ts+gap) window, so a gap
    of exactly 30:00 opens a NEW session — the oracle's ``>=`` islands
    rule).

    Scale: session_window aggregates partially before the shuffle like
    any groupBy (Spark merges per-key session state in the
    ObjectHashAggregate path); the per-user rollup reuses the same
    user_id hash partitioning, so the second aggregate is shuffle-free
    under AQE. Nothing is per-row Python.

    Reference parity: sessions over a per-user event stream are the
    per-consumer fan-out of consumer/server/core.go:77-85 with
    event-time gaps, a capability the count-based reference lacks
    (SURVEY.md §2 Table B, session windows row).
    """
    ev = load_table(spark, sf_dir, "events")
    gap_us = 30 * 60 * 1_000_000
    per_session = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            "n",
            # session_window.end = last event ts + gap, so the active
            # span (last - first) is end - start - gap: exact BIGINT
            # microseconds, no float rounding to disagree with the
            # oracle's epoch_us subtraction
            (
                F.unix_micros(F.col("w.end"))
                - F.unix_micros(F.col("w.start"))
                - F.lit(gap_us)
            ).alias("span_us"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.max("n").cast("bigint").alias("max_session_events"),
        F.sum("span_us").cast("bigint").alias("active_us"),
    )


@query(
    "q_late_data_accounting",
    oracle="""
    WITH arr AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
               max(epoch_us(ts)) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us
        FROM events
    )
    SELECT ws_us,
           count(*) AS n_total,
           CAST(sum(CASE WHEN wm_us - 600000000 > ws_us + 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(sum(CASE WHEN wm_us - 600000000 > ws_us + 3600000000
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM arr GROUP BY ws_us
    """,
    tags=("streaming", "watermark", "late-data"),
)
def q_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting, batch-exact: for each 1-hour
    event-time window, how many rows a streaming aggregation with a
    10-minute watermark would have DROPPED because they arrived (in
    event_id arrival order) after the watermark — max event time seen
    over all PRIOR arrivals minus the delay — had passed the window's
    end. This gives the watermark/late-data surface (previously
    pytest-only: tests/test_streaming.py pins the live drop behavior)
    a driver-checkable oracle row modeling the same eviction rule.

    Scale shape: the arrival-order running max is the global-window
    scale killer done right — the striped two-pass pattern
    (operators/windows.py global_rank): stripe by event_id range
    (width from pipeline6.stripe_width, 2x parallelism stripes),
    running-max WITHIN each stripe in parallel, then one tiny
    stripes-row prefix-max broadcast back. No task ever orders the
    whole table; the O(n) single-task ORDER BY the naive form needs is
    gone. Reference parity: arrival order is the bucket append order
    (internal/broker/queue.go seq assignment); the watermark rule is
    Spark's windowed-aggregation eviction.
    """
    from ripple_server_spark.plans.pipeline6 import stripe_width

    delay_us = 10 * 60 * 1_000_000
    hour_us = 3_600_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    stats = ev.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    lo, hi = stats["lo"], stats["hi"]
    if lo is None:
        lo, hi = 0, 0
    width = stripe_width(lo, hi, spark.sparkContext.defaultParallelism)
    striped = ev.withColumn(
        "_stripe", F.expr(f"(event_id - {lo}) div {width}").cast("bigint")
    )
    # stripes-row table: max event time per stripe, then the EXCLUSIVE
    # prefix max (everything in strictly earlier stripes) — broadcast
    # back, so the cross-stripe dependency costs one tiny join
    smax = striped.groupBy("_stripe").agg(F.max("us").alias("_smax"))
    w_pre = Window.orderBy("_stripe").rowsBetween(Window.unboundedPreceding, -1)
    prefix = smax.select("_stripe", F.max("_smax").over(w_pre).alias("_pmax"))
    # within-stripe running max over arrival order, EXCLUSIVE of the
    # current row (the watermark at arrival is from prior rows only)
    w_in = (
        Window.partitionBy("_stripe")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = F.greatest(
        F.max("us").over(w_in), F.col("_pmax")
    )  # greatest ignores NULLs unless both are NULL (first row overall)
    ws_expr = F.expr(f"us div {hour_us}") * F.lit(hour_us)
    late = (
        F.when(wm - F.lit(delay_us) > ws_expr + F.lit(hour_us), 1)
        .otherwise(0)
        .alias("is_late")
    )
    flagged = striped.join(F.broadcast(prefix), "_stripe").select(
        ws_expr.alias("ws_us"), late
    )
    return flagged.groupBy("ws_us").agg(
        F.count("*").alias("n_total"),
        F.sum("is_late").cast("bigint").alias("n_late"),
        (F.count("*") - F.sum("is_late")).cast("bigint").alias("n_kept"),
    )


@query(
    "q_rollup_incremental",
    # NOT bench-flagged since round 8: this two-produce/two-refresh
    # MAINTENANCE SCENARIO was ~30% of the headline bench total and
    # drowned the ±15% ambient band on the other rows (VERDICT r07
    # item 5). It stays correctness-checked here and measured as a
    # SCALE.md scenario row; the headline bench carries the
    # single-refresh variant q_rollup_refresh_single instead.
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d-%H') AS hour_key,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
    tags=("pubsub", "rollup", "incremental", "materialized-view"),
)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained continuous aggregate under concurrent
    produce: produce half the events into a topic, refresh the
    HourlyRollup, produce the other half (the concurrent writer),
    refresh AGAIN — the second refresh reads only ``seq > hwm`` (the
    log tail) yet the folded table must equal a full recompute over
    everything, which is exactly what the oracle computes from the
    base events table. This is the materialized-view-maintenance
    surface (sources/rollup.py — the reference's never-implemented
    broker cron TODO, internal/broker/broker.go:51,79) earning a
    driver-checked row instead of pytest-only evidence.

    The two batches split by TIME (before/after Jan 16), the realistic
    append pattern — so refresh #2's dynamic partition overwrite
    rewrites ONLY the hours the new slice lands in (~half the month),
    not every hour twice (an id-parity split interleaves every hour
    into both batches and doubles the partition writes; measured 1.5x
    slower at sf0.01's 720 one-row-group hour partitions).

    Scale: refresh #2's cost is bounded by the new slice (only files
    past each bucket's HWM are planned) x affected hours, never a full
    log rescan; the rewrite touches only the partitions whose hours appear
    in the tail (dynamic partition overwrite)."""
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events")
    root = _scratch_root("rollup_inc", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("ri", n_buckets=4)
    roll = HourlyRollup(spark, store, "ri", os.path.join(root, "rollup"))
    cutoff = F.lit("2024-01-16").cast("timestamp")
    store.produce(ev.filter(F.col("ts") < cutoff), "ri", key_col="user_id")
    roll.refresh()
    store.produce(ev.filter(F.col("ts") >= cutoff), "ri", key_col="user_id")
    roll.refresh()  # incremental: folds only the tail past the HWM
    return roll.read().select(
        "hour_key",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


@query(
    "q_topic_increment_read",
    bench=True,
    oracle="""
    SELECT 'increment' AS slice,
           count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS sum_ids,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM events WHERE event_id % 2 = 1
    """,
    tags=("pubsub", "cdf", "incremental", "manifest"),
)
def q_topic_increment_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read on the topic log: produce two batches with
    a manifest version pinned between them, COMPACT (which rewrites the
    physical file layout), then ``read_increment(since_version)`` must
    return EXACTLY the second batch — content-fingerprinted against the
    oracle's recomputation of that batch from the base table. This is
    the Delta-CDF / Iceberg-incremental-scan analog the manifest log's
    seq invariant makes exact (topics.py read_increment: the increment
    is precisely ``seq > maxima[since][bucket]`` per bucket, invariant
    under compaction because compaction rewrites content-identically),
    previously pytest-only (tests/test_topics.py).

    Scale: an incremental consumer reads O(increment), never O(log):
    each bucket opens only the files whose manifest seq range reaches
    past its base maximum, and inside a compacted file the lowest base
    maximum prunes row groups by seq stats; the version pin is one
    manifest read.

    Reference parity: the consumer cursor resume
    (consumer/server/core.go:46-63) done as a table-format contract
    instead of a ZK offset."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    root = _scratch_root("increment", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("ci", n_buckets=4)
    store.produce(ev.filter(F.col("event_id") % 2 == 0), "ci", key_col="user_id")
    v1, _ = store.latest_manifest("ci")
    store.produce(ev.filter(F.col("event_id") % 2 == 1), "ci", key_col="user_id")
    store.compact("ci")  # rewrites layout; the increment must not notice
    inc = store.read_increment("ci", since_version=v1)
    return inc.agg(
        F.lit("increment").alias("slice"),
        F.count("*").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("sum_ids"),
        F.expr(xor_fingerprint48("cast(event_id as string)")).alias("ids_hash"),
    )


@query(
    "q_native_sink_roundtrip",
    bench=True,  # tracks the per-task producer commit path per round
    oracle="""
    SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
           count(*) AS n_rows,
           count(*) - 1 AS max_seq,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                                       || event_type), 1, 12))::BIGINT)
               AS content_hash
    FROM events
    WHERE event_id < 2500
    GROUP BY 1
    """,
    tags=("pubsub", "sink", "datasource", "produce"),
)
def q_native_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 produce at format() tier: ``df.write.format("ripple_topic")``
    — the native DataSource WRITE path (sources/datasink.py), where
    every Spark task is an independent producer committing through the
    optimistic manifest protocol (reference produce:
    internal/broker/producer/server/core.go:21-34). The batch is
    written with 4 contended partitions, read back through the
    DataSource READ side, and fingerprinted per bucket:

    - ``max_seq == n_rows - 1`` proves the per-bucket seq stayed dense
      and gap-free under concurrent task claims (the produce invariant
      every consume/increment path depends on);
    - the xor content hash proves every source row landed exactly once
      (task interleave order is nondeterministic, so the check is
      deliberately order-independent).

    Scale: rows never pass through the driver — each task stages its
    own parquet into the bucket dirs and the only serialized work is
    the O(KB) manifest commit, the same single-leader-log bound the
    reference's broker has."""
    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from ripple_server_spark.sources.topics import TopicStore

    spark.dataSource.register(RippleTopicDataSource)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2500)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    root = _scratch_root("native_sink", sf_dir)
    TopicStore(spark, root).create_topic("ns", n_buckets=8)
    (
        ev.repartition(4)
        .write.format("ripple_topic")
        .mode("append")
        .option("root", root)
        .option("topic", "ns")
        .option("batch_id", "native-sink-roundtrip")
        .save()
    )
    back = (
        spark.read.format("ripple_topic")
        .option("root", root)
        .option("topic", "ns")
        .load()
    )
    return back.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.max("seq").cast("bigint").alias("max_seq"),
        F.expr(
            xor_fingerprint48("concat(cast(event_id as string), ':', event_type)")
        ).alias("content_hash"),
    )


@query(
    "q_rollup_refresh_single",
    bench=True,
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d-%H') AS hour_key,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
    GROUP BY 1, 2
    """,
    tags=("pubsub", "rollup", "materialized-view"),
)
def q_rollup_refresh_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE HourlyRollup refresh over a freshly produced topic — the
    headline-bench form of the materialized-view surface (round 8,
    VERDICT r07 item 5): it times produce + one cold fold + read,
    which tracks the rollup plan's throughput without the two-phase
    maintenance choreography of q_rollup_incremental (that scenario —
    two time-split produces, two refreshes, partition-subset rewrite —
    remains correctness-checked in the registry and measured as a
    SCALE.md scenario row; at sf0.1 it alone was ~30% of the bench
    total and drowned the ambient band on every other row).

    The folded table must equal the oracle's full recompute over the
    base events table — a single refresh over the whole log IS a full
    fold, so the equality is exact by construction.

    Scale: the fold is one groupBy(hour, type) over the topic scan
    (partial aggregation map-side); the write is hour-partitioned
    parquet. Refresh cost ~ new data, the property the incremental
    scenario then exercises across two deltas."""
    from ripple_server_spark.sources.rollup import HourlyRollup
    from ripple_server_spark.sources.topics import TopicStore

    # a 9-day slice (~30% of rows, ~216 hour partitions): the same
    # produce -> fold -> partitioned-write plan at a weight that leaves
    # the headline total readable (the FULL-month double-refresh cost
    # lives in the SCALE.md scenario row)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-10").cast("timestamp")
    )
    root = _scratch_root("rollup_one", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("r1", n_buckets=4)
    roll = HourlyRollup(spark, store, "r1", os.path.join(root, "rollup"))
    store.produce(ev, "r1", key_col="user_id")
    roll.refresh()
    return roll.read().select(
        "hour_key",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


@query(
    "q_subscribe_pattern_counts",
    oracle="""
    WITH sub AS (
      SELECT 'logs_a' AS topic, event_id FROM events WHERE event_id < 700
      UNION ALL
      SELECT 'logs_b' AS topic, event_id FROM events
      WHERE event_id >= 700 AND event_id < 1500
    )
    SELECT topic, count(*) AS n_rows,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM sub GROUP BY topic
    """,
    tags=("pubsub", "datasource", "subscription"),
)
def q_subscribe_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``subscribePattern`` (Kafka parity, round 8): three topics exist
    (logs_a, logs_b, audit), the regex subscribes the two matching ones
    at query start, and the unioned read carries the ``topic``
    attribution column — counted and content-fingerprinted per topic so
    the oracle proves the non-matching topic contributed nothing and
    every matching row arrived exactly once.

    Scale: pattern resolution is one directory listing at plan time;
    the read itself is the same per-bucket partition-parallel scan as a
    fixed-list subscription — no extra shuffle for the attribution
    column (it is a partition-constant)."""
    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from ripple_server_spark.sources.topics import TopicStore

    spark.dataSource.register(RippleTopicDataSource)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = _scratch_root("subpattern", sf_dir)
    store = TopicStore(spark, root)
    slices = {
        "logs_a": ev.filter(F.col("event_id") < 700),
        "logs_b": ev.filter((F.col("event_id") >= 700) & (F.col("event_id") < 1500)),
        "audit": ev.filter(F.col("event_id") >= 99_000_000),  # empty decoy rows ok
    }
    for t, df in slices.items():
        store.create_topic(t, n_buckets=4)
        store.produce(df, t, key_col="user_id")
    # the decoy must hold data the pattern would wrongly include
    store.produce(ev.filter(F.col("event_id") < 50), "audit", key_col="user_id")
    got = (
        spark.read.format("ripple_topic")
        .option("root", root)
        .option("subscribePattern", "logs_.*")
        .load()
    )
    return got.groupBy("topic").agg(
        F.count("*").alias("n_rows"),
        F.expr(xor_fingerprint48("cast(event_id as string)")).alias("ids_hash"),
    )


@query(
    "q_stream_handover_resume",
    oracle="""
    WITH b1 AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS bucket, count(*) AS c1
      FROM events WHERE event_id < 1200 GROUP BY 1
    ),
    b2 AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS bucket, event_id
      FROM events WHERE event_id >= 1200 AND event_id < 1600
    )
    SELECT b2.bucket,
           count(*) AS n_rows,
           CAST(coalesce(any_value(b1.c1), 0) AS BIGINT) AS resume_seq,
           bit_xor(('0x' || substr(md5(CAST(b2.event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM b2 LEFT JOIN b1 USING (bucket)
    GROUP BY b2.bucket
    """,
    tags=("pubsub", "streaming", "offsets", "handover"),
)
def q_stream_handover_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream -> batch-consumer HANDOVER (round 8, the reverse of
    ``start_at=consumer:<id>``): a real AvailableNow streaming query
    drains the topic through the partitioned ``ripple_topic`` source,
    ``commit_stream_position`` writes its checkpoint's committed
    cursors into a consumer group, MORE data is produced, and the
    batch ``consume()`` picks up at exactly the stream's final
    position: the consumed rows are precisely the post-handover batch
    (ids_hash), starting at resume_seq == the pre-handover per-bucket
    row count (seq continuity across the protocol switch, which is the
    whole point of A7/A8 having one offset currency).

    Scale: the handover itself is O(buckets) JSON IO — one offset-WAL
    read + one consumer-offset write; no data moves."""
    from ripple_server_spark.sources.datasource import RippleTopicDataSource
    from ripple_server_spark.sources.topics import TopicStore
    from ripple_server_spark.streaming.api import commit_stream_position

    spark.dataSource.register(RippleTopicDataSource)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = _scratch_root("handover", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("h", n_buckets=4)
    store.produce(ev.filter(F.col("event_id") < 1200), "h", key_col="user_id")
    ckpt = os.path.join(root, "ck")
    q = (
        spark.readStream.format("ripple_topic")
        .option("root", root)
        .option("topic", "h")
        .option("batch_size", 400)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    commit_stream_position(store, ckpt, "h", "takeover")
    store.produce(
        ev.filter((F.col("event_id") >= 1200) & (F.col("event_id") < 1600)),
        "h",
        key_col="user_id",
    )
    parts = []
    for b in range(4):
        batch, _next = store.consume("takeover", "h", bucket=b, count=1_000_000)
        parts.append(batch)
    consumed = parts[0]
    for p in parts[1:]:
        consumed = consumed.unionByName(p)
    return consumed.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("seq").cast("bigint").alias("resume_seq"),
        F.expr(xor_fingerprint48("cast(event_id as string)")).alias("ids_hash"),
    )


@query(
    "q_bucket_expansion",
    oracle="""
    WITH epoch1 AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS bucket, event_id
      FROM events WHERE event_id < 900
    ),
    epoch2 AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS bucket, event_id
      FROM events WHERE event_id >= 900 AND event_id < 1800
    ),
    uni AS (
      SELECT bucket, event_id FROM epoch1
      UNION ALL SELECT bucket, event_id FROM epoch2
    )
    SELECT bucket, count(*) AS n_rows,
           count(*) - 1 AS max_seq,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM uni GROUP BY bucket
    """,
    tags=("pubsub", "ddl", "expansion"),
)
def q_bucket_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count growth as an operation (round 8,
    ``TopicStore.expand_buckets`` — the Kafka add-partitions analog):
    produce one epoch at 2 buckets, expand to 4 in ONE manifest commit
    (no data rebalance), produce a second epoch routed by the new
    count, and fingerprint per bucket. ``max_seq == n_rows - 1`` proves
    every bucket's seq stayed dense across the expansion (old buckets
    continued, new buckets started at 0) — the invariant every
    consume/increment path depends on; the oracle recomputes both
    routing epochs (pmod 2 then pmod 4) from the base table, so a
    rebalance or a routing-epoch mixup would hash-mismatch.

    Scale: the expansion itself is O(KB) metadata — the operational
    cost of raising a topic's parallelism at 100 TB."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = _scratch_root("expand", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("bx", n_buckets=2)
    store.produce(ev.filter(F.col("event_id") < 900), "bx", key_col="user_id")
    store.expand_buckets("bx", 4)
    store.produce(
        ev.filter((F.col("event_id") >= 900) & (F.col("event_id") < 1800)),
        "bx",
        key_col="user_id",
    )
    return (
        store.read_topic("bx")
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.max("seq").cast("bigint").alias("max_seq"),
            F.expr(xor_fingerprint48("cast(event_id as string)")).alias("ids_hash"),
        )
    )


@query(
    "q_consumer_group_drain",
    oracle="""
    SELECT 'grp-' || CAST(CASE WHEN b < 3 THEN 0
                               WHEN b < 6 THEN 1
                               ELSE 2 END AS VARCHAR) AS member,
           count(*) AS n_rows,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                                       || event_type), 1, 12))::BIGINT)
               AS content_hash
    FROM (
        SELECT coalesce(user_id, 0) % 8 AS b, event_id, event_type
        FROM events WHERE event_id < 2000
    )
    GROUP BY 1
    """,
    tags=("pubsub", "consumer", "group", "assignor"),
)
def q_consumer_group_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-GROUP drain via the range assignor
    (TopicStore.assign_buckets — extension beyond the reference's
    fan-out-only consumers, /consumers/<id> core.go:77-85): three
    members split an 8-bucket topic into contiguous runs ([0-2],
    [3-5], [6-7] — Kafka's range assignor), each member consume()s
    ONLY its owned buckets and makes a fenced group commit, and the
    per-member xor fingerprint proves the group collectively saw every
    produced row exactly once with zero overlap: any row delivered to
    two members (or none) flips exactly one member's hash vs the
    oracle's bucket->member recomputation.

    Scale: each consume is a bucket-pruned tail read (partition filter
    + seq row-group floor); the range split is a pure function of
    (n_buckets, group, n_members), recorded once in the group's entry
    of the topic's consumer-state log by one commit. The members make
    fenced commits (group_id + generation), which store the offsets in
    that entry, per (group, bucket); an ungated commit by a member is
    refused."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    root = _scratch_root("group_drain", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("gd", n_buckets=8)
    store.produce(ev, "gd", key_col="user_id")
    assignment = store.assign_buckets("gd", "grp", 3)
    gen = store.group_state("gd", "grp")["generation"]
    drained = []
    for member, buckets in assignment.items():
        for b in buckets:
            batch, nxt = store.consume(member, "gd", bucket=b, count=1_000_000)
            store.commit(member, "gd", b, nxt, group_id="grp", generation=gen)
            drained.append(
                batch.select("event_id", "event_type").withColumn(
                    "member", F.lit(member)
                )
            )
    out = drained[0]
    for d in drained[1:]:
        out = out.unionByName(d)
    return out.groupBy("member").agg(
        F.count("*").alias("n_rows"),
        F.expr(
            xor_fingerprint48("concat(cast(event_id as string), ':', event_type)")
        ).alias("content_hash"),
    )


@query(
    "q_topic_sql_view",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           bit_xor(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT)
               AS ids_hash
    FROM events WHERE event_id < 1500
    GROUP BY event_type
    """,
    tags=("pubsub", "sql", "catalog", "view"),
)
def q_topic_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DDL access to a topic log (catalog.register_topic_view —
    the supported path around Spark's CREATE TABLE ... USING
    <python-datasource> OPTIONS hole, where OPTIONS never reach the
    Python reader at scan time): produce a batch, register the view,
    and aggregate it with spark.sql as an ordinary table. The xor
    fingerprint proves the SQL plan saw exactly the produced rows
    through the DataSource read path (bucket files from the manifest,
    not directory listing).

    Scale: the view is a plan wrapper — filters/projections written in
    SQL still push into the DataSource scan exactly as through the
    DataFrame reader."""
    from ripple_server_spark.catalog import register_topic_view
    from ripple_server_spark.sources.topics import TopicStore

    # no dataSource.register here: register_topic_view self-registers —
    # the zero-prerequisite property this query exists to demonstrate
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1500)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    root = _scratch_root("sql_view", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("sv", n_buckets=8)
    store.produce(ev, "sv")
    register_topic_view(spark, root, "sv", view="ripple_sql_view_t")
    return spark.sql(
        f"""
        SELECT event_type,
               count(*) AS n_rows,
               {xor_fingerprint48("cast(event_id as string)")} AS ids_hash
        FROM ripple_sql_view_t
        GROUP BY event_type
        """
    )


@query(
    "q_seek_to_timestamp",
    oracle="""
    WITH routed AS (
      SELECT CAST(coalesce(user_id, 0) % 8 AS BIGINT) AS bucket,
             event_id, ts
      FROM events WHERE event_id < 3000
    )
    SELECT bucket,
           CAST(sum(CASE WHEN epoch_ms(ts) < 1705276800000 THEN 1 ELSE 0 END)
               AS BIGINT) AS start_seq,
           CAST(sum(CASE WHEN epoch_ms(ts) >= 1705276800000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rows,
           coalesce(bit_xor(CASE WHEN epoch_ms(ts) >= 1705276800000
               THEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
               END), 0) AS ids_hash
    FROM routed GROUP BY bucket
    """,
    tags=("pubsub", "consumer", "timestamp", "seek"),
)
def q_seek_to_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-anchored consumer positioning (Kafka offsetsForTimes +
    seek, TopicStore.offsets_for_times/seek_to_timestamp): produce a
    month of events, seek a consumer to 2024-01-15T00:00Z, and verify
    the committed offsets land on EXACTLY the first at/after-T message
    per bucket. The oracle recomputes both sides from first
    principles: start_seq must equal the count of before-T rows (seq
    order IS (ts, event_id) order per bucket — the produce invariant
    that makes time seeks exact), and the from-offset read must hash
    to exactly the at/after-T rows. The emitted rows come from the
    COMMITTED offsets joined back against the log, not from a ts
    filter, so a wrong offset surfaces as a hash/count mismatch.

    Scale: offsets_for_times runs no Spark job — one driver-side scan
    per bucket with the ts predicate pushed in (row-group pruning below
    T) and min(seq) folded over its batches; the replay read is
    bucket-pruned with the seq floor in row-group stats."""
    from ripple_server_spark.sources.topics import TopicStore

    T_MS = 1705276800000  # 2024-01-15T00:00:00Z
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    root = _scratch_root("seek_ts", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("tt", n_buckets=8)
    store.produce(ev, "tt", key_col="user_id")
    offsets = store.seek_to_timestamp("time-traveler", "tt", T_MS)
    # read FROM the committed offsets (broadcast the 8-row offset map),
    # not from a ts filter — this is what proves the seek landed right
    off_df = spark.createDataFrame(
        [(b, o) for b, o in sorted(offsets.items())], "bucket int, start_seq long"
    )
    log = store.read_topic("tt")
    return (
        log.join(F.broadcast(off_df), "bucket")
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.first("start_seq").alias("start_seq"),
            F.sum(F.when(F.col("seq") >= F.col("start_seq"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_rows"),
            F.coalesce(
                F.expr(
                    "bit_xor(CASE WHEN seq >= start_seq THEN "
                    "cast(conv(substring(md5(cast(event_id as string)), 1, 12), 16, 10) as bigint)"
                    " END)"
                ),
                F.lit(0).cast("bigint"),
            ).alias("ids_hash"),
        )
    )


@query(
    "q_retention_by_time",
    oracle="""
    WITH routed AS (
      SELECT CAST(coalesce(user_id, 0) % 8 AS BIGINT) AS bucket,
             event_id, ts
      FROM events WHERE event_id < 3000
    )
    SELECT bucket,
           CAST(sum(CASE WHEN epoch_ms(ts) < 1705276800000 THEN 1 ELSE 0 END)
               AS BIGINT) AS floor_seq,
           CAST(sum(CASE WHEN epoch_ms(ts) >= 1705276800000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
           coalesce(bit_xor(CASE WHEN epoch_ms(ts) >= 1705276800000
               THEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
               END), 0) AS ids_hash
    FROM routed GROUP BY bucket
    """,
    tags=("pubsub", "retention", "timestamp", "maintenance"),
)
def q_retention_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based retention end-to-end (Kafka retention.ms,
    TopicStore.truncate_before_timestamp): produce a month of events
    as two time-split waves, age out everything before
    2024-01-15T00:00Z, and verify from the SURVIVING LOG that (a) the
    per-bucket retained floor equals the count of pre-T rows (seq
    order is (ts, event_id) per bucket, so pre-T rows occupy exactly
    seqs [0, floor)), (b) exactly the at/after-T rows survive, hashed
    row-by-row. The emitted rows come from the post-retention manifest
    state — a floor that rose too far or a file wrongly retained
    surfaces as a count/hash mismatch.

    Scale: retention is O(manifest) + one pushed offsets_for_times
    driver scan of [ts, seq] (no Spark job) + manifest seq-range file
    drops — no data is rewritten; vacuum does physical deletion
    later."""
    from ripple_server_spark.sources.topics import TopicStore

    T_MS = 1705276800000  # 2024-01-15T00:00:00Z
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    root = _scratch_root("ret_time", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("rt", n_buckets=8)
    t_lit = F.timestamp_millis(F.lit(T_MS))
    store.produce(ev.filter(F.col("ts") < t_lit), "rt", key_col="user_id")
    store.produce(ev.filter(F.col("ts") >= t_lit), "rt", key_col="user_id")
    store.truncate_before_timestamp("rt", T_MS)
    floors = store._bucket_floors("rt")
    floor_df = spark.createDataFrame(
        [(b, f) for b, f in sorted(floors.items())], "bucket int, floor_seq long"
    )
    live = store.read_topic("rt")
    return (
        live.join(F.broadcast(floor_df), "bucket", "right")
        .groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.first("floor_seq").alias("floor_seq"),
            F.count("event_id").cast("bigint").alias("n_retained"),
            F.coalesce(
                F.expr(
                    "bit_xor(cast(conv(substring(md5(cast(event_id as string)), 1, 12), 16, 10) as bigint))"
                ),
                F.lit(0).cast("bigint"),
            ).alias("ids_hash"),
        )
    )


@query(
    "q_topic_key_compaction",
    oracle="""
    WITH src AS (
      SELECT event_id, ts, user_id, (event_id % 3) AS wave
      FROM events WHERE event_id < 3000
    ),
    ranked AS (
      SELECT event_id, user_id,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY wave DESC, ts DESC, event_id DESC) AS rn
      FROM src
    ),
    latest AS (
      SELECT event_id, user_id FROM ranked WHERE user_id IS NULL OR rn = 1
    )
    SELECT CAST(coalesce(user_id, 0) % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
           coalesce(bit_xor(
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
           ), 0) AS ids_hash
    FROM latest GROUP BY 1
    """,
    tags=("pubsub", "compaction", "cdc", "maintenance"),
)
def q_topic_key_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY compaction end-to-end (Kafka ``cleanup.policy=compact``,
    TopicStore.compact_by_key — the storage-side counterpart of
    q_cdc_apply's read-side latest-per-key): produce three waves of
    events keyed by user_id (wave = event_id % 3, so most keys carry
    multiple versions), compact, and fingerprint the SURVIVING LOG
    per bucket. Latest-wins is deterministic end-to-end: wave k's
    produce lands after wave k-1 (higher seqs), and within a wave seq
    order is (ts, event_id) per bucket — so the surviving row per key
    is exactly the oracle's rank-1 under (wave, ts, event_id) DESC.
    NULL keys are retained, never collapsed (Kafka rejects unkeyed
    writes on compacted topics; retain-all is the safe analog), which
    the oracle mirrors with ``user_id IS NULL OR rn = 1``.

    Scale: one map-side-combined max_by shuffle over the live log
    (never all rows to one node), one bucket-partitioned rewrite;
    pinned readers keep the old snapshot until vacuum. A count/hash
    mismatch here means a superseded row survived or a latest row was
    dropped."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    root = _scratch_root("key_compact", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("kc", n_buckets=8)
    for w in range(3):
        store.produce(ev.filter(F.col("event_id") % 3 == w), "kc")
    store.compact_by_key("kc", key_col="user_id")
    live = store.read_topic("kc")
    return live.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("event_id").cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_keys"),
        F.coalesce(
            F.expr(
                "bit_xor(cast(conv(substring(md5(cast(event_id as string)), 1, 12), 16, 10) as bigint))"
            ),
            F.lit(0).cast("bigint"),
        ).alias("ids_hash"),
    )


@query(
    "q_topic_tombstone_compaction",
    oracle="""
    WITH src AS (
      SELECT event_id, ts, user_id, coalesce(value, 0.0) AS value2
      FROM events WHERE event_id < 2000
    ),
    ranked AS (
      SELECT event_id, user_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM src
    ),
    latest AS (
      SELECT event_id, user_id FROM ranked WHERE user_id IS NULL OR rn = 1
    ),
    kept AS (
      SELECT * FROM latest WHERE user_id IS NULL OR user_id % 3 <> 0
    )
    SELECT CAST(coalesce(user_id, 0) % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
           coalesce(bit_xor(
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
           ), 0) AS ids_hash
    FROM kept GROUP BY 1
    """,
    tags=("pubsub", "compaction", "cdc", "tombstone", "maintenance"),
)
def q_topic_tombstone_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka null-value TOMBSTONES through storage-side key compaction
    (TopicStore.compact_by_key(tombstone_col=...)): wave 1 upserts
    every event keyed by user_id (values coalesced non-null), wave 2
    produces one NULL-value delete per user_id % 3 == 0, and the
    compacted log must hold exactly latest-per-key for the surviving
    keys — deleted keys vanish entirely (older versions AND the
    tombstone itself), the immediate delete.retention.ms=0 semantics.
    The oracle recomputes latest-per-(ts, event_id) per key and drops
    the tombstoned key set; a hash mismatch means a deleted key
    survived, a tombstone row leaked, or a latest row was lost.

    Scale: same single map-side-combined max_by shuffle as
    q_topic_key_compaction plus a survivors filter — tombstone cost is
    O(live keys), never a second pass."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(
            "event_id",
            "ts",
            "user_id",
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value2"),
        )
    )
    dels = (
        ev.filter(F.col("user_id").isNotNull() & (F.col("user_id") % 3 == 0))
        .select("user_id")
        .distinct()
        .select(
            (F.lit(100000) + F.col("user_id")).alias("event_id"),
            F.timestamp_millis(
                F.lit(1706745600000) + F.col("user_id") * 1000
            ).alias("ts"),
            "user_id",
            F.lit(None).cast("double").alias("value2"),
        )
    )
    root = _scratch_root("tombstone", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("tk", n_buckets=8)
    store.produce(ev, "tk")
    store.produce(dels, "tk")
    store.compact_by_key("tk", key_col="user_id", tombstone_col="value2")
    live = store.read_topic("tk")
    return live.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("event_id").cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_keys"),
        F.coalesce(
            F.expr(
                "bit_xor(cast(conv(substring(md5(cast(event_id as string)), 1, 12), 16, 10) as bigint))"
            ),
            F.lit(0).cast("bigint"),
        ).alias("ids_hash"),
    )


@query(
    "q_topic_tombstone_retention",
    oracle="""
    WITH src AS (
      SELECT event_id, ts, user_id, coalesce(value, 0.0) AS value2
      FROM events WHERE event_id < 2000
    ),
    dels AS (
      SELECT DISTINCT
             100000 + ((user_id % 1000) + 1000) % 1000 AS event_id,
             user_id
      FROM src WHERE user_id IS NOT NULL AND user_id % 3 = 0
    ),
    ranked AS (
      SELECT event_id, user_id, value2, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM src WHERE user_id IS NOT NULL
    ),
    within_rows AS (
      -- markers are the seq-latest of their keys BY CONSTRUCTION (the
      -- delete batch is produced after the upsert batch), so they are
      -- the within-window survivors; other keys keep their in-batch
      -- (ts, event_id)-latest; null-key rows pass through per-row
      SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value2 FROM dels
      UNION ALL
      SELECT event_id, user_id, value2 FROM ranked
      WHERE rn = 1 AND user_id % 3 <> 0
      UNION ALL
      SELECT event_id, user_id, value2 FROM src WHERE user_id IS NULL
    ),
    phased AS (
      SELECT 'within' AS phase, * FROM within_rows
      UNION ALL
      SELECT 'after' AS phase, * FROM within_rows
      WHERE user_id IS NULL OR value2 IS NOT NULL
    ),
    agg AS (
      SELECT phase,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(CASE WHEN user_id IS NOT NULL AND value2 IS NULL
                             THEN 1 END) AS BIGINT) AS n_markers,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
             coalesce(bit_xor(
                 ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT
             ), 0) AS ids_hash
      FROM phased GROUP BY 1
    )
    SELECT p.phase,
           coalesce(a.n_rows, 0) AS n_rows,
           coalesce(a.n_markers, 0) AS n_markers,
           coalesce(a.n_keys, 0) AS n_keys,
           coalesce(a.ids_hash, 0) AS ids_hash
    FROM (VALUES ('within'), ('after')) p(phase)
    LEFT JOIN agg a ON a.phase = p.phase
    """,
    tags=("pubsub", "compaction", "cdc", "tombstone", "maintenance"),
)
def q_topic_tombstone_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka ``delete.retention.ms`` through storage-side key
    compaction (compact_by_key(tombstone_retention_ms=...), VERDICT
    r10 item 4): upserts + one NULL-value delete per user_id % 3 == 0
    key, then the TWO-PASS tombstone lifecycle —

    - pass 1 compacts with a 200-YEAR window: each tombstoned key's
      history collapses to the delete MARKER, which stays readable
      (phase 'within' — a lagging consumer still observes the delete);
    - pass 2 compacts with a 1 ms window: the markers' 2024 event time
      is long past, so they are removed (phase 'after' — the keys are
      gone entirely, the q_topic_tombstone_compaction end state).

    Both phases are read from pinned snapshots and aggregated with a
    phase tag; the oracle derives phase 'within' as {each tombstoned
    key's marker} ∪ {other keys' in-batch latest} ∪ {null-key rows}
    and 'after' by dropping the markers, then left-joins onto a
    two-phase dimension so both engines emit exactly two rows even on
    empty or degenerate inputs. Markers carry a FIXED 2024 event time
    and a pmod-bounded synthetic id, so the result does not depend on
    how regime-generated source timestamps or key magnitudes compare
    to the marker's (the marker is its key's seq-latest by
    construction: the delete batch is produced second). Deterministic
    until year ~2224 (wall clock enters only via now - window against
    the fixed 2024 marker time; both windows sit decades from the
    boundary). A mismatch means a marker leaked past its window, was
    dropped inside it, or took non-latest history with it.

    Scale: two cleaner passes, each the same single map-side-combined
    max_by shuffle as q_topic_key_compaction — the retention filter is
    a codegen predicate on the survivor set, never a second pass over
    the log."""
    from ripple_server_spark.sources.topics import TopicStore

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select(
            "event_id",
            "ts",
            "user_id",
            F.coalesce(F.col("value"), F.lit(0.0)).alias("value2"),
        )
    )
    dels = (
        ev.filter(F.col("user_id").isNotNull() & (F.col("user_id") % 3 == 0))
        .select("user_id")
        .distinct()
        .select(
            # pmod-bounded synthetic id + FIXED 2024 event time: immune
            # to extreme key magnitudes (no overflow) and to source
            # timestamps on either side of the marker's
            (F.lit(100000) + F.pmod(F.col("user_id"), F.lit(1000))).alias(
                "event_id"
            ),
            F.timestamp_millis(F.lit(1706745600000)).alias("ts"),
            "user_id",
            F.lit(None).cast("double").alias("value2"),
        )
    )
    root = _scratch_root("tombret", sf_dir)
    store = TopicStore(spark, root)
    store.create_topic("tr", n_buckets=8)
    store.produce(ev, "tr")
    store.produce(dels, "tr")

    two_hundred_years_ms = 200 * 365 * 86_400_000
    store.compact_by_key(
        "tr",
        key_col="user_id",
        tombstone_col="value2",
        tombstone_retention_ms=two_hundred_years_ms,
    )
    within = store.read_topic("tr")  # pinned snapshot: markers present
    store.compact_by_key(
        "tr", key_col="user_id", tombstone_col="value2",
        tombstone_retention_ms=1,
    )
    after = store.read_topic("tr")

    def phase_agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.count("event_id").cast("bigint").alias("n_rows"),
            F.count(
                F.when(
                    F.col("user_id").isNotNull() & F.col("value2").isNull(), 1
                )
            )
            .cast("bigint")
            .alias("n_markers"),
            F.countDistinct("user_id").cast("bigint").alias("n_keys"),
            F.coalesce(
                F.expr(
                    "bit_xor(cast(conv(substring(md5(cast(event_id as string)), 1, 12), 16, 10) as bigint))"
                ),
                F.lit(0).cast("bigint"),
            ).alias("ids_hash"),
        ).select(F.lit(phase).alias("phase"), "*")

    return phase_agg(within, "within").unionByName(phase_agg(after, "after"))
