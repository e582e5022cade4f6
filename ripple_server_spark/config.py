"""Engine tunables — the Spark analog of the reference's ``config.toml``.

The reference (ripple-mq/ripple-server) centralizes its capacity knobs in
``config.toml`` (replica count, channel capacities, batch sizes — see
BASELINE.md §A). Our engine's knobs are query-shape parameters; transport
and replication knobs have no equivalent because durability is delegated
to the storage layer (parquet/Delta) and scheduling to Spark.
"""

from __future__ import annotations

import os

# Bucket routing: the reference shards a topic into named buckets and
# routes by key (internal/topic/topic.go:12-25). We route events with
# bucket = pmod(user_id, N_BUCKETS). 8 buckets at test scale; at 100 TB
# this is the topic's partition count (hundreds to thousands).
N_BUCKETS = 8

# Replication factor the reference hard-codes (config.toml:12). Kept for
# the fan-out-write analog (streaming.sink.fanout_write); real durability
# comes from the storage layer.
DEFAULT_REPLICAS = 3

# MinHash near-dup parameters: 16 permutations in 4 bands of 4 rows.
# Detection threshold ~ (1/bands)^(1/rows) ≈ 0.71 similarity; verified
# candidates are kept at JACCARD_THRESHOLD.
MINHASH_PERMS = 16
MINHASH_BANDS = 4
JACCARD_THRESHOLD = 0.5
SHINGLE_K = 3  # word n-gram width for shingling

# SimHash signature width (bits).
SIMHASH_BITS = 32

# Random-hyperplane LSH for embeddings: 8 sign bits -> 256 buckets.
LSH_HYPERPLANES = 8

# Cosine near-duplicate threshold for embedding dedup.
COSINE_DUP_THRESHOLD = 0.9


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Idempotency window of a topic's applied-id ledger. Both producers of
# a topic manifest — TopicStore.produce (driver, one commit per batch)
# and the native ripple_topic sink (one commit per task) — append
# through manifest.append, the one place that trims the ledger to this
# many ids, so neither path can shrink the other's exactly-once replay
# window. 4096 commits ≈ hundreds of micro-batches at typical task
# parallelism; size it >= max expected (concurrent writers x tasks per
# trigger x triggers a replay can lag by).
APPLIED_IDS_KEEP = 4096

# Broadcast-side caps (fail-fast guards, not tuning knobs): the exact
# top-k kernels collect the QUERY set to the driver and broadcast it to
# every corpus task — correct only while the query set is small. A
# miswired caller (corpus passed as queries) must fail loudly, not
# silently collect 100 TB to the driver.
MAX_BROADCAST_QUERIES = 100_000

# Connected components: ceiling on the EDGE BYTES the two-tier solver
# may collect for the driver-local union-find tier (edges are two int64
# ids ≈ 16 bytes + object overhead); bigger edge sets take the
# distributed propagation tier.
CC_MAX_LOCAL_EDGE_BYTES = 64 << 20  # 64 MiB ≈ 4M edges
