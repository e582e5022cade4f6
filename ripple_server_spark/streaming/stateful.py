"""Custom stateful streaming operator: per-bucket delivery cursors.

The reference keeps one mutable cursor per (consumer, bucket) in
ZooKeeper and advances it as batches are delivered
(internal/broker/consumer/server/core.go:46-63). This module is that
state machine as a Spark stateful streaming operator: for every bucket,
track across micro-batches

- ``delivered``  — total messages seen so far,
- ``max_seq``    — highest sequence delivered,
- ``gaps``       — count of skipped sequence numbers observed so far
                   (a nonzero value means FIFO contiguity was violated
                   upstream — the invariant the reference enforces by
                   construction with its in-memory list).

Implemented with ``applyInPandasWithState`` (GroupState): state is a
single small tuple per bucket, partitioned by bucket — at 100 TB this
is the bounded-state shape (state size = O(buckets), not O(messages)).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "delivered long, max_seq long, gaps long"
OUTPUT_SCHEMA = "bucket int, delivered long, max_seq long, gaps long"


def _track(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (bucket,) = key
    if state.exists:
        delivered, max_seq, gaps = state.get
    else:
        delivered, max_seq, gaps = 0, -1, 0
    # Concatenate BEFORE sorting: applyInPandas chunks a big key's
    # micro-batch at arrow maxRecordsPerBatch in arbitrary post-shuffle
    # order, so per-chunk sorting would report false gaps whenever a
    # later chunk carries earlier seqs (the leader_watch_fn pattern).
    seqs = sorted(
        int(s) for pdf in batches for s in pdf["seq"]
    )
    for s in seqs:
        if s > max_seq + 1:
            gaps += s - (max_seq + 1)
        max_seq = max(max_seq, s)
        delivered += 1
    state.update((delivered, max_seq, gaps))
    yield pd.DataFrame(
        [{"bucket": bucket, "delivered": delivered, "max_seq": max_seq, "gaps": gaps}]
    )


def delivery_cursor(stream: DataFrame) -> DataFrame:
    """Attach the cursor tracker to a streaming topic DataFrame (must
    carry ``bucket`` and ``seq`` columns). Emits one updated cursor row
    per bucket per micro-batch (update mode)."""
    return stream.groupBy("bucket").applyInPandasWithState(
        _track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# TTL'd streaming dedup — GroupState form (no extra deps)
# --------------------------------------------------------------------------

DEDUP_STATE_SCHEMA = "seen byte"
DEDUP_OUTPUT_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def ttl_dedup_fn(ttl_ms: int | None):
    """State-transition function for the GroupState TTL dedup (exposed
    at module level so the TTL lifecycle — arm, re-arm, expire, re-emit
    after expiry — is unit-testable without a streaming engine run)."""

    def dedup(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL expiry callback: drop the 'seen' bit, emit nothing
            state.remove()
            return
        fresh = not state.exists
        if fresh:
            state.update((1,))
        if ttl_ms is not None:
            # (re)arm the TTL clock on every touch
            state.setTimeoutDuration(ttl_ms)
        if not fresh:
            return
        for pdf in batches:
            if len(pdf):
                yield pdf[["event_id", "ts", "user_id", "value"]].head(1)
                return

    return dedup


def dedup_stream_ttl_groupstate(
    events: DataFrame, ttl_ms: int | None = 3_600_000
) -> DataFrame:
    """First-occurrence filter with TTL-bounded state on the
    ``applyInPandasWithState`` API: one 'seen' bit per event_id, aged
    out by a processing-time timeout after ``ttl_ms`` of silence (every
    duplicate re-arms the clock) — so state size follows the TTL
    horizon, not the stream length, and does not depend on event time.
    :func:`~ripple_server_spark.streaming.api.dedup_stream` is the
    event-time form: it forgets a key once the ``ts`` watermark passes.

    ``ttl_ms=None`` disables the timeout (state grows with distinct
    keys — fine for bounded drains). Note for finite test drains: with
    a TTL armed, pending processing-time timers keep the query busy, so
    ``availableNow``/``processAllAvailable`` never see an idle stream —
    drain with a plain trigger + stop, or use ttl_ms=None; the TTL
    transitions themselves are unit-tested via :func:`ttl_dedup_fn`.
    """
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        events.select("event_id", "ts", "user_id", "value")
        .groupBy("event_id")
        .applyInPandasWithState(
            ttl_dedup_fn(ttl_ms),
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming leader watch — the A12 watch/re-elect path
# --------------------------------------------------------------------------

LEADER_STATE_SCHEMA = "roster string, leader long, epoch long"
LEADER_OUTPUT_SCHEMA = (
    "group long, leader long, leader_seq long, epoch long, n_members long"
)


def leader_watch_fn(
    key: tuple,
    batches: "Iterator[pd.DataFrame]",
    state: GroupState,
) -> "Iterator[pd.DataFrame]":
    """State transition of the leader watch (module-level so the
    elect → watch → re-elect lifecycle is unit-testable without a
    streaming engine run; see :func:`leader_watch` for semantics)."""
    import json as _json

    (group,) = key
    if state.exists:
        roster_json, leader, epoch = state.get
        roster = {int(k): int(v) for k, v in _json.loads(roster_json).items()}
    else:
        roster, leader, epoch = {}, -1, 0
    rows = [pdf[["member", "seq", "alive"]] for pdf in batches if len(pdf)]
    if rows:
        deltas = pd.concat(rows, ignore_index=True).sort_values("seq")
        for member, seq, alive in deltas.itertuples(index=False):
            member = int(member)
            if bool(alive):
                # ZK sequential-node analog: the member's id is the seq
                # of its FIRST registration (re-registration keeps it)
                roster.setdefault(member, int(seq))
            else:
                roster.pop(member, None)
    new_leader = (
        min(roster, key=lambda m: (roster[m], m)) if roster else -1
    )
    if new_leader != leader:
        epoch += 1
        state.update((_json.dumps(roster), new_leader, epoch))
        yield pd.DataFrame(
            [
                {
                    "group": group,
                    "leader": new_leader,
                    "leader_seq": roster.get(new_leader, -1),
                    "epoch": epoch,
                    "n_members": len(roster),
                }
            ]
        )
    else:
        state.update((_json.dumps(roster), leader, epoch))


def leader_watch(membership: DataFrame) -> DataFrame:
    """Current leader per group, maintained across micro-batches and
    emitted ON CHANGE — the watch/re-elect semantics of the reference's
    leader election (elect: lowest sequential node id wins,
    internal/lighthouse/election/election.go:50-79; watch: membership
    change triggers re-election, election.go:85-108). The topic's
    per-bucket produce seq plays the role of ZooKeeper's sequential
    ephemeral node ids.

    ``membership`` is a streaming frame of membership deltas with
    columns ``group`` (election scope), ``member``, ``alive`` (true =
    register, false = leave/crash), and ``seq`` (arrival order, e.g.
    the topic seq). State per group is the live roster — O(members),
    not O(events) — so at scale state size follows cluster size.
    Output rows appear only on leader change: the initial election and
    every re-election, with ``epoch`` counting transitions (leader = -1
    when the last member leaves)."""
    return (
        membership.select("group", "member", "alive", "seq")
        .groupBy("group")
        .applyInPandasWithState(
            leader_watch_fn,
            outputStructType=LEADER_OUTPUT_SCHEMA,
            stateStructType=LEADER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --------------------------------------------------------------------------
# Token-bucket flow control — the per-subscriber buffer-cap analog
# --------------------------------------------------------------------------

RATE_STATE_SCHEMA = "tokens double, last_sec long"
RATE_OUTPUT_SCHEMA = (
    "event_id long, user_id long, ts timestamp, allowed boolean, tokens_left double"
)


def bucket_replay(
    secs,
    capacity: float,
    refill_per_sec: float,
    tokens: float | None = None,
    last_sec: int | None = None,
):
    """Pure token-bucket replay over ascending epoch-seconds: returns
    (allowed flags, tokens-left-per-row, final tokens, final last_sec).
    Shared by the streaming operator below and the batch replay query
    (q_rate_limit_replay) so both surfaces make bit-identical
    decisions — and so the batch form's recursive-CTE oracle verifies
    the exact math the streaming path runs."""
    if tokens is None:
        tokens = float(capacity)
    allowed: list[bool] = []
    left: list[float] = []
    for s in secs:
        if last_sec is not None and s > last_sec:
            tokens = min(capacity, tokens + (s - last_sec) * refill_per_sec)
        last_sec = s if last_sec is None else max(last_sec, s)
        if tokens >= 1.0:
            tokens -= 1.0
            allowed.append(True)
        else:
            allowed.append(False)
        left.append(tokens)
    return allowed, left, tokens, last_sec


def rate_limit_fn(capacity: float, refill_per_sec: float):
    """State-transition function for the per-key token bucket (exposed
    at module level so refill/deny/recover transitions are unit-
    testable without a streaming engine run).

    The reference enforces flow control with a 1000-message buffered
    channel per subscriber (asynctcp/comm/comm.go:32 — sends past the
    cap block the event loop) and a 100-task processor queue
    (processor/processor.go:51 — excess submissions are dropped). This
    operator is the declarative form of the same policy: each key holds
    `tokens <= capacity`, refilled at `refill_per_sec` by EVENT TIME,
    and a row is `allowed` iff a whole token is available — so bursts
    beyond the budget are marked for deferral/drop downstream instead
    of blocking a transport thread. Event-time refill makes replays
    deterministic: same input stream -> same allow/deny sequence
    regardless of wall clock, and WITHIN a micro-batch regardless of
    chunking (the key's rows are globally sorted before replay). Rows
    that arrive in a LATER micro-batch with event time before the
    persisted last_sec get no refill (the bucket never rewinds) — an
    in-order source per key (the topic log's per-bucket FIFO) makes
    decisions batch-boundary-invariant too; an out-of-order source
    makes them dependent on where the boundary fell, the inherent cost
    of commit-as-you-go rate limiting."""

    def limit(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, last_sec = state.get
        else:
            tokens, last_sec = float(capacity), None
        # Concatenate the key's chunks and sort ONCE: a key with more
        # rows than arrow maxRecordsPerBatch arrives as multiple chunks
        # in arbitrary order, and replaying each chunk independently
        # would advance last_sec past rows a later chunk still holds
        # (no refill for them -> spurious denials diverging from the
        # globally-sorted batch oracle).
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            secs = (pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000).to_numpy()
            allowed, left, tokens, last_sec = bucket_replay(
                secs, capacity, refill_per_sec, tokens, last_sec
            )
            out = pdf[["event_id", "user_id", "ts"]].copy()
            out["allowed"] = allowed
            out["tokens_left"] = left
            yield out
        state.update((float(tokens), int(last_sec if last_sec is not None else 0)))

    return limit


def rate_limit_stream(
    events: DataFrame,
    capacity: float = 1000.0,
    refill_per_sec: float = 100.0,
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key token-bucket flow control on ``applyInPandasWithState``:
    marks each event allowed/deferred against a replenishing budget.
    State is two numbers per key (bounded regardless of rate); the
    allow/deny decision is deterministic in event time. Downstream
    either filters `allowed` (drop policy, the reference's processor
    queue) or routes deferrals to a retry topic (backpressure policy,
    the reference's blocking subscriber channel)."""
    return (
        events.select("event_id", F.col(key_col).alias("user_id"), "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            rate_limit_fn(capacity, refill_per_sec),
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
