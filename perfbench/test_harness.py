"""Tests for the harness's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from perfbench import gen
from perfbench.stats import match_deliveries, percentile, supported_percentile, touched
from perfbench.trace import Span, self_times


@pytest.mark.parametrize(
    "n, q",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0)],
)
def test_supported_percentile_keeps_ten_samples_beyond(n, q):
    assert supported_percentile(n) == q
    if q is not None:
        rank = -(-int(q) * n // 100)
        assert n - rank >= 10


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_match_deliveries_uses_first_cursor_past_the_batch():
    # batch 1 wrote seqs up to 4 in bucket 0 and up to 2 in bucket 1;
    # batch 2 wrote up to 9 in bucket 0 only.
    thresholds = [(1, 10.0, {0: 4, 1: 2}), (2, 11.0, {0: 9})]
    events = [
        (13.0, {0: 10, 1: 3}),  # out of time order on purpose
        (12.0, {0: 4, 1: 3}),  # cursor 4 is exclusive: seq 4 not yet in
        (12.5, {0: 5}),
    ]
    got = sorted(match_deliveries(thresholds, events))
    assert got == [(1, 0, 2.5), (1, 1, 2.0), (2, 0, 2.0)]


def test_match_deliveries_carries_cursors_and_leaves_undelivered_out():
    thresholds = [(1, 0.0, {0: 3, 1: 3}), (2, 1.0, {0: 7})]
    # a cursor that does not rise (a bucket with nothing new) is ignored
    events = [(2.0, {0: 8, 1: 1}), (3.0, {0: 8, 1: 1})]
    assert match_deliveries(thresholds, events) == [(1, 0, 2.0), (2, 0, 1.0)]


def test_touched_lists_only_buckets_that_grew():
    assert touched({0: 3, 1: 5}, {0: 3, 1: 9, 2: 0}) == {1: 9, 2: 0}


def test_pubsub_generator_is_deterministic():
    a, b = gen.pubsub_batch(7, 3, 500), gen.pubsub_batch(7, 3, 500)
    assert a.equals(b)
    oa, ob = gen.bucket_order(a, 8), gen.bucket_order(b, 8)
    assert all(gen.fingerprint(oa[k]) == gen.fingerprint(ob[k]) for k in range(8))
    assert not a.equals(gen.pubsub_batch(8, 3, 500))
    assert a["event_id"].to_pylist() == list(range(1500, 2000))


def test_bucket_order_is_fifo_by_ts_then_event_id():
    tbl = gen.pubsub_batch(1, 0, 400)
    order = gen.bucket_order(tbl, 8)
    assert sum(len(v) for v in order.values()) == 400
    ts = dict(zip(tbl["event_id"].to_pylist(), tbl["ts"].cast(pa.int64()).to_pylist()))
    for b, ids in order.items():
        keys = [(ts[i], i) for i in ids]
        assert keys == sorted(keys)
        uid = dict(zip(tbl["event_id"].to_pylist(), tbl["user_id"].to_pylist()))
        assert all(uid[i] % 8 == b for i in ids)


def test_zipf_users_make_hot_buckets():
    tbl = gen.pubsub_batch(1, 0, 20_000)
    users = tbl["user_id"].to_numpy()
    assert users.min() >= 0 and users.max() < gen.N_USERS
    counts = np.bincount(users % 8, minlength=8)
    # the expected shares: ~17 % in bucket 0, max / mean ~1.37
    expected = np.array([gen.zipf_weights()[b::8].sum() for b in range(8)])
    assert counts.max() / counts.mean() > 1.25
    assert np.abs(counts / counts.sum() - expected).max() < 0.01


def test_stream_plan_is_deterministic():
    p = gen.StreamPlan(5, 300)
    first = [p.batch(i) for i in range(6)]
    assert p.batch(3) is first[3]  # a plan caches what it made
    q = gen.StreamPlan(5, 300)  # a new plan generates everything again
    for i in range(6):
        assert q.batch(i) is not first[i]
        assert q.batch(i).equals(first[i])
    assert not p.batch(3).equals(gen.StreamPlan(6, 300).batch(3))
    arrivals = [p.arrival(i) for i in range(50)]
    assert arrivals == [q.arrival(i) for i in range(50)]
    assert all(0.0 <= a < 1.0 for a in arrivals)
    assert arrivals != [gen.StreamPlan(6, 300).arrival(i) for i in range(50)]


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 42])
def test_duplicates_are_exact_recent_copies_inside_the_horizon(seed):
    plan = gen.StreamPlan(seed, 200)
    for i in range(1, 30):
        tbl = plan.batch(i)
        dups = tbl.slice(plan.rows)
        assert dups.num_rows == round(plan.rows * plan.dup_share)
        assert plan.duplicate_slack_us(i) > 0
        recent = pa.concat_tables([plan.fresh(j) for j in range(max(0, i - plan.max_lag), i)])
        originals = {(e, t) for e, t in zip(recent["event_id"].to_pylist(), recent["ts"].to_pylist())}
        assert all(
            (e, t) in originals for e, t in zip(dups["event_id"].to_pylist(), dups["ts"].to_pylist())
        )
        assert len(set(dups["event_id"].to_pylist())) == dups.num_rows


def test_duplicate_slack_detects_a_horizon_too_short():
    plan = gen.StreamPlan(0, 200, max_lag=4, horizon_min=3)
    assert any(plan.duplicate_slack_us(i) <= 0 for i in range(4, 20))


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "r", "t"),
        Span(2, "a", 1.0, 4.0, 1, "r", "t"),
        Span(3, "b", 3.0, 5.0, 1, "r", "t"),  # overlaps a
        Span(4, "c", 8.0, 12.0, 1, "r", "t"),  # runs past the parent
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx(3.0)
