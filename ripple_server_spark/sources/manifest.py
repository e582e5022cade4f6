"""The two logs of one topic, under one protocol: the single
implementation of their path layout, topic-name validation, latest-
version probe, torn-read-hardened load, atomic version-slot claim and
optimistic commit loop, plus the append transaction both producers
share, the rewrite transaction both compactions share, and the
seq-range read planner.

Layout: ``<root>/topics/<topic>/<log>/<version:020d>.json``, where
``<log>`` is :data:`LOG`, the data manifest, or :data:`CONSUMER_LOG`,
the consumer state. Every version is a FULL snapshot of its log's
state. Writers commit version v+1 by claiming its name atomically;
readers resolve the newest name and parse it. :func:`log_dir`,
:func:`path`, :func:`latest_version`, :func:`load`, :func:`latest` and
:func:`commit` take the log as their last argument, defaulting to the
data manifest; the append and rewrite transactions and the planner
serve the data manifest.

- The data manifest holds the live ``files``, per-bucket
  ``maxima``/``floors``, ``applied_batches``, the recorded ``schema``,
  ``seq_ranges``, ``n_buckets`` and config. :func:`create` claims its
  version 1.
- The consumer state holds ``consumers`` (``{id: {bucket: offset}}``)
  and ``groups`` (``{group: {generation, n_members, strategy,
  assignment, offsets}}``). A topic with no consumer-state version
  reads as the empty state at version 0, which :func:`commit` rebases
  on, so the first write claims version 1.

``seq_ranges`` maps each live file (data-dir relative path) to the
inclusive ``[lo, hi]`` seq range its rows carry. Writers record the
range in the same commit that adds the file, and :func:`commit` drops
entries whose file left ``files``, so the map can never name a dead
file. A file without an entry (written before ranges were recorded) is
served by every planner query, so older manifests read correctly with
no upgrade step.

:func:`plan` is the read planner, the one source of every topic read's
files (``TopicStore`` reads and polls, ``offsets_for_times``, the batch
reader and both stream tiers): given a version and per-bucket
``[lo, hi)`` spans it walks ``files`` once and returns each bucket's
overlapping files; :func:`cut` takes a chunk's files from one bucket's
planned list without another walk. It keeps no cache, so nothing goes
stale when a deleted topic's name is re-created at version 1.

Spark-free on purpose: executor-side write tasks (the native sink)
commit through this module where no SparkSession exists.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid

from ripple_server_spark.config import APPLIED_IDS_KEEP

# Optimistic-retry cap. Each lost round means ANOTHER writer's commit
# landed (the scheme is livelock-free), so a task writing alongside T
# siblings can legitimately lose up to T-1 rounds — the cap must
# comfortably exceed any plausible tasks-per-job, not be a small
# constant. Retries are cheap: a listing + JSON parse.
RETRIES = 200

# The log directories of a topic: the data manifest and the consumer
# state (offsets and groups).
LOG = "_log"
CONSUMER_LOG = "_consumers"


class StaleGenerationError(RuntimeError):
    """A group-scoped commit was fenced: the member's generation is
    older than the group's current epoch, or the bucket is outside the
    member's range under the current assignment (Kafka
    ILLEGAL_GENERATION / FENCED_INSTANCE_ID analog)."""


class StaleProducerEpochError(StaleGenerationError):
    """A produce transaction was fenced: the writer's producer epoch is
    older than the topic's current epoch (Kafka
    INVALID_PRODUCER_EPOCH — the producer-side mirror of consumer
    generation fencing). The rejection is atomic: the epoch is
    re-checked inside the manifest commit, so a fenced produce leaves
    only unreferenced staged files (vacuum reclaims them) and no
    partial rows are ever visible."""


_TOPIC_NAME_RE = re.compile(r"^[A-Za-z0-9._-]{1,249}$")


def validate_topic_name(topic: str) -> None:
    """Reject topic names that would break the storage layout (checked
    by :func:`create`, ``TopicStore.delete_topic`` and every
    consumer-state write). A topic name is outside input that becomes
    a directory: Kafka's character set and length cap
    ([A-Za-z0-9._-], <= 249) and no bare ``.``/``..`` keep it one
    path segment inside ``topics/``. ``--`` and a leading ``-`` stay
    reserved, so the set of legal names does not change."""
    if topic in (".", ".."):
        raise ValueError(f"invalid topic name {topic!r}")
    if not _TOPIC_NAME_RE.fullmatch(topic):
        raise ValueError(
            f"invalid topic name {topic!r}: use 1-249 chars from "
            "[A-Za-z0-9._-]"
        )
    if "--" in topic:
        raise ValueError(f"invalid topic name {topic!r}: '--' is reserved")
    if topic.startswith("-"):
        raise ValueError(f"invalid topic name {topic!r}: a leading '-' is reserved")


def validate_consumer_id(consumer_id: str) -> None:
    """Reject consumer ids that are not flat names: empty, or holding a
    path separator or ``..``. An id is outside input (an ungated
    writer's id, a group id that names its members, the
    ``start_at=consumer:<id>`` option), checked before it becomes a key
    of the consumer state. A ``--`` inside an id is legal."""
    if (
        not consumer_id
        or "/" in consumer_id
        or os.sep in consumer_id
        or ".." in consumer_id
    ):
        raise ValueError(
            f"consumer id {consumer_id!r} must be a non-empty flat name "
            "(no path separators or '..')"
        )


def log_dir(root: str, topic: str, log: str = LOG) -> str:
    return os.path.join(root, "topics", topic, log)


def path(root: str, topic: str, version: int, log: str = LOG) -> str:
    return os.path.join(log_dir(root, topic, log), f"{version:020d}.json")


# Newest version this process has seen, per log directory: the start
# of latest_version's probe. Only a hint — it is checked against the
# disk on every call, so it needs no invalidation.
_seen: dict[str, int] = {}


def _listed(d: str, topic: str) -> int:
    """Newest version by one directory listing."""
    try:
        names = [n for n in os.listdir(d) if n.endswith(".json")]
    except FileNotFoundError:
        names = []
    if not names:
        raise FileNotFoundError(
            f"topic {topic!r} has no manifest — create_topic() first, or "
            "pass option('create_topic', 'true') to the sink"
        )
    return max(int(n[:-5]) for n in names)


def latest_version(root: str, topic: str, log: str = LOG) -> int:
    """Newest committed version — no file reads (the cheap
    cache-freshness probe). Versions are claimed densely (v+1 after v)
    and ``TopicStore.vacuum`` removes them oldest first, so the live
    versions are a contiguous run ending at the newest, and probing
    v+1, v+2, ... from any live version finds the newest. The probe
    starts at the newest version this process saw for the log; the
    directory is listed only when that version is gone (vacuumed, or
    the topic was deleted and re-created). Raises FileNotFoundError when
    the log has no version."""
    d = log_dir(root, topic, log)
    v = _seen.get(d)
    if v is None or not os.path.exists(os.path.join(d, f"{v:020d}.json")):
        v = _listed(d, topic)
    while os.path.exists(os.path.join(d, f"{v + 1:020d}.json")):
        v += 1
    _seen[d] = v
    return v


def load(root: str, topic: str, version: int, log: str = LOG) -> dict:
    """Parse one committed version. A JSONDecodeError is retried
    briefly: impossible on the ``os.link`` claim path (bytes precede the
    name), but the linkless-filesystem fallback of :func:`claim` creates
    the name before copying content in, leaving a short torn-read
    window. Every read of either log goes through here."""
    p = path(root, topic, version, log)
    for attempt in range(5):
        try:
            with open(p) as f:
                return json.load(f)
        except json.JSONDecodeError:
            if attempt == 4:
                raise
            time.sleep(0.02 * (attempt + 1))
    raise AssertionError("unreachable")


def latest(root: str, topic: str, log: str = LOG) -> tuple[int, dict]:
    """(version, snapshot) of the newest committed version."""
    v = latest_version(root, topic, log)
    return v, load(root, topic, v, log)


def claim(slot: str, manifest: dict) -> bool:
    """Atomically publish ``manifest`` at ``slot`` iff the name is free.

    Content is written to a sibling tmp file first, then the slot is
    claimed with ``os.link`` — link creation is atomic and fails if the
    name exists, AND the bytes are complete before the name appears, so
    a concurrent reader never sees a torn or empty manifest (every
    executor write task is a producer, so readers race commits).

    On filesystems without hard-link support (some FUSE/object-store
    mounts), falls back to an O_CREAT|O_EXCL claim — equally atomic on
    the NAME, but content lands after it appears, so :func:`load` keeps
    a torn-read retry for that path.

    ``TopicStore.vacuum`` sweeps the tmp files of slots that already
    exist (lost claims, or ones that crashed before their unlink), so a
    tmp gone before its link is a lost claim, never a fallback."""
    tmp = f"{slot}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, slot)
        return True
    except (FileExistsError, FileNotFoundError):
        return False
    except OSError:
        try:
            fd = os.open(slot, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f, open(tmp) as src:
            f.write(src.read())
        return True
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def create(root: str, topic: str, n_buckets: int, config: dict | None = None) -> None:
    """Validate the name, create the topic layout and claim manifest
    version 1 — the one create path (``TopicStore.create_topic`` and the
    sink's opt-in auto-create). Race-safe and idempotent: concurrent
    creators all attempt the claim, one wins, and a topic that already
    has a manifest is left untouched."""
    validate_topic_name(topic)
    os.makedirs(os.path.join(root, "topics", topic, "data"), exist_ok=True)
    os.makedirs(log_dir(root, topic), exist_ok=True)
    if any(n.endswith(".json") for n in os.listdir(log_dir(root, topic))):
        return
    claim(
        path(root, topic, 1),
        {
            "version": 1,
            "topic": topic,
            "n_buckets": n_buckets,
            "files": [],
            "applied_batches": [],
            "maxima": {},
            "floors": {},
            "config": dict(config or {}),
        },
    )


def commit(root: str, topic: str, base_version: int, apply, log: str = LOG) -> dict:
    """Optimistic-concurrency commit of version+1 of one log:
    ``apply(snapshot) -> snapshot`` transforms the base snapshot, and
    claiming the next slot is the commit point. On collision the edit is
    re-applied to the newer base and retried, so ``apply`` must be a
    self-contained rebase (add these files / drop those files / swap
    this subset / set these offsets); it may raise to abort the commit.
    Version 0 is the empty snapshot ``{}``, the base of a log's first
    write. ``seq_ranges`` entries of files the edit removed are dropped
    here, so no writer prunes the map itself."""
    v = base_version
    for _ in range(RETRIES):
        try:
            base = load(root, topic, v, log) if v else {}
        except FileNotFoundError:
            # base vacuumed away mid-commit: a newer version exists by
            # definition, so rebase onto the latest
            v, base = latest(root, topic, log)
        new = apply(dict(base))
        new["version"] = v + 1
        if "seq_ranges" in new:
            live = set(new["files"])
            new["seq_ranges"] = {
                f: r for f, r in new["seq_ranges"].items() if f in live
            }
        if claim(path(root, topic, v + 1, log), new):
            return new
        v = latest_version(root, topic, log)
    raise RuntimeError(f"manifest commit contention on topic {topic!r}")


def merge_schema(m: dict, fields: list[str]) -> None:
    """Manifest-tracked schema evolution, the one policy of both
    producers (``TopicStore.produce`` and the native sink): the recorded
    schema is the ordered union of every write's ``name:type`` fields,
    so it types every read — older files' missing columns read as
    typed nulls, and a narrower write never drops a recorded column."""
    prev = list(m.get("schema") or [])
    m["schema"] = prev + [f for f in fields if f not in prev]


def add_ranges(m: dict, ranges: dict[str, list[int]]) -> None:
    """Record the ``[lo, hi]`` seq range of files this edit adds."""
    m["seq_ranges"] = {**m.get("seq_ranges", {}), **ranges}


def touch(root: str, topic: str, rels) -> None:
    """Refresh the mtimes of staged-but-uncommitted data files so a
    concurrent scheduled vacuum (which spares only files younger than
    its grace window) cannot reclaim them between the staging write and
    the manifest commit that makes them live (ADVICE r12). Missing
    files are left to the commit path to surface."""
    from ripple_server_spark.sources import fsio

    data = os.path.join(root, "topics", topic, "data")
    for rel in rels:
        try:
            fsio.DATA_FS.utime(os.path.join(data, rel))
        except OSError:
            pass


class _SeqRace(Exception):
    """A concurrent writer advanced a bucket this append also touches:
    the staged seqs were computed from a stale base — restage and retry."""


class _AlreadyApplied(Exception):
    """The applied id landed after the entry check (a replay racing its
    twin): committing again would double-append."""


def _check_epoch(m: dict, topic: str, producer_epoch: int | None) -> None:
    if producer_epoch is None:
        return
    cur = int(m.get("producer_epoch", 0))
    if int(producer_epoch) != cur:
        raise StaleProducerEpochError(
            f"write to topic {topic!r} carries producer epoch "
            f"{int(producer_epoch)}, but the topic is at epoch {cur} — the "
            "producer was fenced (fence_producers); acquire the new epoch "
            "before writing"
        )


def _new_maxima(topic: str, m: dict, ranges: dict[str, list[int]]) -> dict[int, int]:
    """Per touched bucket, the max seq after this append. Each bucket's
    staged ranges must tile ``[base+1, new_max]`` exactly — two staging
    tasks holding one bucket, or a stage run against another base,
    would publish overlapping or gapped seqs and must never commit."""
    spans: dict[int, list] = {}
    for rel, (lo, hi) in ranges.items():
        spans.setdefault(bucket_of(rel), []).append((int(lo), int(hi)))
    out = {}
    for b, rs in spans.items():
        nxt = int(m.get("maxima", {}).get(str(b), -1)) + 1
        for lo, hi in sorted(rs):
            if lo != nxt or hi < lo:
                raise RuntimeError(
                    f"staged seq ranges {sorted(rs)} of bucket {b} on topic "
                    f"{topic!r} do not tile the seqs after {nxt - 1}"
                )
            nxt = hi + 1
        out[b] = nxt - 1
    return out


def append(
    root: str,
    topic: str,
    stage,
    fields: list[str],
    applied_id: str | None = None,
    producer_epoch: int | None = None,
) -> dict | None:
    """The append transaction, shared by ``TopicStore.produce`` and the
    native sink's write tasks. Returns the committed manifest, or None
    when nothing was committed (``applied_id`` already landed, or an
    empty stage that declares no new schema).

    ``stage(manifest) -> {rel: [lo, hi]}`` writes the batch's files for
    that base — seqs continuing each bucket's ``maxima`` — and returns
    their seq ranges; touched buckets, counts and new maxima all derive
    from them. Each attempt loads the latest version, checks the
    producer epoch and the applied id, stages, checks that the ranges
    tile each touched bucket, refreshes the staged files' mtimes and
    commits; the epoch, applied-id and maxima checks re-run inside the
    commit, so a fence, a twin replay or a concurrent append landing
    mid-stage is caught at the atomic point. A lost seq race restages
    against the newer base, at most ``RETRIES`` times; superseded staged
    files are crash-orphan-equivalent (vacuum reclaims them).

    With zero staged files the batch's schema is still a declaration:
    establishing or widening the topic's schema is a metadata-only
    commit, anything else commits nothing (no version burn)."""
    for _ in range(RETRIES):
        v, m = latest(root, topic)
        _check_epoch(m, topic, producer_epoch)
        if applied_id is not None and applied_id in m.get("applied_batches", []):
            return None
        ranges = stage(m)
        new_max = _new_maxima(topic, m, ranges)
        prev = m.get("schema")
        if not ranges and prev is not None and set(fields) <= set(prev):
            return None
        touch(root, topic, ranges)
        base = {b: int(m.get("maxima", {}).get(str(b), -1)) for b in new_max}

        def apply(man: dict) -> dict:
            _check_epoch(man, topic, producer_epoch)
            if applied_id is not None and applied_id in man.get(
                "applied_batches", []
            ):
                raise _AlreadyApplied()
            mx = dict(man.get("maxima", {}))
            if any(int(mx.get(str(b), -1)) != x for b, x in base.items()):
                raise _SeqRace()
            mx.update({str(b): x for b, x in new_max.items()})
            man["maxima"] = mx
            man["files"] = list(man["files"]) + sorted(ranges)
            add_ranges(man, ranges)
            merge_schema(man, fields)
            if applied_id is not None:
                # the one ledger trim: the idempotency window of every
                # writer of this topic (config.APPLIED_IDS_KEEP)
                man["applied_batches"] = (
                    list(man.get("applied_batches", [])) + [applied_id]
                )[-APPLIED_IDS_KEEP:]
            return man

        try:
            return commit(root, topic, v, apply)
        except _AlreadyApplied:
            return None
        except _SeqRace:
            continue
    raise RuntimeError(
        f"seq-claim contention on topic {topic!r} after {RETRIES} attempts"
    )


# Cap on restages of one rewrite: each means a concurrent commit removed
# an input file (a truncate or another rewrite), which is rare next to
# appends, and a restage repeats the whole rewrite's scan.
REWRITE_RETRIES = 20


class _Superseded(Exception):
    """A concurrent commit removed one of the rewrite's input files: the
    staged output holds rows the live manifest no longer serves."""


def rewrite(
    root: str, topic: str, base_version: int | None, stage, edit=None
) -> dict | None:
    """The rewrite transaction, shared by ``TopicStore.compact`` and
    ``compact_by_key``: swap a base version's live files for a staged
    replacement. Returns the committed manifest, or None when ``stage``
    declined to write anything.

    ``stage(version, manifest) -> {rel: [lo, hi]} | None`` stages the
    replacement of that base's files and returns their seq ranges.
    Each attempt stages against the base (``base_version``, or the
    latest), refreshes the staged files' mtimes and commits a swap that
    keeps files committed concurrently (they are not in the input set),
    records the ranges and applies ``edit(manifest, ranges)`` if given.
    If a concurrent commit removed any input file (a truncate, or
    another rewrite), swapping in output built from the stale base would
    resurrect aged-out rows below the retention floor: the swap aborts
    and the rewrite restages from the latest manifest, at most
    ``REWRITE_RETRIES`` times. Superseded staged files are
    crash-orphan-equivalent (vacuum reclaims them)."""
    if base_version is None:
        v, m = latest(root, topic)
    else:
        v, m = base_version, load(root, topic, base_version)
    for _ in range(REWRITE_RETRIES):
        inputs = set(m["files"])
        ranges = stage(v, m)
        if ranges is None:
            return None
        touch(root, topic, ranges)

        def apply(man: dict) -> dict:
            if inputs - set(man["files"]):
                raise _Superseded()
            kept = [f for f in man["files"] if f not in inputs]
            man["files"] = sorted(ranges) + kept
            add_ranges(man, ranges)
            if edit is not None:
                edit(man, ranges)
            return man

        try:
            return commit(root, topic, v, apply)
        except _Superseded:
            v, m = latest(root, topic)
    raise RuntimeError(
        f"rewrite superseded {REWRITE_RETRIES} times on topic {topic!r}"
    )


def bucket_of(rel: str) -> int:
    """Bucket of a data-dir relative path ``bucket=<n>/<name>``."""
    return int(rel.split("/", 1)[0].split("=", 1)[1])


def plan(m: dict, spans: dict[int, tuple[int, int]]) -> dict[int, list[str]]:
    """The read planner, the one source of every topic read's files:
    ONE walk of ``m["files"]`` returning, per bucket, its live files
    (data-dir relative, in manifest order) whose seq range overlaps the
    half-open span ``spans[bucket]``; a bucket missing from ``spans`` is
    not read. An empty span plans nothing; a file without a recorded
    range is always planned for its bucket's span. Buckets with no
    planned file are absent. Nothing is cached across calls:
    ``delete_topic`` then ``create_topic`` reuses version numbers."""
    ranges = m.get("seq_ranges", {})
    out: dict[int, list[str]] = {}
    for rel in m["files"]:
        b = bucket_of(rel)
        span = spans.get(b)
        if span is not None and span[0] < span[1] and _overlaps(ranges.get(rel), *span):
            out.setdefault(b, []).append(rel)
    return out


def cut(m: dict, rels: list[str], lo: int, hi: int) -> list[str]:
    """The files of one bucket's planned list ``rels`` that overlap
    ``[lo, hi)`` — a chunk of a :func:`plan`, with no second walk."""
    ranges = m.get("seq_ranges", {})
    return [rel for rel in rels if _overlaps(ranges.get(rel), lo, hi)]


def _overlaps(r: list[int] | None, lo: int, hi: int) -> bool:
    return r is None or (r[1] >= lo and r[0] < hi)
