"""The manifest log of one topic: the single implementation of its path
layout, version listing, torn-read-hardened load, atomic version-slot
claim, optimistic commit loop and seq-range read planner.

Layout: ``<root>/topics/<topic>/_log/<version:020d>.json``. Every
version is a FULL snapshot of the topic's state (live ``files``,
per-bucket ``maxima``/``floors``, ``applied_batches``, recorded
``schema``, ``seq_ranges``, config, groups, ...). Writers commit
version v+1 by claiming its name atomically; readers resolve the newest
name and parse it.

``seq_ranges`` maps each live file (data-dir relative path) to the
inclusive ``[lo, hi]`` seq range its rows carry. Writers record the
range in the same commit that adds the file, and :func:`commit` drops
entries whose file left ``files``, so the map can never name a dead
file. A file without an entry (written before ranges were recorded) is
served by every planner query, so older manifests read correctly with
no upgrade step.

Spark-free on purpose: executor-side write tasks (the native sink)
commit through this module where no SparkSession exists.
"""

from __future__ import annotations

import json
import os
import time
import uuid

# Optimistic-retry cap. Each lost round means ANOTHER writer's commit
# landed (the scheme is livelock-free), so a task writing alongside T
# siblings can legitimately lose up to T-1 rounds — the cap must
# comfortably exceed any plausible tasks-per-job, not be a small
# constant. Retries are cheap: a listing + JSON parse.
RETRIES = 200


def log_dir(root: str, topic: str) -> str:
    return os.path.join(root, "topics", topic, "_log")


def path(root: str, topic: str, version: int) -> str:
    return os.path.join(log_dir(root, topic), f"{version:020d}.json")


def latest_version(root: str, topic: str) -> int:
    """Newest committed version — one directory listing, no file reads
    (the cheap cache-freshness probe). Raises FileNotFoundError when
    the topic has no manifest."""
    try:
        names = [n for n in os.listdir(log_dir(root, topic)) if n.endswith(".json")]
    except FileNotFoundError:
        names = []
    if not names:
        raise FileNotFoundError(
            f"topic {topic!r} has no manifest — create_topic() first, or "
            "pass option('create_topic', 'true') to the sink"
        )
    return max(int(n[:-5]) for n in names)


def load(root: str, topic: str, version: int) -> dict:
    """Parse one committed version. A JSONDecodeError is retried
    briefly: impossible on the ``os.link`` claim path (bytes precede the
    name), but the linkless-filesystem fallback of :func:`claim` creates
    the name before copying content in, leaving a short torn-read
    window. Every manifest read in the engine goes through here."""
    p = path(root, topic, version)
    for attempt in range(5):
        try:
            with open(p) as f:
                return json.load(f)
        except json.JSONDecodeError:
            if attempt == 4:
                raise
            time.sleep(0.02 * (attempt + 1))
    raise AssertionError("unreachable")


def latest(root: str, topic: str) -> tuple[int, dict]:
    """(version, manifest) of the newest committed version."""
    v = latest_version(root, topic)
    return v, load(root, topic, v)


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
    a torn-read retry for that path."""
    tmp = f"{slot}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, slot)
        return True
    except FileExistsError:
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
        os.unlink(tmp)


def create(root: str, topic: str, n_buckets: int, config: dict | None = None) -> None:
    """Create the topic layout and claim manifest version 1. Race-safe
    and idempotent: concurrent creators all attempt the claim, one
    wins, and a topic that already has a manifest is left untouched."""
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


def commit(
    root: str, topic: str, base_version: int, apply, retries: int = RETRIES
) -> dict:
    """Optimistic-concurrency commit of version+1: ``apply(manifest) ->
    manifest`` transforms the base snapshot, and claiming the next slot
    is the commit point. On collision the edit is re-applied to the
    newer base and retried, so ``apply`` must be a self-contained rebase
    (add these files / drop those files / swap this subset); it may
    raise to abort the commit. ``seq_ranges`` entries of files the edit
    removed are dropped here, so no writer prunes the map itself."""
    v = base_version
    for _ in range(retries):
        try:
            base = load(root, topic, v)
        except FileNotFoundError:
            # base vacuumed away mid-commit: a newer version exists by
            # definition, so rebase onto the latest
            v, base = latest(root, topic)
        new = apply(dict(base))
        new["version"] = v + 1
        if "seq_ranges" in new:
            live = set(new["files"])
            new["seq_ranges"] = {
                f: r for f, r in new["seq_ranges"].items() if f in live
            }
        if claim(path(root, topic, v + 1), new):
            return new
        v = latest_version(root, topic)
    raise RuntimeError(f"manifest commit contention on topic {topic!r}")


def merge_schema(m: dict, fields: list[str]) -> None:
    """Manifest-tracked schema evolution, the one policy of both
    producers (``TopicStore.produce`` and the native sink): the first
    writer establishes the message schema; any set difference marks
    evolution — including a strict-SUBSET write, which leaves parquet
    files with heterogeneous footers that readers must merge."""
    prev = m.get("schema")
    if prev is None:
        m["schema"] = fields
    elif set(prev) != set(fields):
        m["schema"] = list(prev) + [f for f in fields if f not in prev]
        m["schema_evolved"] = True


def add_ranges(m: dict, ranges: dict[str, list[int]]) -> None:
    """Record the ``[lo, hi]`` seq range of files this edit adds."""
    m["seq_ranges"] = {**m.get("seq_ranges", {}), **ranges}


def bucket_of(rel: str) -> int:
    """Bucket of a data-dir relative path ``bucket=<n>/<name>``."""
    return int(rel.split("/", 1)[0].split("=", 1)[1])


def files_for(m: dict, bucket: int, lo: int, hi: int) -> list[str]:
    """The read planner: live files of ``bucket`` whose seq range
    overlaps the half-open ``[lo, hi)``, relative to the topic's data
    dir. Files without a recorded range are always included."""
    ranges = m.get("seq_ranges", {})
    out = []
    for rel in m["files"]:
        r = ranges.get(rel)
        if bucket_of(rel) == bucket and (r is None or (r[1] >= lo and r[0] < hi)):
            out.append(rel)
    return out
