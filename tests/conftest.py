from __future__ import annotations

import pytest

from ripple_server_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ripple-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def land_before_next_commit(monkeypatch, sibling) -> None:
    """Run ``sibling()`` — a competing write — inside the next
    ``manifest.commit`` call, before that commit claims its slot. An
    append under test has staged its files by then, so a sibling that
    advances the append's buckets makes it lose a seq race
    deterministically. The sibling's own commits pass straight through."""
    from ripple_server_spark.sources import manifest

    real = manifest.commit
    pending = [sibling]

    def hooked(root, topic, base_version, apply):
        if pending:
            pending.pop()()
        return real(root, topic, base_version, apply)

    monkeypatch.setattr(manifest, "commit", hooked)


def count_stagings(monkeypatch) -> list:
    """Record each run of produce's staging kernel (first stagings and
    seq-race restages alike); returns the list the runs append to."""
    from ripple_server_spark.sources import topics

    runs: list = []
    real = topics._stage_by_bucket

    def counting(*a, **k):
        runs.append(1)
        return real(*a, **k)

    monkeypatch.setattr(topics, "_stage_by_bucket", counting)
    return runs
