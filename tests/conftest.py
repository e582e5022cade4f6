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
    ``manifest.commit`` call (to either log of a topic), before that
    commit claims its slot. An append under test has staged its files
    by then, so a sibling that advances the append's buckets makes it
    lose a seq race deterministically. The sibling's own commits pass
    straight through."""
    from ripple_server_spark.sources import manifest

    real = manifest.commit
    pending = [sibling]

    def hooked(*args):
        if pending:
            pending.pop()()
        return real(*args)

    monkeypatch.setattr(manifest, "commit", hooked)


def count_stagings(monkeypatch) -> list:
    """Record each driver-side staging (first stagings and seq-race
    restages alike, through the exchange path or a local produce's
    in-memory one): each builds one ``staging.stage_kernel``. Returns
    the list the runs append to."""
    from ripple_server_spark.sources import staging

    runs: list = []
    real = staging.stage_kernel

    def counting(*a, **k):
        runs.append(1)
        return real(*a, **k)

    monkeypatch.setattr(staging, "stage_kernel", counting)
    return runs


def in_form(df, form: str):
    """``df`` as the produce input ``form`` names: itself (a plan over
    files or a range, so the exchange path), its rows as a local
    relation (``createDataFrame`` of an Arrow table), or its rows as a
    ``pyarrow.Table`` (``"arrow"``)."""
    if form == "arrow":
        return df.toArrow()
    if form == "local":
        df = df.sparkSession.createDataFrame(df.toArrow())
    assert df.isLocal() == (form == "local")
    return df


def topic_stream(store, topic: str, **options):
    """``readStream.format("ripple_topic")`` over one of ``store``'s
    topics, with extra reader options."""
    from ripple_server_spark.sources.datasource import RippleTopicDataSource

    store.spark.dataSource.register(RippleTopicDataSource)
    reader = (
        store.spark.readStream.format("ripple_topic")
        .option("root", store.root)
        .option("topic", topic)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def batches_with_rows(query) -> int:
    """How many of ``query``'s micro-batches read at least one row. A
    test that needs state to carry across batches produces one wave per
    ``processAllAvailable()`` and checks this is at least 2: the
    ripple_topic source's first trigger takes the whole backlog."""
    return sum(1 for p in query.recentProgress if p.numInputRows > 0)


def offsets_for_times_reference(store, topic: str, epoch_ms: int) -> dict[int, int]:
    """offsetsForTimes computed independently in Spark: per bucket, the
    smallest seq of the retained rows with ``ts`` at/after ``epoch_ms``,
    and the high-water mark for a bucket with no such row."""
    from pyspark.sql import functions as F

    got = {
        r["bucket"]: r["min(seq)"]
        for r in store.read_topic(topic)
        .filter(F.unix_millis("ts") >= epoch_ms)
        .groupBy("bucket")
        .min("seq")
        .collect()
    }
    return {b: got.get(b, mx + 1) for b, mx in store._bucket_maxima(topic).items()}
