"""The package's zipimport guard: on Python < 3.12,
``importlib.invalidate_caches()`` re-reads a zip archive's central
directory only when the archive changed on disk. Every Spark Python task
calls it once before running (``pyspark.worker_util.setup_spark_files``),
so without the guard each task re-parses ``pyspark.zip`` in full."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import ripple_server_spark

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ re-reads zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def read_calls(monkeypatch) -> list:
    """Archive paths passed to ``zipimport._read_directory``."""
    calls: list = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipguard_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zipguard_mod_a", "zipguard_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@old_python
def test_unchanged_archive_is_not_reread(zip_on_path, read_calls):
    import zipguard_mod_a

    assert zipguard_mod_a.X == 1
    read_calls.clear()  # the import's own first read
    importlib.invalidate_caches()  # nothing on record yet: reads as 3.11
    assert read_calls == [zip_on_path]
    read_calls.clear()
    importlib.invalidate_caches()
    assert read_calls == []


@old_python
def test_rewritten_archive_is_reread(zip_on_path, read_calls):
    import zipguard_mod_a  # noqa: F401

    importlib.invalidate_caches()
    read_calls.clear()
    # rewritten in place: same inode, new size and mtime
    _write_zip(zip_on_path, {"zipguard_mod_a": "X = 1\n", "zipguard_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read_calls == [zip_on_path]
    import zipguard_mod_b

    assert zipguard_mod_b.Y == 2


@old_python
def test_stat_failure_rereads_as_before(zip_on_path, read_calls):
    import zipguard_mod_a  # noqa: F401

    importlib.invalidate_caches()
    read_calls.clear()
    os.remove(zip_on_path)
    importlib.invalidate_caches()  # 3.11: the read fails, the importer empties
    assert read_calls == [zip_on_path]
    assert sys.path_importer_cache[zip_on_path]._files == {}


@old_python
def test_guard_installs_once_across_reimports():
    guard = zipimport.zipimporter.invalidate_caches
    assert guard._ripple_stat_guard
    importlib.reload(ripple_server_spark)
    assert zipimport.zipimporter.invalidate_caches is guard


@pytest.mark.skipif(sys.version_info < (3, 12), reason="guard is active before 3.12")
def test_guard_not_installed_on_new_python():
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "_ripple_stat_guard")


@old_python
def test_python_tasks_skip_the_unchanged_pyspark_zip(spark):
    """Each task imports the package (as every engine kernel, reader and
    writer does on unpickling), primes once, then counts directory
    re-reads across a second ``invalidate_caches`` — the call each task's
    ``setup_spark_files`` makes."""

    def kernel(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import ripple_server_spark  # noqa: F401

        importlib.invalidate_caches()
        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict({"rereads": [len(calls)], "zips": [zips]})

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInArrow(kernel, "rereads long, zips long")
        .collect()
    )
    assert len(rows) == 8
    assert all(r["zips"] > 0 for r in rows)  # workers do import from zips
    assert [r["rereads"] for r in rows] == [0] * 8
