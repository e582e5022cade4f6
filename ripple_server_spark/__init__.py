"""ripple_server_spark — a PySpark-native event-log/analytics engine.

A ground-up Spark reimplementation of the *capabilities* of the
``ripple-mq/ripple-server`` reference (a Kafka-style in-memory message
queue: topics/buckets, leader-replicated brokers, offset-tracked
consumers — see SURVEY.md):

- topics become durable, partitioned parquet event tables
  (``sources/topics.py``), replacing in-memory queues + app-level
  replication (reference ``internal/broker/queue/queue.go``,
  ``internal/broker/producer/server/core.go``) with storage-level
  durability;
- produce/consume become a Structured Streaming sink/source plus a
  batch offset-tracked ranged read (``streaming/``), preserving
  per-bucket FIFO, fan-out pub/sub, and at-least-once semantics
  (reference ``internal/broker/consumer/server/core.go``);
- the analytic query surface (filter/agg/window/join/top-k/dedup/
  similarity/text) is declared through the DataFrame API so Catalyst
  owns optimization (``operators/``, ``functions/``, ``plans/``).

Everything here is built only on the public Apache Spark API and is
designed for a 1000-executor / 100 TB deployment while being testable
on ``local[*]``: queries are declarative (predicate pushdown + column
pruning reach the parquet scan), joins broadcast small dimensions,
aggregations are partial-aggregate friendly, and the quadratic
extension ops (near-dup, ANN) go through LSH-style candidate
generation instead of cross joins.
"""

# Lazy re-exports (PEP 562): the eager form imported session + catalog +
# topics + rollup + dedup (transitively pyspark.sql, pandas, numpy) the
# moment ANY submodule was touched — ~0.5 s added to every process that
# imports one module from the package, and the Python STREAMING source
# runner plus every executor worker that unpickles a reader/kernel is
# such a process (guide §1.4 fixed overheads: this was ~20% of a
# streaming query's bring-up). `from ripple_server_spark import
# TopicStore` still works; it just resolves on first attribute access.
_EXPORTS = {
    "get_spark": ("ripple_server_spark.session", "get_spark"),
    "TABLES": ("ripple_server_spark.catalog", "TABLES"),
    "load_table": ("ripple_server_spark.catalog", "load_table"),
    "register_views": ("ripple_server_spark.catalog", "register_views"),
    "TopicStore": ("ripple_server_spark.sources.topics", "TopicStore"),
    "HourlyRollup": ("ripple_server_spark.sources.rollup", "HourlyRollup"),
    "IncrementalSetSimJoin": (
        "ripple_server_spark.operators.dedup",
        "IncrementalSetSimJoin",
    ),
}


def __getattr__(name: str):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None
    import importlib

    value = getattr(importlib.import_module(mod_name), attr)
    globals()[name] = value  # cache: next access skips __getattr__
    return value


def _install_zipimport_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Every Spark Python task starts in
    ``pyspark.worker_util.setup_spark_files``, which calls
    ``importlib.invalidate_caches()``. Before CPython 3.12 each cached
    ``zipimporter`` then re-parses its archive's whole central
    directory (python/cpython#103200 made that lazy in 3.12). Workers
    import pyspark from ``pyspark.zip`` (~1.3k entries, 16-17 cached
    importers), so a reused worker spent ~300 ms re-reading an
    unchanged archive before each 3-20 ms task. The guard re-reads only
    when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from
    the one recorded at that importer's last re-read: a rewritten or
    replaced archive changes the key, and a stat failure or an importer
    with nothing on record re-reads exactly as 3.11 does. Installed once
    per process (idempotent on re-import); not needed on 3.12+. Every
    worker that unpickles an engine kernel, reader or writer imports
    this package, so the guard reaches every task after its worker's
    first.
    """
    import sys

    if sys.version_info >= (3, 12):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_ripple_stat_guard", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_ripple_dir_stat", None):
            return
        # stat BEFORE the read: a rewrite racing the read leaves the
        # older key on record, so the next call re-reads again
        reread(self)
        self._ripple_dir_stat = key

    invalidate_caches._ripple_stat_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_zipimport_guard()

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "register_views",
    "TopicStore",
    "HourlyRollup",
    "IncrementalSetSimJoin",
]
__version__ = "0.1.0"
