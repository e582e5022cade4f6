"""Filesystem seam for executor-direct DATA-file writes (r13,
VERDICT r12 item 7).

Two kernels bypass Spark's committer and write parquet straight to
final locations from executor workers — the topic staging kernel
(``staging.stage_kernel``, behind produce, both compactions and the
native sink's write tasks; a local-relation produce runs it on the
driver) and the rollup's per-hour partition write
(``rollup._write_hours``). The staged files' mtime refresh before an
append or rewrite commit (``manifest.touch``) goes through the same
seam. Through round 12 they called ``os.*`` /
``pyarrow.parquet`` directly, which silently assumed a POSIX shared
filesystem on the engine's hottest write paths. This module is the
ONE swap point: every executor-direct data write goes through
``DATA_FS``, whose default is the POSIX implementation below, and a
deployment whose topic store lives on non-POSIX storage replaces it
once (``fsio.DATA_FS = MyFS()`` in the engine bootstrap shipped to
workers) instead of patching each kernel. fsspec is the natural
backing for such an implementation; it is not vendored here because
this environment is offline — the seam is the contract, the POSIX
class the reference implementation.

Scope is deliberately the DATA plane only. The manifest COMMIT
protocol (atomic ``os.link`` / ``O_CREAT|O_EXCL`` slot claims,
manifest.claim) is a different contract — it needs an
atomic create-if-absent primitive, which object stores express
differently (e.g. S3 conditional PUT) — and stays where it lives;
SCALE.md documents both contracts side by side.

Kernels capture ``DATA_FS`` via this importable module, so executor
workers resolve the deployment's instance at unpickle time (functions
defined in ``__main__`` would instead freeze a copy — keep overrides
in an importable bootstrap).
"""

from __future__ import annotations

import os


class PosixDataFS:
    """POSIX reference implementation: local disk / NFS-class shared
    filesystems, where rename is atomic and directories are real."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def parquet_writer(self, path: str, schema):
        """An open ``pyarrow.parquet.ParquetWriter`` for streaming
        row-group appends (the topic staging kernel)."""
        import pyarrow.parquet as pq

        return pq.ParquetWriter(path, schema)

    def write_table(self, table, path: str) -> None:
        import pyarrow.parquet as pq

        pq.write_table(table, path)

    def replace(self, src: str, dst: str) -> None:
        """Atomic last-writer-wins publish (the rollup's
        dynamic-partition-overwrite analog). Object-store
        implementations may substitute an overwriting PUT: the caller
        contract is only that readers see the old or the new file,
        never a torn one."""
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def utime(self, path: str) -> None:
        os.utime(path)


# The swap point. Executor-direct data writes resolve this attribute at
# call time (not import time), so replacing it in a bootstrap module
# that ships to workers retargets every kernel at once.
DATA_FS = PosixDataFS()
