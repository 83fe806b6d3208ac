"""A stat-gated `zipimport.zipimporter.invalidate_caches` for Python < 3.13.

Spark's Python worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark.worker_util.setup_spark_files`).  Before 3.13 that
makes every zipimporter re-read its archive's central directory eagerly,
and a worker holds one zipimporter per package imported from a zip: each
task re-reads `pyspark.zip` (3.5 MB) about sixteen times, plus every
`--py-files` archive.  That is most of an empty task's cost.

`install()` swaps in a version that re-reads an archive only when that
importer's `(st_ino, st_mtime_ns, st_size)` changed since its last read, so
a rewritten archive is still picked up.  3.13 made the stock method lazy;
there `install()` does nothing.  The package `__init__` calls it, so a
reused worker installs it while unpickling its first engine UDF.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install"]

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed on disk."""
    # stat before the read: an archive rewritten during the read differs
    # from this stamp, so the next call re-reads it
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_zipcache_stamp", None):
        return
    _stock_invalidate(self)
    self._zipcache_stamp = stamp


def install() -> None:
    """Patch `zipimporter.invalidate_caches` (idempotent; a no-op on 3.13+)."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
