"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), after putting the task's
``--py-files`` on ``sys.path``. On Python < 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, once per zipimporter in ``sys.path_importer_cache``:
one per imported ``pyspark.zip`` subpackage (~0.01 s each) and two for the
spark-core jar (~0.05 s each), so 0.2-0.3 s of every Python task goes
before the UDF starts.

``install()`` wraps both ends: ``zipimport._read_directory`` records the
archive's ``(st_mtime_ns, st_size)`` taken just before each read, and
``invalidate_caches`` reuses ``zipimport._zip_directory_cache`` when that
stamp still matches and the cache still holds the archive. Anything else
(a rewritten or deleted archive, one read before ``install``, a stat
error) falls through to the original method. Python 3.12 made the re-read
lazy, so there the guard is not installed.

Importing ``ocr_spark`` installs it, so every Python worker that runs an
engine UDF carries it from its first task on; reused workers keep it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) stat'ed before its last directory read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    if sys.version_info >= (3, 12) or zipimport.zipimporter.invalidate_caches.__module__ == __name__:
        return
    read_directory = zipimport._read_directory
    invalidate_caches = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        stamp = _stamp(archive)  # before the read: a write during it re-reads next time
        files = read_directory(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    def guarded_invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if cached is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = cached
            return
        invalidate_caches(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
