"""Per-task import-cache upkeep in the Python workers (stdlib only).

pyspark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``). Before CPython 3.12
(gh-103200 made it lazy), ``zipimport.zipimporter.invalidate_caches``
re-reads the whole central directory of its archive at once. A worker
holds one zipimporter per package path imported from ``pyspark.zip``
(16 after a ``mapInPandas`` task, over 1,328 entries), so each task
reads that directory 16 times: 110-215 ms of CPU per task on a 4-vCPU
host, nearly all of a no-op task.

``install()`` makes that re-read conditional on the archive having
changed since the last read, by its ``(st_ino, st_size, st_mtime_ns)``.
An unchanged archive's importer points at the directory already cached
for it; a changed, missing or unreadable one takes the original path.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp of the directory in _zip_directory_cache
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _original(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # the stamp is taken before the read: a write racing the read leaves
    # a stale stamp, so the next call reads again
    _original(self)
    if self.archive in zipimport._zip_directory_cache:  # the read worked
        _stamps[self.archive] = stamp


def install() -> None:
    """Make zipimport's per-invalidate re-read stat-checked (Python < 3.12;
    idempotent). Importing ``ragflow_spark`` calls it, so a worker has it
    from the first task that unpickles one of the package's functions."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
