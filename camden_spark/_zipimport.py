"""Stat-validated ``zipimporter.invalidate_caches`` for CPython 3.10/3.11.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before every
task, and on 3.10/3.11 each ``zipimporter`` then re-reads its archive's whole
central directory.  A worker importing pyspark from ``pyspark.zip`` holds
one importer per imported pyspark package on that one archive, so every task
re-parses it many times (150-300 ms of CPU per task, more than a vectorized
kernel spends on a batch).

Installed by ``camden_spark/__init__.py``: every engine UDF unpickles by
reference into ``camden_spark.*``, so each worker installs it during its
first engine task.  An archive's directory is re-read only when its
``(st_size, st_mtime_ns)`` changed since this process last read it;
otherwise the importer is pointed at the already-cached listing.  A changed
or unstat-able archive takes the stock path, so a rewritten zip is still
picked up.  CPython 3.12 made invalidation lazy upstream (gh-103200).
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport

_STOCK = getattr(zipimport.zipimporter, "invalidate_caches", None)
if getattr(_STOCK, "__module__", None) == __name__:  # reload: keep the original
    _STOCK = _STOCK.__wrapped__
#: archive path -> (st_size, st_mtime_ns) taken before this process last read it
_read_at: dict[str, tuple[int, int]] = {}
#: stat, read and record as one step, so a concurrent invalidation can never
#: record a newer key next to an older listing
_lock = threading.RLock()


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed."""
    with _lock:
        key = _stat_key(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        unchanged = key is not None and _read_at.get(self.archive) == key
        if unchanged and cached is not None:
            self._files = cached
            return
        _read_at.pop(self.archive, None)
        _STOCK(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key


def install() -> None:
    """Idempotent: a re-import (or a second copy of the package) finds the
    method already replaced and leaves it alone."""
    current = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if (
        current is None
        or not (3, 10) <= sys.version_info < (3, 12)
        or current.__module__ == __name__
    ):
        return
    invalidate_caches.__wrapped__ = _STOCK
    zipimport.zipimporter.invalidate_caches = invalidate_caches
