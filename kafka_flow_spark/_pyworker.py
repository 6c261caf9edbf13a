"""Python-worker bootstrap: stat-checked ``zipimport`` cache invalidation.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``), so that files shipped with
``addPyFile`` become importable.  Before Python 3.13 that call makes every
``zipimporter`` re-read its archive's central directory in pure Python — and
the worker imports pyspark from ``pyspark.zip``, whose ~1300 entries sit
behind one importer per imported sub-package (about 14).  Measured on a 4 vCPU
host: 110-280 ms per task, whatever the task does.

``install()`` replaces ``zipimporter.invalidate_caches`` with the rule
``FileFinder`` already uses for directories: re-read an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the one seen at its last read.
An unchanged archive costs one ``stat``; a new or rewritten one is still
re-read, once, and every importer of that archive shares the fresh directory.
Python 3.13 made this invalidation lazy itself, so there ``install`` does
nothing.

The package ``__init__`` calls ``install()``: a worker that unpickles any of
this package's functions has it from its next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked (idempotent)."""
    if sys.version_info >= (3, 13):
        return
    importer = zipimport.zipimporter
    reread = importer.invalidate_caches
    if getattr(reread, "_stat_checked", False):
        return
    # archive path -> (st_mtime_ns, st_size, st_ino) at its last directory read
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            stamp = _stamp(self.archive)
        except OSError:  # gone: let the original drop it from the cache
            stamps.pop(self.archive, None)
            reread(self)
            return
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files  # another importer may have re-read it
            return
        # stat before the read: a change racing the read shows up next call
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches._stat_checked = True
    importer.invalidate_caches = invalidate_caches
