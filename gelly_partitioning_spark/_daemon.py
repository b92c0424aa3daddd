"""The PySpark worker daemon of engine sessions (``session.PYTHON_DAEMON``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that
makes every ``zipimporter`` on the worker's ``sys.path`` re-read its
archive's whole central directory: pyspark.zip (1,328 entries) once per
pyspark subpackage the worker has imported, and the spark-core jar
(5,359 entries). That cost 130-250 ms of every Python task (PySpark
4.1.2, CPython 3.11.7, 4 vCPUs), where the single-task rung's numpy
kernel takes a few milliseconds.

This module installs a guard that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since it was last read, reads each
archive once, then runs PySpark's own daemon. Workers are forked from
the daemon, so every Python task of the session runs under the guard
from its first task on. CPython 3.12 re-reads an invalidated directory
lazily (gh-103200); there the guard is not installed.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install_zip_guard() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip an archive that has not
    changed since it was last read; whether the guard is installed."""
    if sys.version_info >= (3, 12):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> ((st_mtime_ns, st_size) taken before its last read, its
    # directory): per archive, as zipimport's own directory cache, so the
    # importers of one archive's subpackages share one read
    read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = read.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        reread(self)
        read[self.archive] = (stamp, self._files)

    invalidate_caches.guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install_zip_guard()
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # each archive read here once, not in every worker
    manager()
