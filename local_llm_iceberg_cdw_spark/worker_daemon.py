"""Spark's Python worker daemon, with a stat-checked zipimport cache reset.

``session.build_session`` points ``spark.python.daemon.module`` here, so
every Python worker Spark forks for a task inherits this process's state.
PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at
the start of each task; before CPython 3.13, ``zipimporter.invalidate_caches``
eagerly re-reads the whole archive directory, and a worker holds about 16
zipimporters over the spark-core jar, ``pyspark.zip`` and py4j: about
0.2 s per task.  The replacement re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the one that importer last read,
so a zip rewritten in place (an ``addPyFile`` update) is still picked up.
3.13 made the reset lazy, and there nothing is patched.

Run as ``python -m local_llm_iceberg_cdw_spark.worker_daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives, and
    read every archive already open once so its importer knows its key."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        key = _archive_key(self.archive)  # taken before the read it vouches for
        if key is None or key != getattr(self, "_read_key", None):
            reread(self)
            self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager  # opens the archives workers import from

    if sys.version_info < (3, 13):
        patch_zipimport()
    manager()
