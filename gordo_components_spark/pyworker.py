"""Python worker daemon for the sessions ``session.get_spark`` launches.

Spark forks every Python task's worker from one daemon process per
executor (``spark.python.daemon.module``).  Before each task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython ≤ 3.12
``zipimporter.invalidate_caches`` re-reads the central directory of its
archive at once, for each cached importer: ~16 reads of ``pyspark.zip``
(1328 entries) per task, most of a task's fixed CPU cost.  This module
makes that call re-read an archive only when its size, mtime or inode
changed since the last read, then runs ``pyspark.daemon.manager()``
unchanged; the workers it forks inherit the rule.

It imports nothing for the workers ahead of time: pre-importing numpy,
pandas or pyarrow here only moves their import cost onto the daemon's
serial start.

    python -m gordo_components_spark.pyworker   # started by Spark, not by hand
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches
# archive path -> (size, mtime_ns, inode), stat'ed before its last read
_read_at: dict[str, tuple | None] = {}


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino


def _invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _reload(self)
    _read_at[self.archive] = key


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed
    archive.  A no-op where the interpreter already reads lazily
    (CPython 3.13+ drops the cached directory and reads it on next use)."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    # read each imported archive once here, so a forked worker's first
    # task finds its stat recorded
    importlib.invalidate_caches()
    manager()
