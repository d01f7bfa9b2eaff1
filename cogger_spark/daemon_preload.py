"""The engine's PySpark worker daemon: preloads the scientific stack and
stops every task from re-reading Spark's zip archives.

Enabled via spark.python.daemon.module=cogger_spark.daemon_preload
(session.py); requires this package on the worker PYTHONPATH. The daemon
forks one worker per task slot, and each worker is reused across tasks.
Whatever the daemon sets up before `manager()` forks is inherited by every
worker via copy-on-write.

1. numpy/pandas/pyarrow are imported once here, instead of once per forked
   worker when it unpickles its first Arrow kernel.
2. Every Python task runs pyspark's `worker_util.setup_spark_files`, which
   calls `importlib.invalidate_caches()`. On CPython 3.11 that makes every
   `zipimporter` re-read its archive's whole central directory
   (zipimport.py `invalidate_caches`). A worker holds ~16 of them over
   `pyspark.zip` (1,328 entries) and the spark-core jar (5,359 entries,
   15 MB), both on the worker PYTHONPATH: 0.21-0.33 s per task on a
   4-vCPU box, most of a rewrite task's run time (NOTES #35).
   `_invalidate_caches` replaces it with a version that re-reads an archive
   only when its (st_mtime_ns, st_size) differs from the stamp taken before
   the last read (CPython checks a .pyc against its source the same way).
   The archives the daemon already holds are stamped before forking, so a
   changed archive is still re-read, in every worker.
"""

import os
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import zlib  # noqa: F401

from pyspark.daemon import manager

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size), taken just BEFORE its directory
# was last read: a change racing the read leaves a stale stamp, so the
# next invalidation reads again
_stamps: dict = {}


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        # importers over one archive share the cached directory, which
        # the last re-read of any of them refreshed
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def _install() -> None:
    for archive in zipimport._zip_directory_cache:
        _stamps[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    _install()
    manager()
