"""PySpark worker daemon for local sessions (``spark.python.daemon.module``).

At the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. Before CPython 3.12 that makes
every ``zipimporter`` on the worker's ``sys.path`` re-read its whole
archive directory at once (pyspark.zip, the py4j zip and the spark-core
jar: ~27k entries, 0.10-0.20 s per task on a 4-core host); 3.12 made the
re-read lazy. Run as ``python -m``, this module installs a guard that
keeps the stock re-read but skips it while the archive's stat stamp is
the one of its last read, then starts the stock daemon, whose forked
workers inherit the guard. The stamp is kept per archive, not per
importer: a task's imports create new importers for subpackage paths
inside pyspark.zip, and a per-importer stamp made each worker's second
task re-read the archive once more for each of them.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def guarded(reread):
    """The guard around ``reread`` (the stock directory re-read): it runs
    ``reread`` only when the archive was never read through the guard,
    changed since that read, or is gone; otherwise the importer takes the
    cached directory. The guard keeps ``reread`` as an attribute of the
    same name."""
    stamps: dict = {}  # archive -> stamp of its directory in the cache

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or stamps.get(self.archive) != stamp:
            reread(self)
            stamps[self.archive] = stamp
        else:
            self._files = files

    invalidate_caches.reread = reread
    return invalidate_caches


def install() -> None:
    """Put the guard around ``zipimporter``'s stock re-read in this process,
    on CPython < 3.12 only. Later versions re-read lazily."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = guarded(zipimport.zipimporter.invalidate_caches)


if __name__ == "__main__":
    import importlib

    import pyspark.daemon

    install()
    # stamp the archives once here, so forked workers skip even the first re-read
    importlib.invalidate_caches()
    pyspark.daemon.manager()
