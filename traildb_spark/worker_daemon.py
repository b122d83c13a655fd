"""Spark's Python worker daemon without the per-task zip re-read.

``get_spark`` sets ``spark.python.daemon.module`` to this module; Spark
starts it as ``python -m traildb_spark.worker_daemon`` and it forks
workers exactly as ``pyspark.daemon`` does. PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and on CPython < 3.13
that makes every ``zipimporter`` re-read its archive's whole directory:
one importer per imported pyspark subpackage over ``pyspark.zip`` and two
over the Spark core jar, ~100-200 ms per task. :func:`install` makes an
importer re-read its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` changed since the last read, which is
the effect of 3.13's lazy re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Patch ``zipimport`` in this process; forked workers inherit it.
    A no-op on CPython >= 3.13 and when already installed."""
    if sys.version_info >= (3, 13) or hasattr(zipimport.zipimporter.invalidate_caches, "lazy"):
        return
    cache = zipimport._zip_directory_cache
    keys = {}  # archive path -> its stat key taken just before its last read
    read = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def read_directory(archive):
        key = _stat_key(archive)
        files = read(archive)
        keys[archive] = key
        return files

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is not None and key == keys.get(self.archive) and self.archive in cache:
            self._files = cache[self.archive]  # share the newest read of the archive
        else:
            reread(self)

    invalidate_caches.lazy = True
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in list(cache):  # read before the patch: read once more, keyed
        try:
            cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            del cache[archive]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
