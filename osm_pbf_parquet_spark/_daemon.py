"""The Python worker daemon: ``pyspark.daemon``, run unchanged, after a
fix to zip-archive imports that every worker it forks inherits.

Why. Before every task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Up to Python 3.12, ``zipimport.zipimporter.invalidate_caches`` then
re-reads its archive's whole directory, and a worker that imports pyspark
from ``pyspark.zip`` (3.5 MB, 1,328 entries) holds one zip importer per
imported package of it: 16, so ~21k directory entries parsed before
each task starts. A worker's CPU between two trivial tasks is 0.13-0.15 s
with the stock method and 0.02-0.03 s with this fix (Python 3.11, 4
vCPU, medians). Python 3.13 only drops the shared cache, so there
nothing is patched.

The fix. Each importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp of the
directory that importer holds. The stamp is per importer, not per
archive path: after one importer re-reads a changed archive, the others
still hold the old directory and must re-read on their own next call.
A new importer takes its directory from zipimport's shared cache; it is
stamped only when that cache entry is the very directory a stamped
re-read produced. The importers the daemon holds when it starts are
re-read once per archive and stamped, so a worker's first task skips
the re-read too.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
Spark starts it as ``python -m osm_pbf_parquet_spark._daemon <worker
module>``, the argument ``pyspark.daemon`` reads.
"""

from __future__ import annotations

import os
import sys
import zipimport


def needs_fix(version=sys.version_info) -> bool:
    """Whether this Python re-reads a zip directory on every
    ``invalidate_caches`` (it does up to 3.12)."""
    return tuple(version) < (3, 13)


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None  # unreadable: re-read, as the stock method does
    return st.st_mtime_ns, st.st_size, st.st_ino


def install(version=sys.version_info) -> bool:
    """Patch ``zipimport.zipimporter`` in this process and stamp the zip
    importers it holds. → whether anything was patched: nothing on
    Python ≥ 3.13 or when already installed."""
    cls = zipimport.zipimporter
    if not needs_fix(version) or hasattr(cls.invalidate_caches, "stock"):
        return False
    reread, init = cls.invalidate_caches, cls.__init__
    # archive path → (stamp, directory) of its last stamped re-read, for
    # stamping the importers created from zipimport's shared cache
    last_read: dict = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_dir_stamp", None):
            return
        reread(self)
        self._dir_stamp = stamp
        last_read[self.archive] = (stamp, self._files)

    def __init__(self, path):
        init(self, path)
        stamp, files = last_read.get(self.archive, (None, None))
        if files is self._files:
            self._dir_stamp = stamp

    invalidate_caches.stock = reread
    cls.invalidate_caches, cls.__init__ = invalidate_caches, __init__
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            stamp, files = last_read.get(importer.archive, (None, None))
            if files is None:
                importer.invalidate_caches()
            else:
                importer._files, importer._dir_stamp = files, stamp
    return True


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
