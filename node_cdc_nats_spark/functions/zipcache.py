"""Stat-gated zip directory re-reads for Spark's Python processes.

Every Python task Spark starts, on a reused UDF worker or a reused
planner fork alike, runs ``pyspark.worker_util.setup_spark_files``, which
ends with ``importlib.invalidate_caches()``. On Python 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read and
re-parse its archive's central directory. Spark puts ``pyspark.zip``
(about 1,300 entries), the py4j zip and the spark-core jar (about 5,400
entries) on the worker's ``PYTHONPATH``, and a reused worker holds 16
such importers, so each task spends 200-330 ms re-reading directories
that have not changed.

``gate_zip_rereads`` replaces ``zipimporter.invalidate_caches`` once per
process with a version that re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken before
this process last read it; otherwise the importer is pointed at
``zipimport._zip_directory_cache[archive]``, which already holds that
read. A replaced archive (new inode), or one rewritten in place (new
mtime or size), is re-read as before. Installing reads each cached
archive once, under a stamp, so the first gated call already skips.

The gate only touches private ``zipimport`` names. When any of them is
missing (another Python version), installing does nothing and importers
keep the stock behaviour. Like the codec, this module runs on Spark's
workers without the package on ``sys.path``, so it is registered with
cloudpickle to ship by value; the state of the gate lives on the
installed function, which outlives the unpickled module copies.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def gate_zip_rereads() -> None:
    """Install the stat-gated ``zipimporter.invalidate_caches`` in this
    process. Idempotent: returns at once when the gate is installed."""
    cls = zipimport.zipimporter
    stock = getattr(cls, "invalidate_caches", None)
    if stock is None or getattr(stock, "stat_gated", False):
        return
    cache = getattr(zipimport, "_zip_directory_cache", None)
    read_directory = getattr(zipimport, "_read_directory", None)
    if not isinstance(cache, dict) or read_directory is None:
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    # archive path -> stamp taken just before this process last read it.
    stamps: dict = {}
    for archive in list(cache):
        before = stamp(archive)
        try:
            cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            continue  # the stock method drops it on its next call
        if before is not None:
            stamps[archive] = before

    def invalidate_caches(self):
        archive = getattr(self, "archive", None)
        if archive is None or not hasattr(self, "_files"):
            return stock(self)
        now = stamp(archive)
        files = cache.get(archive)
        if now is not None and files is not None and stamps.get(archive) == now:
            self._files = files
            return None
        stamps.pop(archive, None)
        stock(self)
        if now is not None and archive in cache:
            stamps[archive] = now
        return None

    invalidate_caches.stat_gated = True
    cls.invalidate_caches = invalidate_caches
