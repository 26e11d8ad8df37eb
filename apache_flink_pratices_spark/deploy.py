"""Worker-side deployment of this package.

Queries that run Python stages (``mapInPandas``, the keyed runner of
``streaming.watermarks``) pickle their functions by reference, so the
executors' Python workers must be able to ``import
apache_flink_pratices_spark`` — which only works by accident when the
driver process happens to run with the repo as cwd. :func:`ensure_shipped`
zips the package once and ``addPyFile``s it onto the running context, so
the engine works under ANY host session regardless of its working
directory (and, on a real cluster, on every executor without a shared
filesystem).

:func:`keep_unchanged_zip_directories` runs on package import, so in every
Python worker that unpickles an engine function: it stops the worker from
re-reading ``pyspark.zip`` on every task (see its docstring).
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()

#: archive path -> (st_ino, st_size, st_mtime_ns) when it was last read
_ZIP_READ_STAT: dict[str, tuple[int, int, int]] = {}


def _package_zip() -> str:
    import apache_flink_pratices_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"afp_spark_pkg_{os.getuid()}_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently distribute this package to the session's workers."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(key)


def keep_unchanged_zip_directories() -> None:
    """Backport Python 3.13's lazy ``zipimporter.invalidate_caches``.

    A Python worker calls ``importlib.invalidate_caches()`` at the start of
    every task (``pyspark.worker_util.setup_spark_files``). Before 3.13 that
    makes each zipimporter on ``sys.path`` re-read its archive's central
    directory at once, and a worker holds one per package it imported from
    ``pyspark.zip`` (3.5 MB, 1328 entries): most of a small task's time.
    The wrapper reuses the cached directory while the archive's inode, size
    and mtime match the last read; a changed, replaced or missing archive
    goes through the stdlib method as before. Installed once, and only
    below 3.13, whose method merely drops the cache entry.
    """
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stat = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stat = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stat is not None and files is not None and _ZIP_READ_STAT.get(self.archive) == stat:
            self._files = files
            return
        original(self)
        # stat was taken before the read, so a later change still differs
        if stat is not None and self.archive in zipimport._zip_directory_cache:
            _ZIP_READ_STAT[self.archive] = stat

    zipimport.zipimporter.invalidate_caches = invalidate_caches
