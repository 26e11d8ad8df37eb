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
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


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
