"""Inside a PySpark worker: keep Spark's own archives' import
directories across tasks.

Before every task, PySpark's worker (``worker_util.setup_spark_files``)
calls ``importlib.invalidate_caches()`` so that files added with
``addPyFile`` become importable.  On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory — one importer per imported package directory
of pyspark.zip, py4j and the spark-core jar, about 16 in a worker that
ran a ``mapInArrow``.  Measured on a 4-core VM (CPython 3.11.7,
PySpark 4.1.2), that call takes 100-220 ms of every Python task,
while the archives under ``$SPARK_HOME`` do not change while the
worker lives.

``install()`` makes ``zipimporter.invalidate_caches`` skip archives
whose real path lies under ``$SPARK_HOME`` (pyspark.zip, py4j and the
jars).  Every other archive — ``--py-files``, ``addPyFile`` zips in
the SparkFiles directory — still re-reads.  It does nothing outside a
worker, so the driver's importers are never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _spark_roots():
    home = os.environ.get("SPARK_HOME")
    return (os.path.join(os.path.realpath(home), ""),) if home else ()


def _skipping(reread):
    roots = _spark_roots()
    spark_archive = {}

    def invalidate_caches(self):
        skip = spark_archive.get(self.archive)
        if skip is None:
            skip = spark_archive[self.archive] = os.path.realpath(
                self.archive).startswith(roots)
        if not skip:
            reread(self)

    invalidate_caches.rsx_rereads = reread
    return invalidate_caches


def in_worker() -> bool:
    """Whether this process is a PySpark worker: its per-task set-up
    has marked ``SparkFiles`` before any task code is unpickled."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files is not None
                and getattr(files.SparkFiles, "_is_running_on_worker", False))


def install() -> None:
    """Skip the per-task re-read of Spark's own archives, in a worker
    only; idempotent."""
    cls = zipimport.zipimporter
    if in_worker() and not hasattr(cls.invalidate_caches, "rsx_rereads"):
        cls.invalidate_caches = _skipping(cls.invalidate_caches)
