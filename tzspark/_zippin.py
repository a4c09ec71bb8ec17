"""Stop PySpark workers re-reading Spark's own zip archives on every task.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``, after it puts
the task's ``--py-files`` on ``sys.path``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory at once, and it does so for every cached importer, i.e. for every
package directory imported from the archive. With Spark 4.1 that is 16
directory reads per task over ``pyspark.zip`` (1,328 entries), the py4j zip
and the ``spark-core`` jar (5,359 entries): about 0.25 s of worker CPU per
task, against ~40 ms of lookup kernel work in a 20k-row task.

CPython 3.13 made the method lazy (``Lib/zipimport.py``: it only drops the
archive from ``_zip_directory_cache``, and the directory is read again the
next time an import consults that archive). ``pin_spark_archives`` goes one
step further for the archives inside the Spark installation and skips the
re-read altogether: a worker's ``pyspark.zip``, py4j zip and Spark jars
cannot change while the worker is alive, so the cached directory stays
right. Every other archive keeps the eager re-read, in particular those
shipped with ``SparkContext.addPyFile``/``--py-files``: they sit in the
SparkFiles directory, where a later ``addFile`` of the same name may
replace one (``spark.files.overwrite``) while the worker lives.
"""

from __future__ import annotations

import os
import sys
import zipimport


def pinned_root():
    """The directory whose archives are pinned in this process, or None."""
    return getattr(zipimport.zipimporter.invalidate_caches, "pinned_root", None)


def pin_spark_archives(spark_home: str = None) -> bool:
    """Make ``zipimporter.invalidate_caches`` skip the directory re-read for
    archives under ``spark_home`` (default ``$SPARK_HOME``); archives
    elsewhere are re-read as before. Returns whether the pin is in place.
    Idempotent. Does nothing on CPython >= 3.13, where invalidation is
    already lazy, or when no Spark home is known."""
    if sys.version_info >= (3, 13):
        return False
    home = spark_home or os.environ.get("SPARK_HOME")
    if not home:
        return False
    root = os.path.join(os.path.realpath(home), "")
    current = zipimport.zipimporter.invalidate_caches
    reread = getattr(current, "reread", current)  # re-pinning wraps the original

    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(root):
            reread(self)

    invalidate_caches.pinned_root = root
    invalidate_caches.reread = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def pin_if_worker() -> bool:
    """``pin_spark_archives()`` when this process is a PySpark worker (the
    worker sets ``SparkFiles._is_running_on_worker`` before it unpickles a
    task's functions, which is what imports tzspark there); otherwise do
    nothing. Never imports pyspark itself."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return False
    return pin_spark_archives()
