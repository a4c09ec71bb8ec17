"""The worker-side zip archive pin (tzspark/_zippin.py): PySpark workers
stop re-reading Spark's own archives on every task's
importlib.invalidate_caches(), and keep re-reading every other archive.
CPython 3.13 made zipimport invalidation lazy, so there the pin does
nothing and these tests skip."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from tzspark._zippin import pin_spark_archives, pinned_root

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy on 3.13+"
)


def _archive(path, pkg: str) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "X = 1\n")
    return str(path)


def test_pin_skips_reread_only_inside_spark_home(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    pinned = _archive(home / "python" / "lib" / "pinned.zip", "zippin_pinned")
    shipped = _archive(tmp_path / "files" / "shipped.zip", "zippin_shipped")
    # the importers a worker's sys.path leaves in sys.path_importer_cache
    for archive, pkg in ((pinned, "zippin_pinned"), (shipped, "zippin_shipped")):
        assert importlib.machinery.PathFinder.find_spec(pkg, [archive]) is not None
    monkeypatch.setitem(sys.path_importer_cache, pinned, sys.path_importer_cache[pinned])
    monkeypatch.setitem(sys.path_importer_cache, shipped, sys.path_importer_cache[shipped])

    original = zipimport.zipimporter.invalidate_caches
    # undone at teardown: the pin replaces a class attribute process-wide
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    reads = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    importlib.invalidate_caches()
    assert reads.count(pinned) == 1 and reads.count(shipped) == 1

    assert pin_spark_archives(str(home))
    assert pin_spark_archives(str(home))  # idempotent: wraps the original once
    assert zipimport.zipimporter.invalidate_caches.reread is original
    assert pinned_root() == os.path.join(os.path.realpath(home), "")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(pinned) == 0 and reads.count(shipped) == 1
    # the pinned importer still serves its archive
    assert importlib.machinery.PathFinder.find_spec("zippin_pinned", [pinned]) is not None


def test_no_spark_home_no_pin(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.delenv("SPARK_HOME", raising=False)
    assert not pin_spark_archives()
    assert pinned_root() is None


def test_pin_installed_in_workers_not_driver(spark):
    """More tasks than cores, so workers are reused across tasks; every
    task sees the pin on its worker's Spark home, the driver has none."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def pin_state(x: pd.Series) -> pd.Series:
        import os

        from tzspark._zippin import pinned_root

        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        return pd.Series([f"{os.getpid()}|{pinned_root() == home}"] * len(x))

    n_tasks = 4 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, 2 * n_tasks, 1, n_tasks)
        .select(F.spark_partition_id().alias("task"), pin_state("id").alias("s"))
        .distinct()
        .collect()
    )
    assert len({r.task for r in rows}) == n_tasks
    assert all(r.s.endswith("|True") for r in rows)
    assert pinned_root() is None
