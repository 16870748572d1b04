"""Python workers re-read a zip archive on ``sys.path`` only when it changed.

``etl_geotab_spark.worker_boot`` (installed on package import) replaces
``zipimport.zipimporter.invalidate_caches``, which ``setup_spark_files``
reaches through ``importlib.invalidate_caches()`` before every task.
"""

from __future__ import annotations

import importlib
import inspect
import sys
import zipfile
import zipimport

import pytest

import etl_geotab_spark  # noqa: F401 - installs the patch
from etl_geotab_spark import worker_boot


def _count_reads(monkeypatch):
    """Record every archive ``zipimport._read_directory`` reads."""
    reads: list[str] = []
    orig = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(name, body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding package ``wb_pkg``; every trace of it
    (modules, importers, cached directory, stamp) is dropped afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wb_pkg/__init__.py": "", "wb_pkg/old.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("wb_pkg", "wb_pkg.old", "wb_pkg.new"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if str(k).startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    worker_boot._reads.pop(path, None)


def test_invalidate_rereads_only_a_changed_archive(archive, monkeypatch):
    if sys.version_info < (3, 13):
        assert zipimport.zipimporter.invalidate_caches is worker_boot._invalidate_caches
    assert importlib.import_module("wb_pkg.old").VALUE == 1
    # two importers over one archive: the root and the package prefix
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 2

    importlib.invalidate_caches()  # the first call may read; it stamps
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []

    # rewritten in place with one more module: the size and mtime change
    _write_zip(
        archive,
        {
            "wb_pkg/__init__.py": "",
            "wb_pkg/old.py": "VALUE = 1\n",
            "wb_pkg/new.py": "VALUE = 2\n",
        },
    )
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert reads == [archive]  # both importers share one read
    assert importlib.import_module("wb_pkg.new").VALUE == 2

    importlib.invalidate_caches()
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []


def test_spark_worker_invalidate_reads_no_archive(spark):
    """In a real Python worker that has run an engine task, the per-task
    ``importlib.invalidate_caches()`` reads no archive directory."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import etl_geotab_spark  # noqa: F401 - what every engine task imports

        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()  # the first patched call stamps
        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or orig(p)
        try:
            importlib.invalidate_caches()  # the next task's setup call
        finally:
            zipimport._read_directory = orig
        yield pd.DataFrame(
            {"zips": [zips], "reads": [len(reads)]}
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "zips long, reads long")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.zips > 0  # pyspark.zip, py4j and the spark-core jar
        assert r.reads == 0


def test_setup_spark_files_still_invalidates_caches():
    """The seam the patch exists for. If a PySpark upgrade drops this call,
    the per-task re-read is gone and ``worker_boot`` can be deleted."""
    from pyspark import worker_util

    src = inspect.getsource(worker_util.setup_spark_files)
    assert "importlib.invalidate_caches()" in src
