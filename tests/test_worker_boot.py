"""Python workers start cheaply.

``etl_geotab_spark.worker_boot`` (installed on package import) replaces
``zipimport.zipimporter.invalidate_caches``, which ``setup_spark_files``
reaches through ``importlib.invalidate_caches()`` before every task, so a
worker re-reads a zip archive on ``sys.path`` only when it changed.

``worker_boot.worker_spark_home`` gives ``get_spark`` the ``SPARK_HOME``
under which every Python worker imports the driver's installed PySpark,
not ``pyspark.zip``; it keeps the distribution whenever that is unsafe.
"""

from __future__ import annotations

import importlib
import inspect
import os
import shutil
import sys
import threading
import zipfile
import zipimport
from concurrent.futures import ThreadPoolExecutor

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
        assert r.zips > 0  # the spark-core jar (and pyspark.zip, py4j without a worker home)
        assert r.reads == 0


def test_setup_spark_files_still_invalidates_caches():
    """The seam the patch exists for. If a PySpark upgrade drops this call,
    the per-task re-read is gone and ``worker_boot`` can be deleted."""
    from pyspark import worker_util

    src = inspect.getsource(worker_util.setup_spark_files)
    assert "importlib.invalidate_caches()" in src


def test_workers_import_the_installed_pyspark(spark):
    """A task worker and a driver-side planner worker both import the
    driver's installed PySpark, not the distribution's ``pyspark.zip``."""
    import pyspark
    from pyspark.sql.datasource import DataSource

    def origin(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"file": [pyspark.__file__]})

    rows = spark.range(2, numPartitions=2).mapInPandas(origin, "file string").collect()
    assert {r.file for r in rows} == {pyspark.__file__}

    class PysparkOrigin(DataSource):
        """No schema given at load: ``schema()`` runs in a planner worker."""

        @classmethod
        def name(cls):
            return "pyspark_origin"

        def schema(self):
            import pyspark

            return "zip int" if ".zip" in pyspark.__file__ else "pkg int"

    spark.dataSource.register(PysparkOrigin)
    assert spark.read.format("pyspark_origin").load().columns == ["pkg"]


@pytest.fixture
def homes(tmp_path, monkeypatch):
    """Worker homes go under ``tmp_path``; workers run this interpreter."""
    monkeypatch.setattr(worker_boot, "HOMES", str(tmp_path / ".worker_home"))
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    monkeypatch.delenv("PYSPARK_DRIVER_PYTHON", raising=False)
    return worker_boot.HOMES


def _distribution(path, version_py=None):
    """A Spark distribution with ``bin/``, ``jars/`` and a ``pyspark.zip``
    holding two modules of the installed PySpark (``version_py`` replaces
    one of them)."""
    import pyspark

    pkg = os.path.dirname(pyspark.__file__)
    for d in ("bin", "jars", "python/lib"):
        (path / d).mkdir(parents=True)
    with zipfile.ZipFile(path / "python/lib/pyspark.zip", "w") as zf:
        zf.write(os.path.join(pkg, "__init__.py"), "pyspark/__init__.py")
        if version_py is None:
            zf.write(os.path.join(pkg, "version.py"), "pyspark/version.py")
        else:
            zf.writestr("pyspark/version.py", version_py)
    return str(path)


def _assert_home(home, dist):
    assert os.path.dirname(home) == worker_boot.HOMES
    dist = os.path.realpath(dist)
    assert sorted(os.listdir(home)) == sorted(e for e in os.listdir(dist) if e != "python")
    for e in os.listdir(home):
        assert os.readlink(os.path.join(home, e)) == os.path.join(dist, e)


def test_worker_home_links_all_but_python(homes, tmp_path):
    dist = _distribution(tmp_path / "spark")
    home = worker_boot.worker_spark_home(dist)
    _assert_home(home, dist)
    assert os.listdir(home) and "python" not in os.listdir(home)


def test_spark_home_without_pyspark_zip_unchanged(homes, tmp_path):
    for d in ("bin", "jars"):
        (tmp_path / "spark" / d).mkdir(parents=True)
    dist = str(tmp_path / "spark")
    assert worker_boot.worker_spark_home(dist) == dist
    assert not os.path.exists(homes)


def test_pyspark_zip_of_another_release_unchanged(homes, tmp_path):
    dist = _distribution(tmp_path / "spark", version_py='__version__ = "0.0.1"\n')
    assert worker_boot.worker_spark_home(dist) == dist
    assert not os.path.exists(homes)


def test_worker_interpreter_elsewhere_unchanged(homes, tmp_path, monkeypatch):
    dist = _distribution(tmp_path / "spark")
    fake = tmp_path / "python-elsewhere"
    fake.write_text(
        "#!/bin/sh\n"
        f"echo {tmp_path / 'other-prefix'}\n"
        f'echo "{tuple(sys.version_info)}"\n'
    )
    fake.chmod(0o755)
    monkeypatch.setenv("PYSPARK_PYTHON", str(fake))
    assert worker_boot.worker_spark_home(dist) == dist
    # the planner runners prefer PYSPARK_DRIVER_PYTHON: it is checked too
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    monkeypatch.setenv("PYSPARK_DRIVER_PYTHON", str(fake))
    assert worker_boot.worker_spark_home(dist) == dist
    assert not os.path.exists(homes)


def test_inherited_worker_home_kept(homes, tmp_path):
    dist = _distribution(tmp_path / "spark")
    home = worker_boot.worker_spark_home(dist)
    assert worker_boot.worker_spark_home(home) == home
    # another checkout's home maps back to its distribution
    other = tmp_path / "other" / ".worker_home" / os.path.basename(home)
    shutil.copytree(home, other, symlinks=True)
    assert worker_boot.worker_spark_home(str(other)) == home


def test_concurrent_first_callers_build_one_home(homes, tmp_path):
    dist = _distribution(tmp_path / "spark")
    start = threading.Barrier(16)

    def call(_):
        start.wait()
        return worker_boot.worker_spark_home(dist)

    with ThreadPoolExecutor(16) as ex:
        got = set(ex.map(call, range(16)))
    assert len(got) == 1
    (home,) = got
    _assert_home(home, dist)
    assert os.listdir(homes) == [os.path.basename(home)]  # no temp dir left


def test_stale_worker_home_rebuilt(homes, tmp_path):
    dist = _distribution(tmp_path / "spark")
    home = worker_boot.worker_spark_home(dist)
    shutil.rmtree(os.path.join(dist, "jars"))  # a link target is gone
    os.mkdir(os.path.join(dist, "conf"))
    assert worker_boot.worker_spark_home(dist) == home
    _assert_home(home, dist)
    assert sorted(os.listdir(home)) == ["bin", "conf"]
    assert os.listdir(homes) == [os.path.basename(home)]
