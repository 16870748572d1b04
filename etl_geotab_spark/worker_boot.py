"""Start-up cost of Spark's Python workers.

**Where workers import PySpark from.** Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` (1,170 ``.py`` files, no bytecode)
and the py4j zip first on every Python worker's ``PYTHONPATH``, and
zipimport never caches compiled code. So every Python daemon the JVM
starts (the DataSource planners ``lookup_data_sources``,
``create_data_source``, ``plan_data_source_read``,
``write_into_data_source``, ``commit_data_source_write``, and
``pyspark.worker``) compiled PySpark from source again: importing
``pyspark.daemon`` took 0.73-0.84 s from the zip and 0.14-0.15 s from
site-packages (4-core VM). ``worker_spark_home`` returns a *worker home* for
``get_spark`` to launch the JVM with: symlinks to every top-level entry of
the Spark distribution but ``python/``. Spark derives the zip paths from
the JVM's ``SPARK_HOME`` alone (``PythonUtils.sparkPythonPath``), so under
the worker home they do not exist, and every worker imports the driver's
installed, byte-compiled ``pyspark`` and ``py4j``. It is used only when
that is the same code (see ``worker_spark_home``); otherwise workers start
from the zips as before.

**The per-task re-read of zip archives.** Before every task a Python
worker runs ``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. Up to CPython 3.12 that call makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole directory. A worker started from the zips holds 16 of
them: 12 over ``pyspark.zip`` (one per package prefix, 1,328 entries),
2 over py4j and 2 over the spark-core jar (5,359 entries, none of them
Python). Under a worker home only the jar's 2 remain. Measured in a
reused ``pyspark.worker`` on a 4-core VM, CPU per task: 103 ms with the
16, 43 ms with the jar's 2. That is paid per task, not per job, and is
the larger part of a reused worker's time on the engine's small tasks.

``install`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its stamp (inode, size, ``st_mtime_ns``)
differs from the stamp taken before its last re-read (0.03-0.06 ms per
task). Importers over the same archive share that one read through
``zipimport._zip_directory_cache``. An archive that is rewritten or
replaced is still picked up, which is what the stdlib call exists for. A
rewrite that keeps the inode, the size and the mtime (to the filesystem's
timestamp resolution) is not; bytecode caching makes the same trade with a
source file's mtime and size.

CPython 3.13 already makes the call lazy (it only drops the cached
directory, and the next lookup reads it), so nothing is installed there.

The package calls ``install`` on import. Every worker that unpickles engine
code imports the package: the Python DataSource planner workers and every
task worker that runs an engine function. A reused worker keeps the patch
for all its later tasks.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
import zipimport
import zlib

# archive path -> (its stamp taken just before the last re-read, the
# directory that read returned). Kept as one pair, replaced in one store, so
# two threads re-reading a changing archive cannot leave one's stamp on the
# other's directory.
_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    archive = self.archive
    stamp = _stamp(archive)
    last = _reads.get(archive)
    if (
        last is not None
        and last[0] == stamp
        and last[1] is zipimport._zip_directory_cache.get(archive)
    ):
        self._files = last[1]
        return
    # the stdlib body (3.10-3.12)
    try:
        files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        self._files = {}
        _reads.pop(archive, None)
        return
    self._files = zipimport._zip_directory_cache[archive] = files
    if stamp is None:
        _reads.pop(archive, None)
    else:
        _reads[archive] = (stamp, files)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read changed archives only
    (CPython < 3.13; idempotent)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


# Worker homes live here, one per Spark distribution, one set per checkout.
# The leading dot keeps recursive globs of the package out of them.
HOMES = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".worker_home")


def spark_distribution(spark_home: str) -> str:
    """The Spark distribution behind ``spark_home``: itself, or the one a
    worker home (of any checkout) links to."""
    bin_link = os.path.join(spark_home, "bin")
    parent = os.path.basename(os.path.dirname(os.path.abspath(spark_home)))
    if parent == os.path.basename(HOMES) and os.path.islink(bin_link):
        return os.path.dirname(os.readlink(bin_link))
    return spark_home


def _zip_is_installed_pyspark(spark_home: str) -> bool:
    """Every module of ``$SPARK_HOME/python/lib/pyspark.zip`` that the
    driver's installed PySpark also has is byte-identical to it (zip CRC
    against the file), ``pyspark/__init__.py`` and ``pyspark/version.py``
    among them. The zip's extra files are PySpark's own tests."""
    import pyspark

    root = os.path.dirname(os.path.dirname(os.path.abspath(pyspark.__file__)))
    required = {"pyspark/__init__.py", "pyspark/version.py"}
    try:
        with zipfile.ZipFile(os.path.join(spark_home, "python", "lib", "pyspark.zip")) as zf:
            for info in zf.infolist():
                try:
                    with open(os.path.join(root, info.filename), "rb") as f:
                        data = f.read()
                except OSError:
                    continue  # a directory, or a file pip leaves out
                if zlib.crc32(data) != info.CRC:
                    return False
                required.discard(info.filename)
    except (OSError, zipfile.BadZipFile):
        return False
    return not required


def _runs_this_interpreter(exe: str) -> bool:
    """``exe`` reports this process's ``sys.prefix`` and
    ``sys.version_info``, so it imports the same installed packages."""
    found = shutil.which(exe)
    if found and os.path.abspath(found) == os.path.abspath(sys.executable):
        return True
    try:
        out = subprocess.run(
            [exe, "-c", "import sys; print(sys.prefix); print(tuple(sys.version_info))"],
            capture_output=True, text=True, timeout=60, check=True,
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return False
    return out.splitlines() == [sys.prefix, str(tuple(sys.version_info))]


def _complete(home: str, real: str, entries: list[str]) -> bool:
    try:
        return sorted(os.listdir(home)) == entries and all(
            os.readlink(os.path.join(home, e)) == os.path.join(real, e)
            for e in entries
        )
    except OSError:
        return False


def _home_for(real: str) -> str:
    """This checkout's worker home for the distribution ``real``: a
    directory of symlinks to each of its top-level entries but
    ``python/``. Built atomically (a temporary directory, then one
    rename); a stale one is moved aside and replaced."""
    real = os.path.realpath(real)
    key = hashlib.sha1(real.encode()).hexdigest()[:10]
    home = os.path.join(HOMES, f"{os.path.basename(real)}-{key}")
    entries = sorted(e for e in os.listdir(real) if e != "python")
    if _complete(home, real, entries):
        return home
    os.makedirs(HOMES, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=HOMES)
    try:
        for e in entries:
            os.symlink(os.path.join(real, e), os.path.join(tmp, e))
        if os.path.lexists(home) and not _complete(home, real, entries):
            aside = tempfile.mkdtemp(prefix=".stale-", dir=HOMES)
            try:
                os.rename(home, os.path.join(aside, "home"))
            except OSError:
                pass  # a concurrent caller moved it first
            shutil.rmtree(aside, ignore_errors=True)
        try:
            os.rename(tmp, home)
        except OSError:
            pass  # a concurrent caller's home is already in place
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not _complete(home, real, entries):
        raise OSError(f"worker home {home} is incomplete")
    return home


def worker_spark_home(spark_home: str) -> str:
    """The ``SPARK_HOME`` to launch the JVM with so that Python workers
    import the driver's installed, byte-compiled PySpark instead of
    compiling ``pyspark.zip`` from source in every daemon.

    Spark puts ``$SPARK_HOME/python/lib/{pyspark,py4j}.zip`` first on
    every worker's ``PYTHONPATH``, derived from the JVM's ``SPARK_HOME``
    alone (``PythonUtils.sparkPythonPath``). Under a worker home those
    zips do not exist. That is safe only when the zip holds the same
    PySpark the driver runs and every interpreter Spark starts workers
    with (``PYSPARK_PYTHON``, default ``python3``, and
    ``PYSPARK_DRIVER_PYTHON``, which the planner runners prefer) has this
    interpreter's prefix and version. Otherwise, or when the home cannot
    be written, the distribution itself is returned. A worker home
    inherited from a parent process maps back to its distribution first."""
    real = spark_distribution(spark_home)
    interpreters = {os.environ.get("PYSPARK_PYTHON", "python3")}
    if "PYSPARK_DRIVER_PYTHON" in os.environ:
        interpreters.add(os.environ["PYSPARK_DRIVER_PYTHON"])
    if not _zip_is_installed_pyspark(real) or not all(
        _runs_this_interpreter(exe) for exe in interpreters
    ):
        return real
    try:
        return _home_for(real)
    except OSError:
        return real
