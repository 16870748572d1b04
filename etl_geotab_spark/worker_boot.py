"""Per-task start-up cost of Spark's Python workers.

Before every task a Python worker runs
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``. Up to CPython 3.12 that call makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole directory. A worker holds about 16 of them: one per
package prefix over ``pyspark.zip`` (1,328 entries), plus importers over
py4j and the spark-core jar (5,359 entries, none of them Python). That is
about 0.19 s of CPU per task on a 4-core VM, the larger part of a reused
worker's time on the engine's small tasks, and it is paid per task, not per
job.

``install`` replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its stamp (inode, size, ``st_mtime_ns``)
differs from the stamp taken before its last re-read. Importers over the
same archive share that one read through ``zipimport._zip_directory_cache``.
An archive that is rewritten or replaced is still picked up, which is what
the stdlib call exists for. A rewrite that keeps the inode, the size and the
mtime (to the filesystem's timestamp resolution) is not; bytecode caching
makes the same trade with a source file's mtime and size.

CPython 3.13 already makes the call lazy (it only drops the cached
directory, and the next lookup reads it), so nothing is installed there.

The package calls ``install`` on import. Every worker that unpickles engine
code imports the package: the four Python DataSource planner workers and
every task worker that runs an engine function. A reused worker keeps the
patch for all its later tasks.
"""

from __future__ import annotations

import os
import sys
import zipimport

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
