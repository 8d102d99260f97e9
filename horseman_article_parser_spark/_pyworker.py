"""Python-worker shim: stop re-reading unchanged zip archives every task.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
Python 3.13, that makes every ``zipimporter`` on the worker's path
re-read its archive's whole central directory in pure Python. A worker's
path holds pyspark.zip (~1.3k entries) and, in local mode, the Spark
core jar (~5.4k entries), so each task paid ~0.2-0.45 s of
``spark.py_init_s`` before its first row, even on a reused worker.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` stamp
changed since the last read, and otherwise re-points the importer at the
shared ``zipimport._zip_directory_cache`` entry. The first call after
install still reads each archive once (no stamp is known yet), so only a
worker's first task after importing this package pays the read. Python
3.13+ only drops the cache in ``invalidate_caches`` and is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}
_original_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the file changed."""
    archive = self.archive
    # stat BEFORE reading: a write that lands after the stat leaves an
    # older stamp behind, so the next call re-reads
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _stamps.get(archive) == stamp:
        self._files = cached
        return
    _original_invalidate(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13 only)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_in_task() -> None:
    """``install()`` when running inside a PySpark task, never on the
    driver. pyspark is imported by then, so a process that has not
    imported it is not a worker."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        install()
