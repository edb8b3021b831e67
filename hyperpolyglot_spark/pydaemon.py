"""PySpark's worker daemon, minus a zip-directory re-read per task.

Before every task a Python worker calls ``importlib.invalidate_caches()``,
and on CPython 3.11 that makes each ``zipimporter`` re-read its archive's
whole directory (``pyspark.zip`` and the jars on the worker's path):
64-82 ms per task on a 4-core VM, before the task's first row. Here an
archive's cached directory is kept while its ``(st_mtime_ns, st_size)``
is the one seen at its last read; a rewritten archive is re-read as the
stdlib does.

    spark.python.daemon.module=hyperpolyglot_spark.pydaemon

``session.get_spark`` sets this in local mode only (a ``local`` or
``local[N]`` master that it picks itself, not under spark-submit).
"""

import os
import sys
import zipimport

_read_all = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp at last read


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since its last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_all(self)  # stamped before reading: a write during it shows next time
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp the archives already imported
    from, so that workers forked after this start with their stamps."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
