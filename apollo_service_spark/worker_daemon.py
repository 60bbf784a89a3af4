"""The engine's Python worker daemon: ``pyspark.daemon`` with zip importers
that re-read an archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On Python 3.10-3.12 that makes every cached ``zipimporter``
re-read its archive's central directory in pure Python: one importer per
package imported from ``pyspark.zip`` and from the spark-core jar on the
workers' ``sys.path``, about 0.2 CPU-s per task before it reads a row.
Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the one last read, so an
archive replaced in place is still re-read. ``session.build_session`` sets
``spark.python.daemon.module`` to this module; workers fork from the daemon
and inherit the guard.
"""

import importlib
import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict = {}  # archive -> stat key taken before its last read


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is the
    one whose directory ``zipimport`` already holds."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _invalidate(self)
    _read_at[self.archive] = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # read each archive the daemon holds once, here: forked workers inherit
    # the directories and their stat keys
    importlib.invalidate_caches()
    daemon.manager()
