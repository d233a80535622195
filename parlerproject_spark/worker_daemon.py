"""Python-worker daemon of the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 that makes each ``zipimporter`` in
``sys.path_importer_cache`` (one per imported subpackage of
``pyspark.zip``, plus the spark-core jar) re-read its archive's whole
central directory in pure Python: ~0.2 s per task before a row reaches
Python. Here an importer re-reads its archive only when the file's
(st_mtime_ns, st_size, st_ino) changed since that importer last read
it, or when the stat fails, so a re-shipped ``addPyFile`` zip is still
picked up. Everything else is the stock ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    # stat before reading: a write racing the read leaves the older
    # stamp behind, so the next call reads again
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    # patch with the function of the module imported under its own
    # name, not __main__'s copy, so workers can tell which one they run
    from parlerproject_spark import worker_daemon
    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    from pyspark.daemon import manager
    manager()
