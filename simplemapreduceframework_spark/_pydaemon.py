"""Python worker daemon: ``pyspark.daemon`` with a cheap per-task cache
invalidation (``get_spark`` sets ``spark.python.daemon.module`` to it).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython < 3.12 that makes each zipimporter on the worker path
re-read its archive's central directory (pyspark.zip once per imported
sub-package, py4j, the spark-core jar), about 0.25 s per task. Here an
archive is re-read only when its (mtime, size) changed, so a re-shipped
``addPyFile`` zip is still picked up. Nothing may be written to stdout
before ``manager()``: the JVM reads the daemon's port from it.
"""

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read: dict = {}  # archive -> ((st_mtime_ns, st_size), files dict)


def _stat_checked_invalidate(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _read.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate(self)
    _read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 12):  # 3.12 made the invalidation lazy
        zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
        importlib.invalidate_caches()  # read once here; forked workers inherit
    daemon.manager()
