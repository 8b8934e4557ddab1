"""PySpark's Python worker daemon, minus the per-task zip re-read.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``setup_spark_files``). On CPython
3.11 ``zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a warm worker holds 16 zipimporters over
``pyspark.zip``, the py4j zip and the Spark core jar: ~27k entries,
0.16-0.24 s of every task. ``invalidate_caches`` below keeps each
importer's ``(st_mtime_ns, st_size)`` from its last read and calls the
original only when that stat differs or fails, so a changed archive is
still re-read. Run as ``python -m rhealpixdggs_spark.worker_daemon``
(``spark.python.daemon.module``, set by ``session.get_spark``), the
module patches zipimport, stamps the daemon's importers, then runs
``pyspark.daemon.manager()``; the workers it forks inherit both.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stat_stamp", None):
        _reread(self)
        self._stat_stamp = stamp


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamps the importers pyspark's import made
    daemon.manager()
