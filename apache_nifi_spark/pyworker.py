"""Python worker daemon: pyspark's daemon with lazy zip invalidation.

At the start of every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.12 that makes
every ``zipimporter`` re-parse its whole archive, and a worker holds 14-18 of
them over the 1,328-entry ``pyspark.zip``: about 0.1 CPU-s per task.  Here a
``zipimporter`` re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when that importer last read it.
Workers fork from this daemon and inherit the patch.  On Python 3.12 and
later (lazy re-read, gh-103200) this module changes nothing: it only runs
``pyspark.daemon.manager()``.
"""

import importlib
import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            _reread(self)
            self._stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp every importer once, before forking
    daemon.manager()
