"""Python worker daemon (``spark.python.daemon.module``, set in session.py).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
archive directory right away, once per zipimporter on ``sys.path``, and a
worker has about 16 of them over ``pyspark.zip`` and the spark-core jar.
This daemon swaps in a version that re-reads an archive only when its
file stamp has changed, then runs ``pyspark.daemon.manager()``; the
forked workers inherit it. A rewritten or newly added archive (e.g.
``addPyFile``) is still re-read.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # pay the first re-read once, before any fork
    from pyspark import daemon

    daemon.manager()
