"""Spark's Python worker daemon with the engine preloaded.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it in place of ``pyspark.daemon`` and forks every Python worker from
it. It runs ``pyspark.daemon.manager()`` unchanged, except that:

- the daemon imports the engine (pandas, pyarrow, ``pyspark.sql``) once, so
  each worker forks with it loaded instead of importing it itself. The
  threads these imports start (OpenBLAS's, which ``pyspark.daemon`` already
  forks with, and pyarrow's jemalloc background thread) register their own
  fork handlers;
- before Python 3.12, a ``zipimporter`` re-reads its archive's directory on
  ``importlib.invalidate_caches()`` only when the archive's
  ``(st_mtime_ns, st_size)`` changed since that importer last read it (a
  same-size rewrite inside one filesystem timestamp tick is missed).
  ``pyspark.worker_util.setup_spark_files`` calls ``invalidate_caches`` before
  every task, and 3.11 then re-reads pyspark.zip and the spark-core jar once
  per cached importer: 13-16 reads, 0.13-0.24 s of CPU per task on a 4-core
  box. Python 3.12 made the re-read lazy (gh-103200).

Importing this module patches nothing; running it as the daemon does.
"""

import importlib
import os
import sys
import zipimport

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql  # noqa: F401
from pyspark import daemon  # imports the worker module named in argv

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # stamp every importer once, before any fork
    daemon.manager()
