"""Spark's Python worker daemon with the engine preloaded.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts it in place of ``pyspark.daemon`` and forks every Python worker from
it. It runs ``pyspark.daemon.manager()`` unchanged, except that:

- before its first ``import pyspark`` it takes Spark's source-only
  ``pyspark.zip`` and ``py4j-*-src.zip`` off ``sys.path`` when the
  interpreter's own copy of that package (the first directory on the path
  that holds it) has a byte-identical ``version.py``. Those archives hold
  only ``.py`` files and zipimport never caches bytecode, so importing from
  them compiles pyspark and py4j from source at every daemon start (1.1-1.6
  s against 0.41-0.54 s from the installed copies, and ~9-11 MB more
  anonymous memory in the daemon and in every worker forked from it). With
  no installed twin, or one of another release, the path stays as Spark set
  it;
- the daemon imports the engine (pandas, pyarrow, ``pyspark.sql``, the
  package's modules) once, so each worker forks with it loaded instead of
  importing it itself. The threads these imports start (OpenBLAS's, which
  ``pyspark.daemon`` already forks with, and pyarrow's jemalloc background
  thread) register their own fork handlers;
- before Python 3.12, a ``zipimporter`` re-reads its archive's directory on
  ``importlib.invalidate_caches()`` only when the archive's
  ``(st_mtime_ns, st_size)`` changed since that importer last read it (a
  same-size rewrite inside one filesystem timestamp tick is missed).
  ``pyspark.worker_util.setup_spark_files`` calls ``invalidate_caches`` before
  every task, and 3.11 then re-reads every archive on the worker path (the
  spark-core jar always, pyspark.zip where it stays) once per cached
  importer. Python 3.12 made the re-read lazy (gh-103200).

The package's ``__init__`` imports no pyspark, so ``python -m
laygo_python_spark._daemon`` reaches the path decision first. Importing this
module patches nothing; running it as the daemon does.
"""

import importlib
import os
import sys
import zipfile
import zipimport

_SOURCE_PACKAGES = ("pyspark", "py4j")


def _version_py(entry: str, package: str) -> bytes | None:
    """``<package>/version.py`` under a path entry (a directory or a zip), or None."""
    try:
        if os.path.isdir(entry):
            with open(os.path.join(entry, package, "version.py"), "rb") as f:
                return f.read()
        with zipfile.ZipFile(entry) as z:
            return z.read(f"{package}/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def without_source_archives(path: list[str]) -> list[str]:
    """``path`` without each ``.zip`` entry holding pyspark or py4j whose
    ``version.py`` equals that of the first directory on ``path`` that
    holds the same package; every other entry kept in order."""
    dirs = [e for e in path if os.path.isdir(e)]

    def has_twin(archive: str) -> bool:
        for package in _SOURCE_PACKAGES:
            ours = _version_py(archive, package)
            if ours is not None:
                installed = (_version_py(d, package) for d in dirs)
                return next((v for v in installed if v is not None), None) == ours
        return False

    return [e for e in path if not (e.endswith(".zip") and has_twin(e))]


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
    kept = without_source_archives(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)  # frees the archive's directory
    sys.path[:] = kept

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql  # noqa: F401
    from pyspark import daemon  # imports the worker module named in argv

    from laygo_python_spark import context, errors, pipeline, session, transformer  # noqa: F401

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()  # stamp every importer once, before any fork
    daemon.manager()
