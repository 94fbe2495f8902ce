"""The engine's Python worker daemon (``laygo_python_spark._daemon``):
workers fork from it, import pyspark and py4j from the interpreter's own
copies when those match Spark's source archives, do not re-read an
unchanged archive on the worker path per task but do re-read a rewritten
one, and import the engine from any driver cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from laygo_python_spark._daemon import without_source_archives

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_worker(spark, fn):
    """``fn()`` run once inside a Python worker; its return value (a str)."""

    def task(batches):
        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"out": [fn()]})

    return spark.range(1, numPartitions=1).mapInPandas(task, "out string").collect()[0]["out"]


def test_workers_fork_from_the_engine_daemon(spark):
    def main_module():
        return sys.modules["__main__"].__spec__.name

    assert _in_worker(spark, main_module) == "laygo_python_spark._daemon"


def test_workers_import_installed_pyspark_and_py4j(spark):
    """The installed pyspark (4.1.2 here) matches Spark's own pyspark.zip
    and py4j source zip, so the daemon takes both archives off the path and
    imports the compiled copies."""

    def module_files():
        import py4j
        import pyspark

        return f"{pyspark.__file__}|{py4j.__file__}"

    files = _in_worker(spark, module_files).split("|")
    assert [os.path.basename(os.path.dirname(f)) for f in files] == ["pyspark", "py4j"]
    assert all(os.path.isfile(f) for f in files), files  # a module inside a zip is no file


def _package(root, package, version):
    os.makedirs(root / package)
    (root / package / "version.py").write_text(version)
    return str(root)


def _archive(path, package, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", version)
    return str(path)


def test_source_archive_dropped_only_for_a_matching_installed_copy(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "__version__ = '4.1.2'\n")
    same = _archive(tmp_path / "pyspark.zip", "pyspark", "__version__ = '4.1.2'\n")
    other = _archive(tmp_path / "other.zip", "pyspark", "__version__ = '4.0.0'\n")
    lone = _archive(tmp_path / "py4j-src.zip", "py4j", "__version__ = '0.10.9.9'\n")
    jar = str(tmp_path / "core.jar")

    assert without_source_archives([same, lone, jar, site]) == [lone, jar, site]
    assert without_source_archives([other, jar, site]) == [other, jar, site]
    assert without_source_archives([same, other, site]) == [other, site]
    assert without_source_archives([same, lone, jar]) == [same, lone, jar]
    # The twin is the first installed copy on the path: an older one
    # ahead of a matching one keeps the archive.
    old_site = _package(tmp_path / "old", "pyspark", "__version__ = '4.0.0'\n")
    assert without_source_archives([same, old_site, site]) == [same, old_site, site]


def test_package_import_loads_no_pyspark():
    """The daemon settles ``sys.path`` after the package ``__init__`` runs
    and before pyspark's first import, so that import must load none."""
    probe = (
        "import sys, laygo_python_spark; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip() == "[]"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12 re-reads archive directories lazily")
def test_unchanged_archive_is_not_reread(spark):
    """A warm worker's ``invalidate_caches`` re-reads no archive directory.
    The spark-core jar always stays on the worker path, and so do Spark's
    pyspark and py4j zips where no matching installed copy exists. Under the
    stock ``pyspark.daemon``, which keeps pyspark.zip, every call re-read
    pyspark.zip and the jar once per cached importer: 16 reads on Python
    3.11.7 with PySpark 4.1.2."""

    def rereads():
        import importlib
        import zipimport

        importlib.invalidate_caches()  # warm: an importer made by this task reads once
        read, n = zipimport._read_directory, []

        def counting(archive):
            n.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return str(len(n))

    assert _in_worker(spark, rereads) == "0"


def test_rewritten_archive_is_reread(spark, tmp_path):
    archive = str(tmp_path / "mods.zip")

    def rewrite_and_import():
        import importlib
        import zipfile

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("daemon_old_mod.py", "X = 'old'\n")
        sys.path.insert(0, archive)
        try:
            old = importlib.import_module("daemon_old_mod").X
            importlib.invalidate_caches()
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("daemon_old_mod.py", "X = 'old'\n")
                z.writestr("daemon_new_mod.py", "X = 'new'\n")
            importlib.invalidate_caches()
            return old + "," + importlib.import_module("daemon_new_mod").X
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("daemon_old_mod", None)
            sys.modules.pop("daemon_new_mod", None)

    assert _in_worker(spark, rewrite_and_import) == "old,new"


_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from laygo_python_spark import Pipeline, get_spark
get_spark("daemon_cwd_test", cpus=1)
print(Pipeline([1, 2, 3]).transform(lambda t: t.map_rows(lambda x: x * 2).filter_rows(lambda x: x > 2)).to_list()[0])
"""


def test_workers_import_the_engine_from_any_cwd(tmp_path):
    """A driver started outside the checkout, with the package only on its
    own ``sys.path``, still runs package code in its Python workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[4, 6]"
