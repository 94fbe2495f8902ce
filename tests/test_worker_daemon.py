"""The engine's Python worker daemon (``laygo_python_spark._daemon``):
workers fork from it, an unchanged archive on the worker path is not
re-read per task, a rewritten one is, and workers import the engine from
any driver cwd."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

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


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.12 re-reads archive directories lazily")
def test_unchanged_archive_is_not_reread(spark):
    """A warm worker's ``invalidate_caches`` re-reads no archive directory.
    Under ``pyspark.daemon`` every call re-reads pyspark.zip and the
    spark-core jar once per cached importer: 16 reads here on Python 3.11.7
    with PySpark 4.1.2."""

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
