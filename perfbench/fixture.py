"""Benchmark inputs derived from the engine's sf0.1 fixture.

The base tables are the engine's default fixture
(``session.DEFAULT_SF_DIR``, set by ``$SPARK_GRAFT_SF_DIR``), read in
place and never modified. The per-run ``--seed`` drives only the derived inputs:

* ``permuted_docs``: ``documents`` with ``doc_id`` permuted, written as
  ``n_files`` parquet files;
* ``python_records``: the dict records the Pipeline-terminal ops read.

Every table a derived fixture does not rewrite is a symlink to the base,
so ``read_table(spark, dir, name)`` resolves every table name there.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from laygo_python_spark.session import DEFAULT_SF_DIR as SF_DIR  # noqa: F401


def _fresh(out_dir: str) -> None:
    """Start ``out_dir`` empty, so a rerun or a run after a killed one
    never mixes old part files or links into the new fixture."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)


def _link_rest(base_dir: str, out_dir: str) -> None:
    """Point every table the derived fixture did not write at the base."""
    for f in sorted(os.listdir(base_dir)):
        dst = os.path.join(out_dir, f)
        if f.endswith(".parquet") and not os.path.lexists(dst):
            os.symlink(os.path.join(os.path.abspath(base_dir), f), dst)


def permuted_docs(base_dir: str, out_dir: str, seed: int, n_files: int) -> None:
    """``documents`` with ``doc_id`` permuted by ``seed``: the mod-3 day
    splits of the index queries then fall on different documents. Written
    as ``n_files`` parquet files, so the scan is not provably small on
    ``n_files`` cores."""
    _fresh(out_dir)
    os.makedirs(f"{out_dir}/documents.parquet")
    t = pq.read_table(f"{base_dir}/documents.parquet")
    perm = np.random.default_rng(seed).permutation(t.num_rows).astype(np.int64)
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id", pa.array(perm))
    per = -(-t.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(t.slice(f * per, per), f"{out_dir}/documents.parquet/part-{f:05d}.parquet")
    _link_rest(base_dir, out_dir)


def python_records(seed: int, n: int = 20_000) -> list[dict]:
    """Seeded order-like dict records for the Pipeline-terminal ops."""
    rng = np.random.default_rng(seed)
    amounts = rng.integers(1, 1000, n)
    cats = rng.integers(0, 8, n)
    return [
        {"id": i, "amount": int(a), "cat": f"c{int(c)}"}
        for i, (a, c) in enumerate(zip(amounts, cats))
    ]


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footers (a file or a directory of files)."""
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows
