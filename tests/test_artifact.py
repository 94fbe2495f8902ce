"""Stored-index artifacts (``laygo_python_spark.artifact``): a
non-default ``id_col`` reads back in every family, and an append or a
compaction killed mid-write leaves an index that reopens with every
acknowledged batch and replays idempotently."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from laygo_python_spark import artifact
from laygo_python_spark.operators import dedup
from laygo_python_spark.session import local_rows_df

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _texts(start, n):
    return [
        (start + i, f"stored document {start + i} says alpha{start + i} beta{(start + i) % 7} gamma delta")
        for i in range(n)
    ] + [(start + n + i, "the same shared footer text appears in every batch here") for i in range(3)]


def _docs(spark, rows, id_col="doc_id"):
    return local_rows_df(spark, rows, f"{id_col} long, text string")


def _vectors(spark, id_col):
    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(64)]
    return local_rows_df(spark, rows, f"{id_col} long, embedding array<double>")


def _text_family(spark, family, path, id_col):
    docs = _docs(spark, _texts(0, 12), id_col)
    if family == "minhash":
        dedup.minhash_index_write(dedup.minhash_index(docs, id_col=id_col, num_hashes=16, bands=4), path)
        idx = dedup.minhash_index_read(spark, path)
        tables = ("membership", "reps", "bands", "dropped")
    elif family == "simhash":
        dedup.simhash_index_write(dedup.simhash_index(docs, id_col=id_col), path)
        idx = dedup.simhash_index_read(spark, path)
        tables = ("fingerprints", "reps", "chunks", "dropped")
    else:
        dedup.substring_index_write(dedup.substring_index(docs, id_col=id_col, k=3), path)
        idx = dedup.substring_index_read(spark, path)
        tables = ("postings",)
    return {t: _sorted_rows(idx[t]) for t in tables}


def _vector_family(spark, family, path, id_col):
    from laygo_python_spark.operators import ivf, pq, similarity

    corpus = _vectors(spark, id_col)
    queries = corpus.filter(F.col(id_col) < 6)
    centroids = np.random.default_rng(9).normal(size=(4, 8))
    if family == "ivf":
        ivf.ivf_index_write(corpus, path, id_col=id_col, centroids=centroids)
        return _sorted_rows(ivf.ivf_search_indexed(spark, path, queries, k=5, id_col=id_col))
    if family == "pq":
        pq.pq_index_write(corpus, path, m=2, ksub=8, id_col=id_col)
        codes, _ = pq.pq_index_read(spark, path)
        return _sorted_rows(codes)
    if family == "ivfpq":
        codebooks = np.random.default_rng(11).normal(size=(2, 8, 4))
        pq.ivfpq_index_write(
            corpus, path, id_col=id_col, codebooks=codebooks, centroids=centroids
        )
        return _sorted_rows(pq.ivfpq_search_indexed(spark, path, queries, k=5, id_col=id_col))
    similarity.srp_index_write(corpus, path, n_planes=2, n_tables=2, dim=8, id_col=id_col)
    return _sorted_rows(similarity.srp_search_indexed(spark, path, queries, k=5, id_col=id_col))


@pytest.mark.parametrize(
    "family", ["minhash", "simhash", "substring", "ivf", "pq", "ivfpq", "srp"]
)
def test_non_default_id_col_round_trips(spark, tmp_path, family):
    """Every family stores its ids under one fixed column, so an index
    built with ids in ``item_id`` reads, searches and matches exactly
    like the same index built under the default name (PQ and IVF-PQ
    used to store the caller's column and read back NULL ids)."""
    build = _text_family if family in ("minhash", "simhash", "substring") else _vector_family
    default_id = "doc_id" if build is _text_family else "vec_id"
    want = build(spark, family, str(tmp_path / "default"), default_id)
    got = build(spark, family, str(tmp_path / "item"), "item_id")
    assert got == want
    flat = json.dumps(want, default=str)
    assert want and "None" not in flat and "null" not in flat


_CHILD = r"""
import json, os, signal, sys

from laygo_python_spark import artifact, session
from laygo_python_spark.operators import dedup

path, crash, rows = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
spark = session.get_spark("artifact-durability", cpus=1)
real_fs, published = artifact.fs, []


class KillingFs:
    def __init__(self, f):
        self.f = f

    def __getattr__(self, name):
        return getattr(self.f, name)

    def rename(self, src, dst):
        s = src.toString()
        if crash == "append" and "/__staged/" in s:
            table = s.split("/__staged/")[1].split("/")[0]
            if table not in published:
                if len(published) == 2:
                    os.kill(os.getpid(), signal.SIGKILL)  # 2 of 4 tables published
                published.append(table)
        done = self.f.rename(src, dst)
        if crash == "compact" and dst.toString().endswith("/reps__precompact"):
            os.kill(os.getpid(), signal.SIGKILL)  # between the two renames
        return done


artifact.fs = lambda spark, p: (lambda f, jp: (KillingFs(f), jp))(*real_fs(spark, p))
if crash == "append":
    batch = session.local_rows_df(spark, [tuple(r) for r in rows], "doc_id long, text string")
    dedup.minhash_index_append(spark, path, batch, batch_id=2, stats=False)
else:
    dedup.concurrent_actions = lambda *thunks: [t() for t in thunks]
    dedup.minhash_index_compact(spark, path, stats=False)
print("not killed", flush=True)
"""


def test_killed_append_and_compact_reopen_with_acknowledged_batches(spark, tmp_path):
    """An index is built and batch 1 acknowledged (appended with its
    marker). A child on local[1] then opens a copy and SIGKILLs itself
    (a) after 2 of the 4 tables of batch 2 moved into place, before its
    marker, or (b) between the two renames of the ``reps`` swap of a
    compaction. Reopened, batch 1 reads back and replays as a no-op;
    after (a) the retried batch 2 equals a rebuild over all three
    batches, after (b) no acknowledged row is gone."""
    import shutil

    batches = [_texts(0, 12), _texts(100, 10), _texts(200, 10)]
    docs = [_docs(spark, b) for b in batches]
    acked = str(tmp_path / "acked")
    dedup.minhash_index_write(dedup.minhash_index(docs[0], num_hashes=16, bands=4), acked)
    assert dedup.minhash_index_append(spark, acked, docs[1], batch_id=1, stats=False)["applied"]
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEMORY": "1g"}
    children = {}
    for crash in ("append", "compact"):
        shutil.copytree(acked, tmp_path / crash)
        children[crash] = subprocess.Popen(
            [sys.executable, "-c", _CHILD, str(tmp_path / crash), crash, json.dumps(batches[2])],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )

    def rebuild(n):
        rows = [r for b in batches[:n] for r in b]
        return dedup.minhash_index(_docs(spark, rows), num_hashes=16, bands=4)

    def tables(idx):
        return {t: _sorted_rows(idx[t]) for t in ("membership", "reps", "bands", "dropped")}

    def dirs(path):
        return sorted(d for d in os.listdir(path) if "__" in d)

    try:
        both, all_three = tables(rebuild(2)), tables(rebuild(3))  # while the children run
        for crash, child in children.items():
            out, _ = child.communicate(timeout=300)
            assert child.returncode == -9 and not out, (crash, out)
    finally:
        for child in children.values():
            child.kill()

    append = str(tmp_path / "append")
    assert dirs(append) == ["__staged"]
    assert dedup.minhash_index_append(spark, append, docs[1], batch_id=1)["applied"] is False
    assert dirs(append) == []
    assert dedup.minhash_index_append(spark, append, docs[2], batch_id=2)["applied"] is False
    assert tables(dedup.minhash_index_read(spark, append)) == all_three

    compact = str(tmp_path / "compact")
    assert dirs(compact) == ["reps__compacting", "reps__precompact"]
    assert tables(dedup.minhash_index_read(spark, compact)) == both
    assert dedup.minhash_index_append(spark, compact, docs[1], batch_id=1)["applied"] is False
    assert dirs(compact) == []
    dedup.minhash_index_compact(spark, compact, stats=False)
    assert tables(dedup.minhash_index_read(spark, compact)) == both


def test_append_failed_while_staging_retries_to_a_rebuild(spark, tmp_path, monkeypatch):
    """A batch whose staged writes stopped part way never committed: the
    retry drops the staging directory and appends the whole batch."""
    batches = [_texts(0, 12), _texts(100, 10)]
    path = str(tmp_path / "idx")
    dedup.minhash_index_write(
        dedup.minhash_index(_docs(spark, batches[0]), num_hashes=16, bands=4), path
    )

    def two_then_fail(*thunks):
        thunks[0](), thunks[1]()
        raise OSError("disk gone")

    monkeypatch.setattr(artifact, "concurrent_actions", two_then_fail)
    with pytest.raises(OSError):
        dedup.minhash_index_append(spark, path, _docs(spark, batches[1]), batch_id=1, stats=False)
    monkeypatch.undo()
    assert "__staging" in os.listdir(path)
    assert dedup.minhash_index_append(
        spark, path, _docs(spark, batches[1]), batch_id=1, stats=False
    )["applied"]
    assert "__staging" not in os.listdir(path)
    got = dedup.minhash_index_read(spark, path)
    want = dedup.minhash_index(_docs(spark, batches[0] + batches[1]), num_hashes=16, bands=4)
    for t in ("membership", "reps", "bands", "dropped"):
        assert _sorted_rows(got[t]) == _sorted_rows(want[t]), t
