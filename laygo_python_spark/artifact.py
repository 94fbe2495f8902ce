"""Stored-index artifacts: the one on-disk layout every index family uses.

An artifact is a directory of parquet tables. Every read gives the
schema declared in ``SCHEMAS``, so no read schedules a footer-inference
job, and a column an older artifact lacks reads as NULL.

=========  ===============================================  ==========================
family     tables (columns)                                 params row (NULL reads as)
=========  ===============================================  ==========================
minhash    membership (doc_id, sig_key), reps (sig_key,     shingle_n, num_hashes,
           rep), bands (sig_key, band_key), dropped         bands, seed, hash_fn,
           (band_key)                                       max_bucket (1000)
simhash    fingerprints (doc_id, sh), reps (sh, rep),       max_hamming, bits, hash_fn,
           chunks (sh, chunk_idx, chunk_val), dropped       max_bucket (2000)
           (chunk_idx, chunk_val)
substring  postings (__doc, pos, fp)                        k, max_df (-1, no cap)
ivf        cells/cell=<c> (neighbor_id, cv), centroids      none
pq         codes (vec_id, codes), codebooks                 none
ivfpq      codes/cell=<c> (vec_id, codes), centroids,       none
           codebooks
srp        buckets/bkey=<k> (neighbor_id, cv)               n_planes, n_tables, dim, seed
=========  ===============================================  ==========================

``hash_fn`` is written as ``"md5"`` and simhash ``bits`` as 60;
``read_params`` rejects a row labelled with any other hash family.

The id column has one fixed name per table (doc_id, __doc, neighbor_id
or vec_id) whatever ``id_col`` the caller builds with; the search
functions name it back. ``centroids`` (cell, centroid) and
``codebooks`` (subspace, code, centroid) hold numpy matrices, one row
per vector (``write_matrix``/``read_matrix``). Appended tables never
rewrite a file: the family readers derive the logical tables (min
reps, rows of dropped buckets left out).

Replay marker: ``applied_batches`` (batch_id) lists the batches whose
append committed; ``begin`` reports a listed batch, and the append
functions then do nothing.

Appends (``append``) commit a batch all or nothing. Every table's rows
and the marker row are written under ``__staging``; renaming that
directory to ``__staged`` is the commit point; the files are then
moved into the tables, marker last. ``begin`` runs before every append
and finishes what a crash left: it deletes ``__staging`` (the batch
never committed, so its retry computes it again) and publishes the
rest of ``__staged`` (the batch committed; its marker makes the retry
a no-op).

Full rewrites (``swap``: builds and compactions) write the new table
to ``<table>__compacting``, rename the table to ``<table>__precompact``,
rename the new one in and delete the backup. A leftover backup next to
its table aborts the next swap before it writes anything (a crash
after the second rename; delete the backup to recover). A crash
between the two renames leaves only the backup: reads use it, and the
next ``swap`` or ``begin`` renames it back.

One process writes an artifact at a time. Readers may run beside it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .functions import require_md5
from .session import concurrent_actions, local_rows_df

_CENTROIDS = "cell int, centroid array<double>"
_CODEBOOKS = "subspace int, code int, centroid array<double>"

SCHEMAS = {
    "minhash": {
        "membership": "doc_id long, sig_key long",
        "reps": "sig_key long, rep long",
        "bands": "sig_key long, band_key long",
        "dropped": "band_key long",
    },
    "simhash": {
        "fingerprints": "doc_id long, sh long",
        "reps": "sh long, rep long",
        "chunks": "sh long, chunk_idx int, chunk_val long",
        "dropped": "chunk_idx int, chunk_val long",
    },
    "substring": {"postings": "__doc long, pos int, fp long"},
    "ivf": {"cells": "neighbor_id long, cv array<double>, cell int", "centroids": _CENTROIDS},
    "pq": {"codes": "vec_id long, codes array<int>", "codebooks": _CODEBOOKS},
    "ivfpq": {
        "codes": "vec_id long, codes array<int>, cell int",
        "centroids": _CENTROIDS,
        "codebooks": _CODEBOOKS,
    },
    "srp": {"buckets": "neighbor_id long, cv array<double>, bkey long"},
}

# family -> (params row schema, the value a NULL or None param stands for)
PARAMS = {
    "minhash": (
        "shingle_n int, num_hashes int, bands int, seed int, hash_fn string, max_bucket int",
        {"max_bucket": 1000},
    ),
    "simhash": ("max_hamming int, bits int, hash_fn string, max_bucket int", {"max_bucket": 2000}),
    "substring": ("k int, max_df int", {"max_df": -1}),
    "srp": ("n_planes int, n_tables int, dim int, seed int", {}),
}

MARKER = "applied_batches"
_MARKER_SCHEMA = "batch_id long"
_TMP, _BACKUP = "__compacting", "__precompact"
_STAGING, _STAGED = "__staging", "__staged"


def fs(spark, path: str):
    """(FileSystem, Path) for ``path``, resolved through Hadoop: a
    scheme-less path goes to ``fs.defaultFS``, not the driver's disk."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def parquet_files(spark, path: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under ``path``, from
    listing metadata only."""
    f, p = fs(spark, path)
    n = total = 0
    it = f.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            n += 1
            total += st.getLen()
    return n, total


def _existing(spark, path: str) -> str | None:
    """``path``, or its swap backup when a crash between the swap's two
    renames left only that, or None."""
    for p in (path, path + _BACKUP):
        f, jp = fs(spark, p)
        if f.exists(jp):
            return p
    return None


def _roll_back(spark, path: str) -> None:
    """Undo a swap of ``path`` that died between its two renames."""
    f, dest = fs(spark, path)
    _, backup = fs(spark, path + _BACKUP)
    if not f.exists(dest) and f.exists(backup):
        if not f.rename(backup, dest):
            raise RuntimeError(f"could not restore {path} from {backup}")
        f.delete(fs(spark, path + _TMP)[1], True)


def swap(spark, path: str, writer) -> None:
    """Replace the table at ``path`` with what ``writer(tmp_path)``
    writes, crash-safe (see the module docstring). Hadoop's rename
    returns False instead of raising, so every rename is checked."""
    _roll_back(spark, path)
    f, dest = fs(spark, path)
    _, tmp = fs(spark, path + _TMP)
    _, backup = fs(spark, path + _BACKUP)
    if f.exists(backup):
        raise RuntimeError(
            f"{backup} exists — a previous compaction crashed mid-swap; "
            "recover it (rename back or delete) before compacting again"
        )
    writer(str(tmp))
    if f.exists(dest) and not f.rename(dest, backup):
        f.delete(tmp, True)
        raise RuntimeError(f"compaction aborted: could not move {path} aside")
    if not f.rename(tmp, dest):
        f.rename(backup, dest)
        raise RuntimeError(f"compaction aborted: could not move compacted data into {path}")
    f.delete(backup, True)


def write(path: str, table: str, df: DataFrame, partition_by: str | None = None) -> None:
    """Write ``df`` as the whole of ``table`` through ``swap``."""

    def _write(tmp: str) -> None:
        w = df.write.mode("overwrite")
        (w.partitionBy(partition_by) if partition_by else w).parquet(tmp)

    swap(df.sparkSession, f"{path}/{table}", _write)


def _scan(spark, where: str, schema: str) -> DataFrame:
    return spark.read.schema(schema).parquet(_existing(spark, where) or where)


def read(spark, path: str, family: str, table: str) -> DataFrame:
    """A stored table with its declared schema."""
    return _scan(spark, f"{path}/{table}", SCHEMAS[family][table])


def read_or_empty(spark, path: str, family: str, table: str) -> DataFrame:
    """``read``, except that a table an older artifact never wrote reads
    as empty. Past the existence check read errors propagate: a failed
    read must not pass for an empty table."""
    schema = SCHEMAS[family][table]
    where = _existing(spark, f"{path}/{table}")
    if where is None:
        return local_rows_df(spark, [], schema)
    return spark.read.schema(schema).parquet(where)


def write_params(spark, path: str, family: str, params: dict) -> None:
    schema, defaults = PARAMS[family]
    names = [c.split()[0] for c in schema.split(",")]
    row = tuple(defaults.get(n) if params.get(n) is None else params[n] for n in names)
    write(path, "params", local_rows_df(spark, [row], schema).coalesce(1))


def read_params(spark, path: str, family: str) -> dict:
    """The params row as a dict; a NULL column takes the family default.
    A row whose ``hash_fn`` is not md5 (or NULL) is rejected."""
    schema, defaults = PARAMS[family]
    row = _scan(spark, f"{path}/params", schema).collect()[0].asDict()
    params = {k: defaults.get(k) if v is None else v for k, v in row.items()}
    if "hash_fn" in params:
        require_md5(f"{family} index {path}", params["hash_fn"])
    return params


def write_matrix(spark, path: str, family: str, table: str, mat: np.ndarray) -> None:
    """Store ``mat`` one row per last-axis vector, keyed by its index."""
    rows = [(*map(int, i), [float(x) for x in mat[i]]) for i in np.ndindex(mat.shape[:-1])]
    write(path, table, local_rows_df(spark, rows, SCHEMAS[family][table]).coalesce(1))


def read_matrix(spark, path: str, family: str, table: str) -> np.ndarray:
    df = read(spark, path, family, table)
    *keys, vec = df.columns
    rows = df.collect()
    mat = np.zeros([1 + max(r[k] for r in rows) for k in keys] + [len(rows[0][vec])])
    for r in rows:
        mat[tuple(r[k] for k in keys)] = r[vec]
    return mat


def begin(spark, path: str, batch_id: int | None = None) -> bool:
    """Settle what a crash left in the artifact (see the module
    docstring), then report whether ``batch_id`` was already applied.
    The marker table is absent until the first marked append, so its
    existence is probed before paying for a scan job."""
    f, root = fs(spark, path)
    for st in f.listStatus(root):
        name = st.getPath().getName()
        if name.endswith(_BACKUP):
            _roll_back(spark, f"{path}/{name[: -len(_BACKUP)]}")
    f.delete(fs(spark, f"{path}/{_STAGING}")[1], True)
    _publish(spark, path)
    where = None if batch_id is None else _existing(spark, f"{path}/{MARKER}")
    if where is None:
        return False
    applied = spark.read.schema(_MARKER_SCHEMA).parquet(where)
    return bool(applied.filter(applied["batch_id"] == int(batch_id)).limit(1).count())


def append(
    spark,
    path: str,
    frames: dict[str, DataFrame],
    batch_id: int | None = None,
    partition_by: str | None = None,
) -> None:
    """Append one batch, ``{table: rows}``, plus its marker row when
    ``batch_id`` is given, all or nothing. Call ``begin`` first. The
    staged writes go to distinct directories, so they run
    concurrently."""
    staging = f"{path}/{_STAGING}"

    def _put(table: str, df: DataFrame) -> None:
        w = df.write.mode("overwrite")
        (w.partitionBy(partition_by) if partition_by else w).parquet(f"{staging}/{table}")

    thunks = [lambda t=t, df=df: _put(t, df) for t, df in frames.items()]
    if batch_id is not None:
        marker = local_rows_df(spark, [(int(batch_id),)], _MARKER_SCHEMA).coalesce(1)
        thunks.append(lambda: marker.write.mode("overwrite").parquet(f"{staging}/{MARKER}"))
    concurrent_actions(*thunks)
    f, src = fs(spark, staging)
    if not f.rename(src, fs(spark, f"{path}/{_STAGED}")[1]):
        raise RuntimeError(f"append aborted: could not commit {staging}")
    _publish(spark, path)


def _publish(spark, path: str) -> None:
    """Move a committed batch's files into their tables, marker last."""
    f, staged = fs(spark, f"{path}/{_STAGED}")
    if not f.exists(staged):
        return
    names = (st.getPath().getName() for st in f.listStatus(staged))
    tables = sorted(names, key=lambda t: (t == MARKER, t))
    for table in tables:
        src = f.makeQualified(fs(spark, f"{path}/{_STAGED}/{table}")[1])
        moves, it = [], f.listFiles(src, True)
        while it.hasNext():
            p = it.next().getPath()
            if not p.getName().startswith(("_", ".")):
                moves.append(p)
        made = set()
        for p in moves:
            _, dst = fs(spark, f"{path}/{table}/{p.toString()[len(src.toString()) + 1:]}")
            parent = dst.getParent().toString()
            if parent not in made:
                f.mkdirs(dst.getParent())
                made.add(parent)
            if not f.rename(p, dst):
                raise RuntimeError(f"append aborted: could not move {p} into {path}/{table}")
    f.delete(staged, True)
