"""Output check: each op's row count and order-insensitive value hash,
compared with an expectation for the same inputs.

Catalog queries are checked against their DuckDB SQL in ``oracle_sql()``,
run on the benchmark's own fixture. The Pipeline-terminal ops have no
catalog oracle; their expectation is a plain-Python reference over the
seeded records, labelled ``python_reference``. Hashing is
``tools/verify_oracle.value_hash``, so the benchmark and the repo's
correctness gate agree on what "same output" means.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

from laygo_python_spark.session import TABLES

# verify_oracle prepends a fixed repo location to sys.path on import;
# restore the path so every later import resolves in this checkout.
_path = list(sys.path)
from tools.verify_oracle import value_hash  # noqa: E402

sys.path[:] = _path


def digest(rows: list[tuple], columns: list[str]) -> dict:
    return {"rows": len(rows), "hash": value_hash(rows, columns)}


def pandas_digest(pdf) -> dict:
    """Digest of a pandas frame, fetched the way ``verify_oracle`` fetches
    both sides (through pandas, so dtype rendering matches)."""
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return digest(rows, list(pdf.columns))


def python_digest(items: list) -> dict:
    """Digest of a Pipeline terminal's Python result: dict elements hash
    as rows over their keys, scalars as a one-column ``value`` frame."""
    if items and isinstance(items[0], dict):
        cols = sorted(items[0])
        return digest([tuple(it[c] for c in cols) for it in items], cols)
    return digest([(it,) for it in items], ["value"])


def mismatch(got: dict, want: dict) -> str | None:
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != expected {want['rows']}"
    if got["hash"] != want["hash"]:
        return f"value hash {got['hash']} != expected {want['hash']}"
    return None


def _table_path(sf_dir: str, name: str) -> str:
    """A table is one parquet file or a directory of part files; DuckDB
    reads the directory form only through a glob."""
    path = f"{sf_dir}/{name}.parquet"
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Content hash of a table's files: the same seed rebuilds the same
    bytes, so an expectation computed once is reused by later runs."""
    path = os.path.realpath(f"{sf_dir}/{name}.parquet")
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path) else [path]
    )
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


class Expectations:
    """Per-op expectations, computed from the oracle SQL on first use and
    cached on disk by the SQL text and the content of the tables it
    reads."""

    def __init__(self, cache_dir: str, sf_dir: str):
        self.cache_dir = cache_dir
        self.sf_dir = sf_dir
        self._fingerprints: dict[str, str] = {}
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _key(self, sql: str) -> str:
        used = [t for t in TABLES if re.search(rf"\b{t}\b", sql)]
        for t in used:
            if t not in self._fingerprints:
                self._fingerprints[t] = table_fingerprint(self.sf_dir, t)
        parts = [sql] + [f"{t}={self._fingerprints[t]}" for t in used]
        return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:24]

    def oracle(self, sql: str) -> dict:
        path = os.path.join(self.cache_dir, f"{self._key(sql)}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        want = dict(pandas_digest(self._duck().sql(sql).df()), source="duckdb_oracle")
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, path)
        return want

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                if os.path.exists(f"{self.sf_dir}/{t}.parquet"):
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_table_path(self.sf_dir, t)}')"
                    )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
