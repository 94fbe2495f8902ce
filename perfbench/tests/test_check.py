"""Expectation lookup and the hash check."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check


def _docs(path, ids, n_files=1):
    t = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": [f"t{i}" for i in ids]})
    if n_files == 1:
        pq.write_table(t, path)
        return
    os.makedirs(path)
    per = -(-len(ids) // n_files)
    for f in range(n_files):
        pq.write_table(t.slice(f * per, per), f"{path}/part-{f}.parquet")


def test_digest_ignores_row_order_and_catches_a_changed_value():
    rows = [{"id": i, "v": i * 2} for i in range(5)]
    same = check.python_digest(list(reversed(rows)))
    assert check.mismatch(check.python_digest(rows), same) is None
    changed = check.python_digest(rows[:4] + [{"id": 4, "v": 9}])
    assert "value hash" in check.mismatch(changed, same)
    assert "rows 4 != expected 5" == check.mismatch(check.python_digest(rows[:4]), same)


def test_pandas_and_python_digests_agree_on_the_same_rows():
    pd = pytest.importorskip("pandas")
    frame = pd.DataFrame({"value": [3, 1, 2]})
    assert check.pandas_digest(frame) == check.python_digest([1, 2, 3])


@pytest.mark.parametrize("n_files", [1, 3])
def test_oracle_expectation_reads_file_and_directory_tables(tmp_path, n_files):
    _docs(str(tmp_path / "documents.parquet"), list(range(9)), n_files)
    exp = check.Expectations(str(tmp_path / "cache"), str(tmp_path))
    try:
        got = exp.oracle("SELECT doc_id FROM documents WHERE doc_id % 3 < 2")
    finally:
        exp.close()
    assert got["source"] == "duckdb_oracle"
    assert got["rows"] == 6
    assert got["hash"] == check.python_digest([{"doc_id": i} for i in range(9) if i % 3 < 2])["hash"]


def test_expectation_is_cached_by_sql_and_table_content(tmp_path):
    sql = "SELECT count(*) AS n FROM documents"
    _docs(str(tmp_path / "documents.parquet"), list(range(4)))
    first = check.Expectations(str(tmp_path / "cache"), str(tmp_path))
    want = first.oracle(sql)
    first.close()

    cached = check.Expectations(str(tmp_path / "cache"), str(tmp_path))
    cached._duck = lambda: pytest.fail("a cached expectation must not rerun the oracle")
    assert cached.oracle(sql) == want

    os.remove(tmp_path / "documents.parquet")
    _docs(str(tmp_path / "documents.parquet"), list(range(7)))
    fresh = check.Expectations(str(tmp_path / "cache"), str(tmp_path))
    try:
        assert fresh.oracle(sql)["hash"] != want["hash"]
    finally:
        fresh.close()
