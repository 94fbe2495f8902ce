"""Workload op lists and the code that runs one op.

An op is a registered catalog query materialized through the noop sink,
a Pipeline built over the seeded records and run to a user terminal, or
the stored-index build -> append -> compact sequence into a directory the
benchmark owns. Every op returns its timing split and, when asked, the
output the check compares.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from laygo_python_spark import Context, Pipeline, session
from laygo_python_spark.operators import dedup
from perfbench import check


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "query" | "terminal" | "index"
    tables: tuple[str, ...] = ()  # fixture tables read, for the stated input rows
    rows: int = 0  # generated input rows (range- or record-fed ops)
    timed: bool = True  # False: runs once, in traced runs, after the timed passes


RECORDS = 2_000

WORKLOADS = {
    # Small data: planning, eager pins, job scheduling and driver
    # collects dominate; _provably_small_input is True on its documents.
    "pipeline_sf0.1": [
        Op("q1_pricing_summary", "query", ("lineitem",)),
        Op("q9_product_profit", "query", ("part", "supplier", "lineitem", "nation")),
        Op("reference_workload", "query", rows=1_000_000),
        Op("reduce_sum", "query", ("lineitem",)),
        Op("sessionize_users", "query", ("events",)),
        Op("pl_counter_to_list", "terminal", rows=RECORDS),
    ],
    # Stored index artifacts: parquet writes, localCheckpoint pins and the
    # mapInPandas signature passes; documents are >= nproc files, so
    # _provably_small_input is False.
    "index_ingest": [
        Op("dedup_index_append", "query", ("documents",)),
        # Untimed, in traced runs only: it measures the stored index size
        # (a per-layer metric); a second timed op would not fit a run.
        Op("index_build_append_compact", "index", ("documents",), timed=False),
    ],
}


@dataclass
class Env:
    """What an op needs: the session, its fixture and the seeded records."""

    spark: object
    queries: dict
    sf_dir: str
    records: list[dict]
    index_dir: str


@dataclass
class Result:
    build_s: float
    terminal_s: float
    collect_rows: int = 0
    output: dict | None = None  # digest, computed after the timers when asked for
    facts: dict | None = None


def run(op: Op, env: Env, want_output: bool = False) -> Result:
    if op.kind == "query":
        return _query(op, env, want_output)
    if op.kind == "terminal":
        return _counter_to_list(env, want_output)
    return _index_sequence(env, want_output)


def _query(op: Op, env: Env, want_output: bool) -> Result:
    """Build the query's DataFrame and run it through the noop sink; for
    the check, collect the same DataFrame after the timers."""
    t0 = time.perf_counter()
    df = env.queries[op.name](env.spark, env.sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return Result(t1 - t0, t2 - t1, 0, check.pandas_digest(df.toPandas()) if want_output else None)


def _counter_to_list(env: Env, want_output: bool) -> Result:
    """map_rows + filter_rows over the seeded records, counting into a
    ``ctx.counter``, run to ``to_list``. The counter must equal the rows
    returned (an accumulator that re-fired would not); the digest is
    computed after the timers."""
    # Closures, so workers unpickle them without importing this module.
    def double(r):
        return {"id": r["id"], "amount": r["amount"] * 2, "cat": r["cat"]}

    def keep(r, ctx):
        if r["amount"] > 1000:
            ctx["kept"] += 1
            return True
        return False

    t0 = time.perf_counter()
    ctx = Context(spark=env.spark)
    ctx.counter("kept")
    p = Pipeline(env.records, spark=env.spark, context=ctx).transform(
        lambda t: t.map_rows(double).filter_rows(keep)
    )
    t1 = time.perf_counter()
    rows, snap = p.to_list()
    t2 = time.perf_counter()
    out = None
    if want_output:
        out = check.python_digest(rows)
        if snap["kept"] != len(rows):
            out["hash"] = f"counter {snap['kept']} != rows {len(rows)}"
    return Result(t1 - t0, t2 - t1, len(rows), out)


def python_reference(name: str, records: list[dict]) -> dict:
    """Expectation for a Pipeline-terminal op, computed in plain Python."""
    if name != "pl_counter_to_list":
        raise KeyError(name)
    return check.python_digest([
        {"id": r["id"], "amount": r["amount"] * 2, "cat": r["cat"]}
        for r in records if r["amount"] * 2 > 1000
    ])


# The owned index holds day 1 and day 2 of the mod-3 split, so its
# membership table lists exactly these documents.
INDEX_ORACLE = "SELECT doc_id FROM documents WHERE doc_id % 3 < 2"


def dir_bytes(path: str) -> int:
    """Bytes on disk under ``path`` (a file or a directory tree)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _index_sequence(env: Env, want_output: bool) -> Result:
    """Build day 1 into the benchmark's own index directory through
    ``minhash_index_write``, append day 2 through ``minhash_index_append``,
    then ``minhash_index_compact``. The directory is emptied first."""
    path = env.index_dir
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    docs = session.read_table(env.spark, env.sf_dir, "documents")
    dedup.minhash_index_write(
        dedup.minhash_index(docs.filter(F.col("doc_id") % 3 == 0), hash_fn="md5"), path
    )
    t1 = time.perf_counter()
    dedup.minhash_index_append(env.spark, path, docs.filter(F.col("doc_id") % 3 == 1),
                               batch_id=1, stats=False)
    dedup.minhash_index_compact(env.spark, path, stats=False)
    t2 = time.perf_counter()
    stored = dir_bytes(path)
    facts = {"artifact.stored_bytes": stored,
             "artifact.stored_bytes_per_input_byte":
                 stored / dir_bytes(os.path.realpath(f"{env.sf_dir}/documents.parquet"))}
    out = None
    if want_output:
        pdf = env.spark.read.parquet(f"{path}/membership").select("doc_id").toPandas()
        out = check.pandas_digest(pdf)
    return Result(t1 - t0, t2 - t1, 0, out, facts)
