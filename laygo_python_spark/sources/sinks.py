"""Sink connectors — the write side (the reference only materializes to
Python lists, laygo/pipeline.py:280-295; persistent sinks are new
capability).

Scale rules encoded here: always explicit mode; partition by a
low-cardinality column users filter on (partition pruning on read);
sort within partitions for run-length/dictionary compression wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import artifact


def to_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_within_partitions: list[str] | None = None,
    dynamic_overwrite: bool = False,
) -> None:
    """``dynamic_overwrite=True`` replaces ONLY the partitions present in
    ``df`` (the incremental-backfill pattern: re-run one day, keep the
    other 10 years). Static overwrite — the default, and Spark's — wipes
    the whole table root first."""
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def to_csv(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(header=True, **options).csv(path)


def to_json(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(**options).json(path)


def to_noop(df: DataFrame) -> None:
    """Full distributed materialization, zero collection — benchmarking
    and smoke-sink (Pipeline.consume uses this)."""
    df.write.format("noop").mode("overwrite").save()


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_rows: int = 100_000,
    order_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """Write evenly-sized training shards — the dataloader-facing sink.

    Dataloaders want shards of uniform row count (work-stealing balance)
    and stable order within a shard (resumable iteration). Spark's file
    splitting is byte-based and partition-shaped, so left alone a skewed
    upstream produces 10 MB and 10 GB files side by side. Here:

    - ``repartition(ceil(n / shard_rows))`` round-robins rows into
      equal-sized partitions (one output file each);
    - ``maxRecordsPerFile`` caps any residual overflow file-side;
    - optional ``order_by`` sorts WITHIN each shard (run-length /
      dictionary compression + deterministic iteration order) without a
      global sort;
    - zstd: best published size/speed trade-off for cold training data.

    One count job + one shuffle — both unavoidable for exact row balance.
    """
    n = df.count()
    shards = max(1, -(-n // shard_rows))
    out = df.repartition(shards)
    if order_by:
        out = out.sortWithinPartitions(*order_by)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", shard_rows)
        .option("compression", compression)
        .parquet(path)
    )


def compact_files(
    spark,
    path: str,
    target_mb: int = 128,
    compression: str = "zstd",
) -> dict:
    """Compact a small-file parquet directory in place.

    Long-running ingestion (streaming foreachBatch, incremental backfill)
    accretes many small files; scans then pay per-file open/footer cost
    and lose row-group-level skipping. This rewrites the directory to
    ~``target_mb`` files: file count derives from the directory's actual
    bytes (Hadoop FS metadata — no data read), the rewrite is one
    repartition through ``artifact.swap``. Returns before/after file
    counts.

    At real scale run per-partition (pass the partition directory as
    ``path``) so compaction parallelizes across partitions and touches
    only hot ones.
    """
    files_before, total_bytes = artifact.parquet_files(spark, path)
    n_files = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
    artifact.swap(spark, path, lambda tmp: (
        spark.read.parquet(path)
        .repartition(int(n_files))
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    ))
    files_after, _ = artifact.parquet_files(spark, path)
    return {"files_before": files_before, "files_after": files_after, "bytes": int(total_bytes)}


def compact_partitioned(
    spark,
    path: str,
    key: str,
    compression: str = "zstd",
) -> dict:
    """``compact_files`` for a ``partitionBy(key)`` directory tree —
    rewrite every ``key=<v>/`` subdirectory down to ONE file per value
    while preserving the partition layout (so partition pruning on
    ``key`` keeps working).

    This is the maintenance half of the partition-pruned stored-index
    family: every ``ivf_index_add`` / ``srp_index_add`` appends one or
    more files into the cell/bucket directories it touches, so a daily
    ingest pipeline accretes files until probe-time listing and
    per-file footer costs dominate the pruned scan the layout exists to
    provide. One hash shuffle on ``key`` (each value lands in exactly
    one task, so each directory gets exactly one output file), through
    ``artifact.swap``.

    At 100 TB scale, one file per value is right while per-value data
    fits a single right-sized file (LSH buckets and IVF cells are
    DESIGNED to stay small — an oversized cell is the retrain trigger
    ``ivf_index_stats`` alerts on); a value that has outgrown one file
    is a layout problem, not a compaction problem.

    Returns {files_before, files_after, bytes}."""
    from pyspark.sql import functions as F

    files_before, total_bytes = artifact.parquet_files(spark, path)
    artifact.swap(spark, path, lambda tmp: (
        spark.read.parquet(path)
        .repartition(F.col(key))
        .write.mode("overwrite")
        .partitionBy(key)
        .option("compression", compression)
        .parquet(tmp)
    ))
    files_after, _ = artifact.parquet_files(spark, path)
    return {"files_before": files_before, "files_after": files_after, "bytes": int(total_bytes)}
