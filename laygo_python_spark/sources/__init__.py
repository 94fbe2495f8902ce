"""Source connectors.

The reference accepts any Python iterable (laygo/pipeline.py:94-112);
here sources are Spark readers — parquet is the default scan (columnar,
predicate pushdown), with csv/json/orc and in-memory iterables for parity.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def from_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def from_csv(spark: SparkSession, path: str, schema: Any | None = None, **options: Any) -> DataFrame:
    reader = spark.read.options(header=True, **options)
    # Explicit schema > inference: inference is a full extra pass at scale.
    return (reader.schema(schema) if schema is not None else reader.option("inferSchema", True)).csv(path)


def from_json(spark: SparkSession, path: str, schema: Any | None = None, **options: Any) -> DataFrame:
    reader = spark.read.options(**options)
    return (reader.schema(schema) if schema is not None else reader).json(path)


def from_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def from_iterable(spark: SparkSession, data: Iterable[Any], schema: Any | None = None) -> DataFrame:
    """In-memory source, parity with Pipeline(*data). Scalars become a
    single ``value`` column (see pipeline._coerce_source)."""
    from laygo_python_spark.pipeline import _coerce_source
    from laygo_python_spark.session import local_rows_df

    return _coerce_source(spark, data) if schema is None else local_rows_df(spark, data, schema)


def from_jdbc(spark: SparkSession, url: str, table: str, **options: Any) -> DataFrame:
    """JDBC scan (needs the driver jar on the classpath; gated for the
    v1 image). Partition options (partitionColumn/lowerBound/upperBound/
    numPartitions) are mandatory at scale — a single-connection JDBC read
    is a driver bottleneck."""
    return spark.read.format("jdbc").options(url=url, dbtable=table, **options).load()


def from_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Binary-file scan for multimodal ingestion (images/audio/video →
    one row per file: path, modificationTime, length, content BINARY).
    Feed the result to operators.multimodal.* for decode/feature
    extraction. At scale, prefer many medium files over millions of tiny
    ones (each file is at least one task) — or re-pack into parquet with
    a binary column first (see operators.multimodal payload schema)."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def from_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Line-oriented text scan (one ``value`` row per line), or one row
    per file with ``whole=True`` — the raw-corpus entry point of a
    document pipeline before tokenize/score/dedup. (``wholetext`` must
    be a text() kwarg — DataFrameReader.option silently ignores it.)"""
    return spark.read.text(path, wholetext=whole)
