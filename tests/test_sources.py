"""Source/sink connector round-trips (sources/__init__.py, sinks.py)."""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from laygo_python_spark.sources import from_csv, from_iterable, from_json, from_parquet
from laygo_python_spark.sources.sinks import to_csv, to_json, to_parquet


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"])
    path = str(tmp_path / "csv")
    to_csv(df, path)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    back = from_csv(spark, path, schema=schema)
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "a"), (2, "b")]
    assert dict(back.dtypes) == {"id": "bigint", "name": "string"}


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, [1.5, 2.5]), (2, [])], "id long, xs array<double>")
    path = str(tmp_path / "json")
    to_json(df, path)
    back = from_json(spark, path, schema="id long, xs array<double>")
    assert sorted((r.id, list(r.xs)) for r in back.collect()) == [(1, [1.5, 2.5]), (2, [])]


def test_parquet_source(spark, sf_dir):
    df = from_parquet(spark, f"{sf_dir}/region.parquet")
    assert df.count() == 5


def test_from_iterable_with_schema(spark):
    df = from_iterable(spark, [(1, "x")], schema="a long, b string")
    assert df.collect()[0].asDict() == {"a": 1, "b": "x"}


def test_from_iterable_scalars(spark):
    df = from_iterable(spark, [1, 2, 3])
    assert df.columns == ["value"] and df.count() == 3


_CASES = {
    "int_with_none": [{"a": 1}, {"a": None}, {"a": 3}],
    "nan_float": [{"a": 1.5}, {"a": float("nan")}],
    "bool": [{"a": True}, {"a": False}],
    "nested_dict_is_map": [{"a": {"x": 1, "y": 2}}, {"a": {}}],
    "list": [{"a": [1, 2, 3]}, {"a": []}],
    "list_of_dict": [{"a": [{"x": 1}, {"y": 2}]}],
    "date_datetime": [
        {"d": datetime.date(2020, 1, 2), "t": datetime.datetime(2020, 1, 2, 3, 4, 5, 6)}
    ],
    "decimal": [{"a": decimal.Decimal("1.25")}, {"a": decimal.Decimal("-7")}],
    "bytes": [{"a": b"\x00ab"}],
    "two_pow_62": [{"a": 2**62}, {"a": -(2**62)}],
    "nested_row": [{"a": Row(x=1, y="s")}],
}


def _same_source(spark, got, want):
    """``got`` (a Python-list Pipeline) has ``want``'s schema and
    ``to_list`` — repr tells 1 from 1.0 and None from nan — and is a
    JVM LocalRelation, not a Python RDD."""
    from laygo_python_spark import Pipeline
    from laygo_python_spark.plans import physical_plan

    assert got.df.schema == want.schema
    assert repr(got.to_list()[0]) == repr(Pipeline(want, spark=spark).to_list()[0])
    plan = physical_plan(got.df)
    assert "Scan ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_list_sources_match_create_dataframe(spark):
    """A Python-list source gives the schema and elements that
    ``createDataFrame([Row(**d) ...])`` gives, for every case above,
    for scalars, int/float mixes and the allow_mixed union — including
    a datetime under a non-UTC session time zone."""
    from laygo_python_spark import Pipeline
    from laygo_python_spark.transformer import MIXED_SCHEMA, encode_mixed

    for recs in _CASES.values():
        want = spark.createDataFrame([Row(**d) for d in recs])
        _same_source(spark, Pipeline(recs, spark=spark), want)
    scalars = [3, None, 5]
    want = spark.createDataFrame([(x,) for x in scalars], ["value"])
    _same_source(spark, Pipeline(scalars, spark=spark), want)
    mixed_num = [1, 2.5, None]
    want = spark.createDataFrame([(1.0,), (2.5,), (None,)], ["value"])
    _same_source(spark, Pipeline(mixed_num, spark=spark), want)
    dirty = [1, "two", {"k": [3]}, None]
    want = spark.createDataFrame([encode_mixed(x) for x in dirty], MIXED_SCHEMA)
    _same_source(spark, Pipeline(dirty, spark=spark, allow_mixed=True), want)
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        recs = _CASES["date_datetime"]
        want = spark.createDataFrame([Row(**d) for d in recs])
        _same_source(spark, Pipeline(recs, spark=spark), want)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_dict_records_are_read_by_key(spark):
    """A record without some key gets None there; a record with its keys
    in another order is still read by key (a list-backed createDataFrame
    of such Rows puts values in by position)."""
    from laygo_python_spark import Pipeline

    got, _ = Pipeline([{"a": 1}, {"a": 2, "b": 3}], spark=spark).to_list()
    assert got == [{"a": 1, "b": None}, {"a": 2, "b": 3}]
    got, _ = Pipeline([{"z": 1, "a": "q"}, {"a": "r", "z": 2}], spark=spark).to_list()
    assert got == [{"z": 1, "a": "q"}, {"z": 2, "a": "r"}]


def test_from_iterable_with_schema_is_a_local_relation(spark):
    from laygo_python_spark.plans import physical_plan

    df = from_iterable(spark, [{"b": "y", "a": 2}, (1, "x")], schema="a long, b string")
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
    assert "PythonRDD" not in physical_plan(df) and "ExistingRDD" not in physical_plan(df)


def test_from_iterable_takes_the_schemas_create_dataframe_takes(spark):
    """A list of column names (over tuple, list or dict rows, and shorter
    than the rows), an atomic type as a DDL string or a DataType, and a
    struct DDL string give createDataFrame's schema and rows."""
    from laygo_python_spark.plans import physical_plan

    cases = [
        ([("x", 1), ("y", None)], ["a", "b"]),
        ([["x", 1], ["y", 2]], ["a", "b"]),
        ([{"b": 1, "a": "x"}, {"a": "y", "b": 2}], ["p", "q"]),
        ([("x", 1, 2.5)], ["a"]),
        ([1, None, 3], "long"),
        (["s", None], "string"),
        ([1.5, 2.0], T.DoubleType()),
        ([("x", 1)], "a string, b long"),
    ]
    for data, schema in cases:
        want = spark.createDataFrame(list(data), list(schema) if isinstance(schema, list) else schema)
        got = from_iterable(spark, data, schema)
        assert (got.schema, got.collect()) == (want.schema, want.collect()), schema
        assert "PythonRDD" not in physical_plan(got) and "ExistingRDD" not in physical_plan(got)


def test_write_training_shards_balanced(spark, tmp_path):
    from laygo_python_spark.sources.sinks import write_training_shards

    df = spark.range(0, 10_000).selectExpr("id", "CAST(id % 97 AS STRING) AS s")
    # Skew the input partitioning on purpose: shard balance must not care.
    df = df.repartition(5, "s")
    path = str(tmp_path / "shards")
    write_training_shards(df, path, shard_rows=1_000, order_by=["id"])

    import glob
    import pyarrow.parquet as pq

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) == 10
    sizes = [pq.read_metadata(f).num_rows for f in files]
    assert all(s == 1_000 for s in sizes), sizes
    # Within-shard order is the requested one.
    first = pq.read_table(files[0], columns=["id"]).column("id").to_pylist()
    assert first == sorted(first)
    back = spark.read.parquet(path)
    assert back.count() == 10_000


def test_register_tables_enables_raw_sql(spark, sf_dir):
    from laygo_python_spark.session import register_tables

    register_tables(spark, sf_dir)
    got = spark.sql(
        "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1"
    ).collect()
    assert len(got) == 5 and sum(r["n"] for r in got) == spark.table("orders").count()
    # events rides through the nanos-timestamp normalization.
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"


def test_compact_files_reduces_file_count(spark, tmp_path):
    from laygo_python_spark.sources.sinks import compact_files

    path = str(tmp_path / "frag")
    # Fragmented table: 64 tiny files.
    spark.range(0, 64_000).repartition(64).write.parquet(path)
    stats = compact_files(spark, path, target_mb=128)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1
    back = spark.read.parquet(path)
    assert back.count() == 64_000 and back.agg({"id": "sum"}).collect()[0][0] == 64_000 * 63_999 // 2


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on read: a v2 writer added a column; reading the
    directory with mergeSchema=true unions the schemas and backfills
    nulls for v1 files — the append-only-table evolution contract."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(base + "/d=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double").write.parquet(
        base + "/d=2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[2] == 9.5 and rows[1] is None


def test_json_corrupt_record_modes(spark, tmp_path):
    """Dirty-feed ingestion (the reference's mixed dirty-data tests,
    reference tests/test_integration.py:61): PERMISSIVE mode quarantines
    malformed lines into _corrupt_record instead of failing the job;
    FAILFAST raises. Schema is pinned — streaming-grade discipline."""
    import pytest as _pytest

    path = tmp_path / "feed.json"
    path.write_text('{"id": 1, "v": 10}\n{BROKEN!!\n{"id": 2, "v": 20}\n')
    schema = "id long, v long, _corrupt_record string"
    # Spark disallows pruning down to ONLY the corrupt-record column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); the documented workaround is
    # caching the parsed frame before slicing it.
    ok = spark.read.schema(schema).json(str(path)).cache()
    try:
        good = ok.filter(F.col("_corrupt_record").isNull())
        bad = ok.filter(F.col("_corrupt_record").isNotNull())
        assert {r["id"] for r in good.collect()} == {1, 2}
        assert bad.count() == 1
    finally:
        ok.unpersist()
    with _pytest.raises(Exception, match="Malformed|FAILFAST"):
        spark.read.schema("id long, v long").option("mode", "FAILFAST").json(str(path)).collect()


def test_read_table_cache_revalidates_on_dir_change(spark, tmp_path):
    # The per-session table cache must not pin a first file listing for
    # a LOCAL directory that later gains files (the daily-ingest shape):
    # the mtime probe re-resolves, so new rows become visible; and
    # clear_table_cache() is the explicit escape hatch.
    import time

    from laygo_python_spark.session import clear_table_cache, read_table

    tbl = tmp_path / "t.parquet"
    spark.range(5).write.parquet(str(tbl))
    assert read_table(spark, str(tmp_path), "t").count() == 5
    time.sleep(0.05)  # distinct dir mtime at ns resolution on any fs
    spark.range(7).write.mode("append").parquet(str(tbl))
    assert read_table(spark, str(tmp_path), "t").count() == 12
    clear_table_cache()
    assert read_table(spark, str(tmp_path), "t").count() == 12
