"""Transformer operator tests — mirrors the reference's per-operator
golden-value style (reference tests/test_transformer.py) on tiny literal
DataFrames, plus the partitioning-invariance property the reference
asserts as chunk-size invariance (tests/test_transformer.py:383-396).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from laygo_python_spark import Context, Pipeline, Transformer
from laygo_python_spark.errors import PipelineAbortError


def ints(spark, values=(1, 2, 3, 4, 5)):
    return spark.createDataFrame([(v,) for v in values], ["value"])


def as_values(df):
    return [r[0] for r in df.orderBy("value").collect()]


# -- map (reference tests/test_transformer.py:32-36) -------------------------
def test_map_expression(spark):
    t = Transformer().map(value=F.col("value") * 2)
    assert as_values(t(ints(spark))) == [2, 4, 6, 8, 10]


def test_map_projection(spark):
    t = Transformer().map(F.col("value") + 1)
    out = t(ints(spark)).collect()
    assert sorted(r[0] for r in out) == [2, 3, 4, 5, 6]


def test_map_batches(spark):
    t = Transformer().map_batches(lambda pdf: pdf.assign(value=pdf.value * 10))
    assert as_values(t(ints(spark))) == [10, 20, 30, 40, 50]


def test_map_rows(spark):
    t = Transformer().map_rows(lambda x: x ** 2)  # element convention: bare scalar
    assert as_values(t(ints(spark))) == [1, 4, 9, 16, 25]


# -- filter (reference tests/test_transformer.py:38-42) ----------------------
def test_filter_column(spark):
    t = Transformer().filter(F.col("value") % 2 == 0)
    assert as_values(t(ints(spark))) == [2, 4]


def test_filter_sql_string(spark):
    t = Transformer().filter("value > 3")
    assert as_values(t(ints(spark))) == [4, 5]


def test_filter_python_rows(spark):
    t = Transformer().filter(lambda x: x != 3)  # element convention: bare scalar
    assert as_values(t(ints(spark))) == [1, 2, 4, 5]


# -- flatten (reference tests/test_transformer.py:44-49) ---------------------
def test_flatten(spark):
    df = spark.createDataFrame([([1, 2],), ([3, 4],), ([5],)], ["value"])
    t = Transformer().flatten("value")
    assert as_values(t(df)) == [1, 2, 3, 4, 5]


def test_flatten_into_new_column(spark):
    df = spark.createDataFrame([(1, [10, 20])], ["id", "xs"])
    t = Transformer().flatten("xs", into="x")
    rows = sorted((r["id"], r["x"]) for r in t(df).collect())
    assert rows == [(1, 10), (1, 20)]


# -- chaining (composition parity with laygo _pipe) ---------------------------
def test_chained_map_filter_map(spark):
    t = (
        Transformer()
        .filter(F.col("value") % 2 == 0)
        .map(value=F.col("value") * 2)
        .filter(F.col("value") > 4)
        .map(value=F.col("value") + 1)
    )
    # the reference benchmark workload in miniature (BASELINE.md)
    assert as_values(t(ints(spark, range(1, 11)))) == [9, 13, 17, 21]


def test_transformer_is_reusable_value(spark):
    t = Transformer().map(value=F.col("value") + 1)
    assert as_values(t(ints(spark))) == as_values(t(ints(spark)))


def test_immutability(spark):
    base = Transformer().filter("value > 1")
    branch_a = base.map(value=F.col("value") * 2)
    assert len(base._steps) == 1 and len(branch_a._steps) == 2


def test_apply_composition(spark):
    def add_double(t: Transformer) -> Transformer:
        return t.map(value=F.col("value") * 2)

    t = Transformer().apply(add_double)
    assert as_values(t(ints(spark))) == [2, 4, 6, 8, 10]


# -- agg / reduce (reference tests/test_transformer.py:261-359) ----------------
def test_agg_sum(spark):
    t = Transformer().agg(F.sum("value").alias("value"))
    assert t(ints(spark)).collect()[0][0] == 15


def test_reduce_rows_per_partition(spark):
    # one fold result per partition (reference per_chunk=True,
    # transformer.py:436-460: chunks [1,2],[3,4],[5] -> [3,7,5])
    df = ints(spark).repartition(3)
    t = Transformer().reduce_rows(lambda acc, r: acc + r["value"], 0, schema="value long")
    partials = as_values(t(df))
    assert sum(partials) == 15 and len(partials) <= 3


def test_partitioning_invariance(spark):
    """Reference chunk-size invariance (tests/test_transformer.py:383-396):
    repartitioning must never change results."""
    t = (
        Transformer()
        .filter(F.col("value") % 2 == 0)
        .map(value=F.col("value") * 3)
        .map_batches(lambda pdf: pdf.assign(value=pdf.value + 1))
    )
    df = ints(spark, range(1, 51))
    r1 = as_values(t(df.repartition(1)))
    r7 = as_values(t(df.repartition(7)))
    assert r1 == r7 and len(r1) == 25


# -- tap / observe (reference tests/test_transformer.py:51-58) ----------------
def test_tap_counts_via_context(spark):
    ctx = Context(spark=spark)
    ctx.counter("n_rows")

    def count_batch(pdf, c):
        c["n_rows"] += len(pdf)

    t = Transformer().tap(count_batch)
    out = t(ints(spark), ctx)
    # NOTE: collect directly — an orderBy would add a range-partitioning
    # sampling pass that re-executes the tap and double-counts (Spark
    # accumulators are exactly-once only per action, and only in actions).
    assert sorted(r[0] for r in out.collect()) == [1, 2, 3, 4, 5]  # data unchanged
    assert ctx.to_dict()["n_rows"] == 5


def test_observe_metrics(spark):
    from pyspark.sql import Observation

    obs = Observation("stats")
    df = ints(spark).observe(obs, F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
    df.collect()
    assert obs.get == {"total": 15, "n": 5}


def test_observe_via_context_snapshot(spark):
    ctx = Context(spark=spark)
    t = Transformer().observe("stats", F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
    out = t(ints(spark), ctx)
    # snapshot BEFORE the action: metrics absent, and no hang
    assert "stats.total" not in ctx.to_dict()
    out.collect()
    snap = ctx.to_dict()
    assert snap["stats.total"] == 15 and snap["stats.n"] == 5


# -- catch (reference tests/test_transformer.py:425-495) -----------------------
def _make_poison():
    # Defined as a closure so cloudpickle serializes it by value — a
    # module-level function in a pytest file isn't importable on workers.
    def poison(pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf.value == 3).any():
            raise ValueError("poison")
        return pdf

    return poison


_poison = _make_poison()


def test_catch_row_mode_drops_only_poison_rows(spark):
    t = Transformer().catch(_poison, mode="row")
    assert as_values(t(ints(spark).repartition(1))) == [1, 2, 4, 5]


def test_catch_batch_mode_drops_whole_batch(spark):
    # single partition → single Arrow batch → everything dies with the
    # poison row (reference chunk semantics, transformer.py:524-533)
    t = Transformer().catch(_poison, mode="batch")
    assert as_values(t(ints(spark).coalesce(1))) == []


def test_catch_error_counter(spark):
    ctx = Context(spark=spark)
    ctx.counter("errors")

    def on_error(chunk, exc, c):
        c["errors"] += 1

    t = Transformer().catch(_poison, mode="row", on_error=on_error)
    out = t(ints(spark).repartition(1), ctx)
    assert as_values(out) == [1, 2, 4, 5]
    assert ctx.to_dict()["errors"] == 1


def test_catch_without_errors_passes_through(spark):
    t = Transformer().catch(lambda pdf: pdf.assign(value=pdf.value + 1), mode="batch")
    assert as_values(t(ints(spark))) == [2, 3, 4, 5, 6]


# -- loop (reference tests/test_transformer.py:60-102) -------------------------
def test_loop_until_condition(spark):
    body = Transformer().map(value=F.when(F.col("value") < 10, F.col("value") * 2).otherwise(F.col("value")))
    t = Transformer().loop(body, condition="value < 10", max_iterations=16)
    assert as_values(t(ints(spark))) == [10, 12, 16, 16, 16]


def test_loop_max_iterations_bound(spark):
    body = Transformer().map(value=F.col("value") + 1)
    t = Transformer().loop(body, condition="value < 1000", max_iterations=3)
    assert as_values(t(ints(spark, [1]))) == [4]


def test_loop_callable_condition(spark):
    body = Transformer().map(value=F.col("value") * 2)
    calls = []

    def cond(df):
        calls.append(1)
        return len(calls) <= 2

    t = Transformer().loop(body, condition=cond, max_iterations=10)
    assert as_values(t(ints(spark, [1]))) == [4]


def test_loop_rejects_unbounded(spark):
    with pytest.raises(ValueError):
        Transformer().loop(Transformer(), condition="true", max_iterations=0)


# -- short_circuit (reference tests/test_transformer.py:457-473) ----------------
def test_short_circuit_aborts(spark):
    ctx = Context({"abort": True}, spark=spark)
    t = Transformer().short_circuit(lambda c: c.get("abort"))
    with pytest.raises(PipelineAbortError):
        t(ints(spark), ctx)


def test_short_circuit_noop_when_false(spark):
    ctx = Context({"abort": False}, spark=spark)
    t = Transformer().short_circuit(lambda c: c.get("abort")).map(value=F.col("value") + 1)
    assert as_values(t(ints(spark), ctx)) == [2, 3, 4, 5, 6]


# -- relational uplift --------------------------------------------------------
def test_join_broadcast(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "x"])
    right = spark.createDataFrame([(1, 100)], ["id", "y"])
    t = Transformer().join(right, "id", "inner", broadcast=True)
    assert t(left).collect()[0]["y"] == 100


def test_distinct_order_limit(spark):
    df = ints(spark, [5, 3, 5, 1, 3])
    t = Transformer().distinct().order_by(F.desc("value")).limit(2)
    assert [r[0] for r in t(df).collect()] == [5, 3]


def test_union(spark):
    t = Transformer().union(ints(spark, [6, 7]))
    assert as_values(t(ints(spark, [1, 2]))) == [1, 2, 6, 7]


# -- worker-failure semantics (reference tests/test_parallel_transformer.py:155-167)
def test_uncaught_worker_exception_propagates_with_message(spark):
    """Without catch, a raising transform fails the job and the user's
    error reaches the driver (Spark's fail-fast default = laygo
    raise_error semantics, reference errors.py:8-22)."""

    def boom(pdf):
        raise RuntimeError("user-code exploded on purpose")

    t = Transformer().map_batches(boom)
    with pytest.raises(Exception, match="user-code exploded on purpose"):
        t(ints(spark)).collect()


def test_unordered_execution_same_multiset(spark):
    """Reference tests/test_threaded_transformer.py:147-158: whatever the
    parallelism/partitioning, results form the same multiset."""
    data = list(range(100)) * 2  # duplicates matter: multiset, not set
    t = Transformer().map(value=F.col("value") * 3)
    outs = []
    for parts in (1, 4, 32):
        df = spark.createDataFrame([(v,) for v in data], ["value"]).repartition(parts)
        outs.append(sorted(r[0] for r in t(df).collect()))
    assert outs[0] == outs[1] == outs[2]


def test_map_with_sql_string_expressions(spark):
    t = Transformer().map(doubled="value * 2", flag="value > 3")
    rows = {r.value: (r.doubled, r.flag) for r in t(ints(spark)).collect()}
    assert rows[2] == (4, False) and rows[5] == (10, True)


def test_custom_transformer_class_via_apply(spark):
    """Custom BaseTransformer parity (reference tests/test_custom_transformer.py
    :11-30): any object with __call__(df) -> df plugs into Pipeline.apply."""

    class DoubleEvens:
        def __call__(self, df):
            return df.filter(F.col("value") % 2 == 0).withColumn("value", F.col("value") * 2)

    result, _ = Pipeline([1, 2, 3, 4], spark=spark).apply(DoubleEvens()).to_list()
    assert sorted(result) == [4, 8]


def test_select_drop_rename(spark):
    df = spark.createDataFrame([(1, "a", True)], ["id", "name", "flag"])
    t = Transformer().drop("flag").rename(name="label").select("label", "id")
    row = t(df).collect()[0]
    assert row.asDict() == {"label": "a", "id": 1}


def test_pipe_escape_hatch(spark):
    t = Transformer().pipe(lambda df: df.limit(2))
    assert t(ints(spark)).count() == 2


def test_each_with_dict_rows(spark):
    seen = []
    # driver-side via toLocalIterator parity path: use Pipeline.__iter__
    items = list(Pipeline([{"a": 1, "b": "x"}], spark=spark))
    assert items == [{"a": 1, "b": "x"}]


# -- sub-pipeline overloads (reference transformer.py:282-333, :488-535) -----
def test_tap_transformer_overload(spark):
    """Port of reference tests/test_transformer.py:51-58 adapted to batch
    granularity: a sub-Transformer runs per chunk for side effects and
    the main stream is unchanged."""
    from laygo_python_spark import Context, Pipeline

    ctx = Context({}, spark=spark)
    ctx.counter("tapped")
    def observe_batch(pdf, c):
        c["tapped"] += len(pdf)
        return pdf

    side = Transformer().map_batches(observe_batch)
    result, snap = (
        Pipeline([1, 2, 3], spark=spark, context=ctx)
        .apply(Transformer().tap(side))
        .to_list()
    )
    assert sorted(result) == [1, 2, 3]  # data unchanged
    assert snap["tapped"] == 3  # side effect observed every element


def test_tap_transformer_does_not_mutate_stream(spark):
    """The tapped sub-pipeline's OUTPUT is discarded even when it
    transforms the data (reference: tap returns the original chunk)."""
    from laygo_python_spark import Pipeline

    doubler = Transformer().map_batches(lambda pdf: pdf.assign(value=pdf.value * 2))
    result, _ = Pipeline([1, 2, 3], spark=spark).apply(Transformer().tap(doubler)).to_list()
    assert sorted(result) == [1, 2, 3]


def test_tap_rejects_column_subpipeline(spark):
    import pytest

    from pyspark.sql import functions as F

    with pytest.raises(TypeError, match="Catalyst-plan"):
        Transformer().tap(Transformer().map(value=F.col("value") * 2))


def test_catch_builder_success(spark):
    """Port of reference tests/test_transformer.py:427-431: catch with a
    sub-pipeline BUILDER — the reference's exact signature."""
    from laygo_python_spark import Pipeline

    result, _ = (
        Pipeline([1, 2, 3], spark=spark)
        .catch(lambda t: t.map_rows(lambda x: x * 2))
        .to_list()
    )
    assert sorted(result) == [2, 4, 6]


def test_catch_builder_error_isolation(spark):
    """Port of reference tests/test_transformer.py:434-444: a failing
    sub-pipeline drops the failing unit, the handler sees it, and the
    rest of the chain is ONE error domain."""
    from laygo_python_spark import Context, Pipeline

    ctx = Context({}, spark=spark)
    ctx.counter("errors")

    def on_error(pdf, exc, c):
        c["errors"] += len(pdf)

    result, snap = (
        Pipeline([1, 2, 3], spark=spark, context=ctx)
        .catch(lambda t: t.map_rows(lambda x: x / 0), on_error=on_error, mode="row")
        .to_list()
    )
    assert result == []  # every row failed
    assert snap["errors"] == 3


def test_catch_multi_stage_chain_is_one_error_domain(spark):
    """A chain of map+filter inside catch fails/survives as a unit."""
    from laygo_python_spark import Pipeline

    result, _ = (
        Pipeline([1, 2, 3, 4], spark=spark)
        .catch(
            lambda t: t.map_rows(lambda x: 10 // (x - 2)).filter(lambda x: x > 0),
            mode="row",
        )
        .to_list()
    )
    # x=2 divides by zero (dropped); 10//(1-2) = -10 filtered; 3,4 -> 10,5
    assert sorted(result) == [5, 10]


def test_catch_raises_for_a_stage_whose_columns_do_not_fit(spark):
    """A stage inside catch that changes its columns without declaring a
    schema fails the job with pyspark's column-mismatch error, in batch
    and row mode: a wrong stage is not a bad row, so catch must not drop
    every batch for it. Declaring the schema makes the chain work."""

    def chain(declare: bool):
        schema = "a long" if declare else None
        return lambda t: t.map_rows(lambda x: {"a": x}, schema=schema).filter_rows(lambda r: r["a"] > 1)

    for mode in ("batch", "row"):
        with pytest.raises(Exception, match="RESULT_COLUMN_NAMES_MISMATCH"):
            Pipeline([1, 2, 3], spark=spark).catch(chain(False), schema="a long", mode=mode).to_list()
        got, _ = Pipeline([1, 2, 3], spark=spark).catch(chain(True), mode=mode).to_list()
        assert sorted(r["a"] for r in got) == [2, 3]


# -- per-chunk loop (reference transformer.py:346-392) -----------------------
def test_loop_chunks_basic(spark):
    """Port of reference tests/test_transformer.py:60-72: increment until
    every element >= 5 (condition is chunk-scoped)."""
    from laygo_python_spark import Pipeline

    inc = Transformer().map_batches(lambda pdf: pdf.assign(value=pdf.value + 1))
    result, _ = (
        Pipeline([1, 2, 3], spark=spark)
        .loop_chunks(inc, lambda pdf: bool((pdf.value < 5).any()), max_iterations=10)
        .to_list()
    )
    # chunk boundaries differ from the reference's, but each chunk stops
    # once its own min reaches 5 — with one batch: [5, 6, 7]
    assert sorted(result) == [5, 6, 7] or all(v >= 5 for v in result)


def test_loop_chunks_keeps_every_frame_its_body_yields(spark):
    """A row-mode catch in a loop_chunks body salvages a batch with a
    poison row as several frames; the loop keeps all of them, so only
    the poison row is lost."""
    df = spark.range(0, 20).select(F.col("id").alias("v")).coalesce(1)

    def fragile(pdf):
        if (pdf["v"] == 7).any():
            raise ValueError("poison")
        return pdf

    body = Transformer().catch(fragile, mode="row")
    rows = Transformer().loop_chunks(body, lambda pdf: True, max_iterations=1)(df).collect()
    assert sorted(r.v for r in rows) == [v for v in range(20) if v != 7]


def test_reduce_rows_folds_each_batch_of_a_per_batch_scope(spark):
    """reduce_rows inside a catch, tap or loop_chunks body folds each
    batch that scope hands it (laygo's per-chunk reduce); it used to
    raise TypeError there. With 5-row chunks, a catch gives one sum per
    chunk, a loop_chunks body its chunk's sum and a tap one fold per chunk."""
    df = spark.range(0, 20).select(F.col("id").alias("v")).coalesce(1)
    total = Transformer().reduce_rows(lambda acc, r: acc + r["v"], 0, "value long")
    sums = Transformer().set_chunker(5).catch(total)(df).collect()
    assert sorted(r.value for r in sums) == [10, 35, 60, 85]

    body = total.map_batches(lambda pdf: pdf.rename(columns={"value": "v"}))
    looped = Transformer().set_chunker(5).loop_chunks(body, lambda pdf: len(pdf) > 1)(df).collect()
    assert sorted(r.v for r in looped) == [10, 35, 60, 85]

    ctx = Context(spark=spark)
    ctx.counter("folds")

    def count(pdf, c):
        c["folds"] += 1
        return pdf

    tapped = Transformer().set_chunker(5).tap(total.map_batches(count))
    _, snap = Pipeline(df, spark=spark, context=ctx).apply(tapped).consume()
    assert snap["folds"] == 4


def test_loop_chunks_max_iterations(spark):
    """Port of reference tests/test_transformer.py:74-86: the iteration
    cap halts an always-true condition."""
    from laygo_python_spark import Pipeline

    inc = Transformer().map_batches(lambda pdf: pdf.assign(value=pdf.value + 1))
    result, _ = (
        Pipeline([1, 2, 3], spark=spark)
        .loop_chunks(inc, lambda pdf: True, max_iterations=3)
        .to_list()
    )
    assert sorted(result) == [4, 5, 6]


def test_loop_chunks_no_iterations(spark):
    """Port of reference tests/test_transformer.py:88-99: an immediately
    false condition leaves data untouched."""
    from laygo_python_spark import Pipeline

    inc = Transformer().map_batches(lambda pdf: pdf.assign(value=pdf.value + 1))
    result, _ = (
        Pipeline([1, 2, 3], spark=spark)
        .loop_chunks(inc, lambda pdf: False)
        .to_list()
    )
    assert sorted(result) == [1, 2, 3]


def test_group_apply_arrow_matches_pandas(spark):
    import pandas as pd
    import pyarrow as pa

    from laygo_python_spark.transformer import Transformer

    df = spark.range(100).selectExpr("CAST(id % 7 AS INT) AS k", "CAST(id AS DOUBLE) AS v")

    def via_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [int(pdf["k"].iloc[0])], "s": [float(pdf["v"].sum())]})

    def via_arrow(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        return pa.table(
            {
                "k": pa.array([tbl["k"][0].as_py()], pa.int32()),
                "s": pa.array([pc.sum(tbl["v"]).as_py()], pa.float64()),
            }
        )

    schema = "k int, s double"
    a = Transformer().group_apply(["k"], via_pandas, schema)(df, None).collect()
    b = Transformer().group_apply_arrow(["k"], via_arrow, schema)(df, None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 7


def test_map_batches_arrow_matches_pandas(spark):
    import pyarrow as pa

    from laygo_python_spark.transformer import Transformer

    df = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")

    def via_pandas(pdf):
        pdf["v"] = pdf["v"] * 2
        return pdf

    def via_arrow(rb: pa.RecordBatch) -> pa.RecordBatch:
        import pyarrow.compute as pc

        return pa.RecordBatch.from_arrays([pc.multiply(rb["v"], 2.0)], names=["v"])

    a = Transformer().map_batches(via_pandas)(df, None).collect()
    b = Transformer().map_batches_arrow(via_arrow)(df, None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sort_within_partitions_no_global_exchange(spark):
    from laygo_python_spark.transformer import Transformer

    df = spark.range(0, 1000).selectExpr("CAST(id % 7 AS INT) AS k", "CAST(id AS LONG) AS v")
    t = Transformer().repartition(4, "k").sort_within_partitions("k", "v")
    out = t(df, None)
    # No range exchange (global sort) in the plan — only the hash
    # repartition; rows within each partition are (k, v)-ordered.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    rows_per_part = out.rdd.glom().map(lambda rs: [(r["k"], r["v"]) for r in rs]).collect()
    for part in rows_per_part:
        assert part == sorted(part)


def test_set_chunker_fixed_size_controls_batch_boundaries(spark):
    """Reference parity (set_chunker, reference transformer.py:186-197):
    an int chunker re-chunks the Arrow stream so map_batches sees
    exactly-N-row chunks (tails excepted) regardless of Arrow's own
    batch size; results are row-identical either way."""
    from laygo_python_spark import Transformer

    df = spark.range(0, 101).select(F.col("id").alias("v")).coalesce(1)
    sizes = (
        Transformer()
        .set_chunker(10)
        .map_batches(lambda pdf: pdf.assign(chunk_n=len(pdf)), schema="v long, chunk_n int")
    )
    rows = sizes(df).collect()
    counts = sorted({r.chunk_n for r in rows})
    assert counts == [1, 10]  # ten 10-row chunks + the 1-row tail
    assert sorted(r.v for r in rows) == list(range(101))


def test_set_chunker_arbitrary_function(spark):
    """The full reference contract: an ARBITRARY chunker function
    regroups the stream — here, pairing batches two-at-a-time."""
    import pandas as pd

    from laygo_python_spark import Transformer

    def pair_up(batches):
        buf = []
        for pdf in batches:
            buf.append(pdf)
            if len(buf) == 2:
                yield pd.concat(buf, ignore_index=True)
                buf = []
        if buf:
            yield buf[0]

    df = spark.range(0, 40).select(F.col("id").alias("v")).coalesce(1)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        t = (
            Transformer()
            .set_chunker(pair_up)
            .map_batches(lambda pdf: pdf.assign(chunk_n=len(pdf)), schema="v long, chunk_n int")
        )
        rows = t(df).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert {r.chunk_n for r in rows} == {10}  # 5-row Arrow batches paired into 10s
    assert sorted(r.v for r in rows) == list(range(40))


def test_set_chunker_survives_clone_and_applies_to_later_stages_only(spark):
    from laygo_python_spark import Transformer

    base = Transformer().set_chunker(7)
    clone = Transformer.from_transformer(base)
    df = spark.range(0, 21).select(F.col("id").alias("v")).coalesce(1)
    rows = clone.map_batches(
        lambda pdf: pdf.assign(chunk_n=len(pdf)), schema="v long, chunk_n int"
    )(df).collect()
    assert {r.chunk_n for r in rows} == {7}


def test_set_chunker_cuts_the_input_of_every_fused_stage(spark):
    """Python stages fused into one mapInPandas each still get
    exactly-N-row chunks (tails excepted) after a stage that added or
    dropped rows: the same chunks as when a select("*") between them
    makes each stage its own mapInPandas."""

    def sizes(split: bool):
        cut = (lambda t: t.select("*")) if split else (lambda t: t)
        t = Transformer().set_chunker(10).map_batches(lambda pdf: pd.concat([pdf] * 3, ignore_index=True))
        t = cut(t).filter_rows(lambda r: r["v"] % 2 == 0)
        t = cut(t).map_batches(lambda pdf: pdf.assign(chunk_n=len(pdf)), schema="v long, chunk_n long")
        return sorted(r.chunk_n for r in t(spark.range(0, 101).select(F.col("id").alias("v")).coalesce(1)).collect())

    fused = sizes(False)
    assert len(fused) == 153 and set(fused) == {3, 10}  # fifteen 10-row chunks and a 3-row tail
    assert fused == sizes(True)


def test_set_chunker_governs_catch_error_domains(spark):
    """A custom chunker defines catch's batch-mode error domains: with
    5-row chunks, one poison row drops exactly its 5-row chunk, not the
    whole Arrow batch."""
    from laygo_python_spark import Transformer

    df = spark.range(0, 100).select(F.col("id").alias("v")).coalesce(1)

    def fragile(pdf):
        if (pdf["v"] == 42).any():
            raise ValueError("poison")
        return pdf

    rows = Transformer().set_chunker(5).catch(fragile)(df).collect()
    got = sorted(r.v for r in rows)
    assert got == [v for v in range(100) if not (40 <= v < 45)]


def test_set_chunker_int_governs_arrow_stage(spark):
    """ADVICE r4: set_chunker(n) was silently ignored by
    map_batches_arrow. The int form now re-slices the record-batch
    stream zero-copy, so arrow stages honor the declared chunk size."""
    import pyarrow as pa

    from laygo_python_spark import Transformer

    df = spark.range(0, 101).select(F.col("id").alias("v")).coalesce(1)
    t = (
        Transformer()
        .set_chunker(10)
        .map_batches_arrow(
            lambda rb: pa.RecordBatch.from_pydict(
                {"v": rb.column("v"), "chunk_n": pa.array([rb.num_rows] * rb.num_rows, pa.int32())}
            ),
            schema="v long, chunk_n int",
        )
    )
    rows = t(df).collect()
    assert sorted({r.chunk_n for r in rows}) == [1, 10]
    assert sorted(r.v for r in rows) == list(range(101))


def test_set_chunker_callable_raises_on_arrow_stage(spark):
    """A pandas-contract callable chunker cannot govern an arrow stage —
    that combination raises at build time instead of silently handing
    the stage engine-default batches."""
    import pytest

    from laygo_python_spark import Transformer

    def pair_up(batches):
        yield from batches

    with pytest.raises(TypeError, match="arrow"):
        Transformer().set_chunker(pair_up).map_batches_arrow(lambda rb: rb)
