"""Pipeline-level tests — mirrors reference tests/test_pipeline.py:
sources, terminal ops, data types, edge cases, branch scenarios.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from laygo_python_spark import Context, Pipeline, Transformer


# -- sources (reference tests/test_pipeline.py:11-37) --------------------------
def test_scalar_source(spark):
    result, ctx = Pipeline([1, 2, 3], spark=spark).to_list()
    assert sorted(result) == [1, 2, 3]
    assert ctx == {}


def test_multi_source_concatenation(spark):
    result, _ = Pipeline([1, 2], [3, 4], spark=spark).to_list()
    assert sorted(result) == [1, 2, 3, 4]


def test_dict_source(spark):
    data = [{"name": "a", "age": 30}, {"name": "b", "age": 25}]
    result, _ = Pipeline(data, spark=spark).to_list()
    assert sorted(result, key=lambda d: d["name"]) == sorted(data, key=lambda d: d["name"])


def test_dataframe_source_reusable(spark):
    """Deliberate upgrade vs reference single-use iterators
    (laygo/pipeline.py:89-92): DataFrames re-run fine."""
    df = spark.createDataFrame([(1,), (2,)], ["value"])
    p = Pipeline(df, spark=spark)
    assert p.to_list()[0] == p.to_list()[0]


def test_string_source(spark):
    result, _ = Pipeline(["x", "y"], spark=spark).to_list()
    assert sorted(result) == ["x", "y"]


# -- transform/apply (reference tests/test_pipeline.py:143-219) -----------------
def test_transform_lambda(spark):
    result, _ = (
        Pipeline(range(1, 11), spark=spark)
        .transform(lambda t: t.filter(F.col("value") % 2 == 0).map(value=F.col("value") * 2))
        .to_list()
    )
    assert sorted(result) == [4, 8, 12, 16, 20]


def test_apply_transformer_object(spark):
    t = Transformer().filter(F.col("value") > 1)
    result, _ = Pipeline([1, 2, 3], spark=spark).apply(t).to_list()
    assert sorted(result) == [2, 3]


def test_apply_plain_callable(spark):
    result, _ = Pipeline([1, 2, 3], spark=spark).apply(lambda df: df.filter("value < 3")).to_list()
    assert sorted(result) == [1, 2]


# -- terminal ops (reference tests/test_pipeline.py:75-106) ---------------------
def test_first(spark):
    result, ctx = Pipeline(range(100), spark=spark).first(5)
    assert len(result) == 5


def test_each_side_effect_via_accumulator(spark):
    ctx = Context(spark=spark)
    ctx.counter("seen")

    def visit(item, c):
        c["seen"] += 1

    _, snapshot = Pipeline([1, 2, 3], spark=spark, context=ctx).each(visit)
    assert snapshot["seen"] == 3


def test_consume(spark):
    result, _ = Pipeline([1, 2, 3], spark=spark).consume()
    assert result is None


def test_consume_failure_raises_after_one_job(spark):
    """A failing pipeline fails its one noop write; it is not run a
    second time through another action."""
    import pytest

    def boom(x):
        raise RuntimeError("row down")

    sc = spark.sparkContext
    sc.setJobGroup("consume_fails_once", "consume a failing map_rows")
    try:
        with pytest.raises(Exception, match="row down"):
            Pipeline([1, 2, 3], spark=spark).apply(Transformer().map_rows(boom)).consume()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("consume_fails_once")) == 1


def test_count(spark):
    n, _ = Pipeline(range(42), spark=spark).count()
    assert n == 42


def test_iteration_protocol(spark):
    items = sorted(Pipeline([3, 1, 2], spark=spark))
    assert items == [1, 2, 3]


def test_driver_reduce_sequential_fold(spark):
    """Terminal reduce parity (laygo transformer.py:462-486): arbitrary
    non-associative fold, sequential on the driver."""
    total, _ = Pipeline([1, 2, 3, 4], spark=spark).reduce(lambda acc, x: acc * 10 + x, 0)
    # order is partition order of a 1-source small DF — ascending here
    assert total == 1234


def test_buffer_is_noop(spark):
    p = Pipeline([1, 2], spark=spark)
    assert p.buffer(8) is p


# -- edge cases (reference tests/test_pipeline.py:129-161) ----------------------
def test_single_element(spark):
    result, _ = Pipeline([7], spark=spark).to_list()
    assert result == [7]


def test_10k_smoke(spark):
    result, _ = (
        Pipeline(range(10_000), spark=spark)
        .transform(lambda t: t.filter(F.col("value") % 2 == 0).map(value=F.col("value") * 2).filter(F.col("value") > 100).map(value=F.col("value") + 1))
        .to_list()
    )
    # the reference benchmark workload (BASELINE.md): even → ×2 → >100 → +1
    assert len(result) == 4974 and min(result) == 105


# -- context (reference tests/test_integration.py:85-99) ------------------------
def test_context_seed_and_snapshot(spark):
    p = Pipeline([1], spark=spark).context({"run_id": "r1"})
    _, ctx = p.to_list()
    assert ctx["run_id"] == "r1"


def test_context_counters_from_workers(spark):
    ctx = Context(spark=spark)
    ctx.counter("processed_count")
    ctx.counter("sum_total")

    def track(pdf, c):
        c["processed_count"] += len(pdf)
        c["sum_total"] += int(pdf.value.sum())

    p = Pipeline(range(1, 101), spark=spark, context=ctx).apply(Transformer().tap(track))
    _, snapshot = p.consume()
    assert snapshot["processed_count"] == 100
    assert snapshot["sum_total"] == 5050


def test_context_max_tracker(spark):
    ctx = Context(spark=spark)
    ctx.max_tracker("max_value")

    def track(pdf, c):
        c["max_value"] += float(pdf.value.max())  # accumulator add = max-merge

    _, snapshot = Pipeline([3, 9, 4], spark=spark, context=ctx).apply(Transformer().tap(track)).consume()
    assert snapshot["max_value"] == 9


# -- branch (reference tests/test_pipeline.py:228-619) ---------------------------
def test_branch_unconditional_fanout(spark):
    results, _ = Pipeline([1, 2, 3, 4], spark=spark).branch(
        {
            "doubled": Transformer().map(value=F.col("value") * 2),
            "evens": Transformer().filter(F.col("value") % 2 == 0),
        }
    )
    assert sorted(results["doubled"]) == [2, 4, 6, 8]
    assert sorted(results["evens"]) == [2, 4]


def test_branch_router_first_match(spark):
    """Router golden routing (reference tests/test_pipeline.py:507-538):
    each row goes to the FIRST matching branch only."""
    results, _ = Pipeline([1, 50, 150, 250], spark=spark).branch(
        {
            "big": (F.col("value") > 100, Transformer()),
            "medium": (F.col("value") > 10, Transformer()),
            "small": (F.lit(True), Transformer()),
        },
        first_match=True,
    )
    assert sorted(results["big"]) == [150, 250]
    assert sorted(results["medium"]) == [50]
    assert sorted(results["small"]) == [1]


def test_branch_conditional_broadcast(spark):
    """Broadcast mode (reference tests/test_pipeline.py:540-570): rows go
    to ALL matching branches."""
    results, _ = Pipeline([1, 50, 150], spark=spark).branch(
        {
            "gt10": (F.col("value") > 10, Transformer()),
            "gt100": (F.col("value") > 100, Transformer()),
        },
        first_match=False,
    )
    assert sorted(results["gt10"]) == [50, 150]
    assert sorted(results["gt100"]) == [150]


def test_branch_failure_isolation(spark):
    """A failing branch yields [] without affecting others
    (reference laygo/pipeline.py:613-618)."""

    def explode_batch(pdf):
        raise RuntimeError("branch down")

    from pyspark import StorageLevel

    p = Pipeline([1, 2], spark=spark)
    results, _ = p.branch(
        {
            "ok": Transformer().map(value=F.col("value") + 1),
            "bad": Transformer().map_batches(explode_batch),
            "unresolved": Transformer().select("missing"),  # fails at analysis
        }
    )
    assert sorted(results["ok"]) == [2, 3]
    assert results["bad"] == [] and results["unresolved"] == []
    assert p.df.storageLevel == StorageLevel.NONE  # the source was released


def test_branch_python_predicate(spark):
    results, _ = Pipeline([1, 2, 3], spark=spark).branch(
        {"odd": (lambda x: x % 2 == 1, Transformer())},  # element convention
        first_match=True,
    )
    assert sorted(results["odd"]) == [1, 3]


def test_pipeline_catch_passthrough(spark):
    def bad(pdf):
        if (pdf.value == 2).any():
            raise ValueError("x")
        return pdf

    result, _ = Pipeline([1, 2, 3], spark=spark).catch(bad, mode="row").to_list()
    assert sorted(result) == [1, 3]


def test_pipeline_loop_passthrough(spark):
    body = Transformer().map(value=F.col("value") * 2)
    result, _ = Pipeline([1], spark=spark).loop(body, "value < 5", max_iterations=10).to_list()
    assert result == [8]


def test_pipeline_write_parquet_terminal(spark, tmp_path):
    out = str(tmp_path / "p")
    _, ctx = Pipeline([1, 2, 3], spark=spark).write_parquet(out)
    assert sorted(r[0] for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_strategy_factory_aliases(spark):
    from laygo_python_spark.transformer import create_process_transformer, create_threaded_transformer

    t = create_threaded_transformer(max_workers=3)
    df = t(spark.createDataFrame([(i,) for i in range(10)], ["value"]))
    assert df.rdd.getNumPartitions() == 3
    assert sorted(r[0] for r in df.collect()) == list(range(10))
    t2 = create_process_transformer(int, max_workers=2)
    assert t2(df).rdd.getNumPartitions() == 2


def test_to_pandas_terminal(spark):
    pdf, ctx = Pipeline([3, 1, 2], spark=spark).to_pandas()
    assert sorted(pdf["value"].tolist()) == [1, 2, 3]


def test_mixed_scalar_types_fail_loudly(spark):
    import pytest

    with pytest.raises(TypeError, match="mixed element types"):
        Pipeline([1, "hello", 3.14], spark=spark)


def test_int_float_mix_coerces_to_double(spark):
    result, _ = Pipeline([1, 2.5, 3], spark=spark).to_list()
    assert sorted(result) == [1.0, 2.5, 3.0]


def test_branch_router_first_match_python_conditions(spark):
    """Router exclusivity with PYTHON-callable conditions (reference
    tests/test_pipeline.py:507-538 uses lambdas): a row matching several
    conditions lands in the FIRST matching branch ONLY — r1 routed it to
    every matching branch (VERDICT item 2)."""
    results, _ = Pipeline([1, 50, 150, 250], spark=spark).branch(
        {
            "big": (lambda x: x > 100, Transformer()),
            "medium": (lambda x: x > 10, Transformer()),  # also true for 150/250
            "small": (lambda x: True, Transformer()),  # true for everything
        },
        first_match=True,
    )
    assert sorted(results["big"]) == [150, 250]
    assert sorted(results["medium"]) == [50]
    assert sorted(results["small"]) == [1]


def test_branch_router_rejects_mixed_condition_kinds(spark):
    """first_match exclusivity cannot compose across the Column/Python
    boundary — mixing kinds must fail loudly, not silently duplicate."""
    import pytest
    from pyspark import StorageLevel

    p = Pipeline([1, 2], spark=spark)
    with pytest.raises(ValueError, match="cannot mix"):
        p.branch(
            {
                "a": (F.col("value") > 1, Transformer()),
                "b": (lambda x: x < 2, Transformer()),
            },
            first_match=True,
        )
    assert p.df.storageLevel == StorageLevel.NONE


def test_branch_broadcast_python_conditions_not_exclusive(spark):
    """first_match=False with callables: rows still go to ALL matching
    branches (exclusivity must not leak into broadcast mode)."""
    results, _ = Pipeline([1, 50, 150], spark=spark).branch(
        {
            "gt10": (lambda x: x > 10, Transformer()),
            "gt100": (lambda x: x > 100, Transformer()),
        },
        first_match=False,
    )
    assert sorted(results["gt10"]) == [50, 150]
    assert sorted(results["gt100"]) == [150]


def test_branch_python_router_fuses_with_the_branch(spark, monkeypatch):
    """A Python router condition and the branch's first Python stage are
    one program, so the branch collects a plan with ONE MapInPandas (the
    router ran as a Transformer call of its own: 2)."""
    from laygo_python_spark.plans import physical_plan

    p = Pipeline([{"v": i} for i in range(8)], spark=spark)
    cls = type(p.df)
    collect, plans = cls.collect, []

    def recording_collect(df):
        rows = collect(df)
        plans.append(physical_plan(df))
        return rows

    monkeypatch.setattr(cls, "collect", recording_collect)
    results, _ = p.branch({"big": (lambda r: r["v"] > 3, Transformer().map_rows(lambda r: {"v": r["v"] * 10}))})
    assert sorted(r["v"] for r in results["big"]) == [40, 50, 60, 70]
    assert [plan.count("MapInPandas") for plan in plans] == [1], plans


# -- mixed-type sources (reference tests/test_pipeline.py:117-120) -----------
def test_mixed_type_transformation_opt_in(spark):
    """Port of the reference's mixed-type test via allow_mixed=True:
    heterogeneous scalars round-trip through a map lambda."""
    result, _ = (
        Pipeline([1, "hello", 3.14], spark=spark, allow_mixed=True)
        .transform(lambda t: t.map_rows(lambda x: str(x)))
        .to_list()
    )
    assert sorted(result) == ["1", "3.14", "hello"]


def test_mixed_roundtrip_identity_preserves_types(spark):
    data = [1, "hello", 3.14, True, None, -7]
    result, _ = Pipeline(data, spark=spark, allow_mixed=True).to_list()
    assert sorted(result, key=lambda x: str(type(x)) + str(x)) == sorted(
        data, key=lambda x: str(type(x)) + str(x)
    )
    # types preserved exactly (bool is not int, float is not str)
    assert {type(x) for x in result} == {type(x) for x in data}


def test_mixed_filter_and_each(spark):
    seen = []
    p = Pipeline([1, "a", 2.5, None], spark=spark, allow_mixed=True).transform(
        lambda t: t.filter(lambda x: isinstance(x, (int, float)))
    )
    result, _ = p.to_list()
    assert sorted(result, key=str) == [1, 2.5]
    for item in Pipeline([1, "a"], spark=spark, allow_mixed=True):
        seen.append(item)
    assert sorted(seen, key=str) == [1, "a"]


def test_mixed_requires_opt_in(spark):
    import pytest

    with pytest.raises(TypeError, match="allow_mixed=True"):
        Pipeline([1, "hello", 3.14], spark=spark)


def test_mixed_dict_elements(spark):
    """Port of reference tests/test_pipeline.py:122-124 via allow_mixed:
    dict elements survive the variant encoding and map lambdas see real
    dicts."""
    data = [{"name": "Alice", "age": 30}, {"name": "Bob", "age": 25}]
    result, _ = (
        Pipeline(data, spark=spark, allow_mixed=True)
        .transform(lambda t: t.map_rows(lambda x: x["name"]))
        .to_list()
    )
    assert sorted(result) == ["Alice", "Bob"]


def test_mixed_heterogeneous_dirty_data(spark):
    """Reference dirty-data shape (tests/test_integration.py:61-80 +
    test_pipeline.py:510): scalars, None, dicts and nested lists in ONE
    source, validated/cleaned by Python predicates."""
    raw = [1, "2", 3.0, "invalid", 5, None, [7, [8]], {"v": 9, "tags": ["a"]}]
    result, _ = (
        Pipeline(raw, spark=spark, allow_mixed=True)
        .transform(
            lambda t: t.map_rows(
                lambda x: x["v"] if isinstance(x, dict) else (x[0] if isinstance(x, list) else x)
            )
        )
        .transform(lambda t: t.filter(lambda x: x is not None and str(x) != "invalid"))
        .transform(lambda t: t.map_rows(lambda x: int(float(x))))
        .to_list()
    )
    assert sorted(result) == [1, 2, 3, 5, 7, 9]


def test_mixed_container_roundtrip_fidelity(spark):
    """Containers round-trip exactly: nested structure, int dict keys
    (JSON would stringify them — must take the pickle path), tuples and
    sets (non-JSON — pickle), floats inside lists."""
    data = [
        {"a": [1, {"b": None}], "c": 2.5},
        [1, [2, [3.5, "x"]], None],
        {1: "int-key", 2: "stays-int"},
        (1, 2, 3),
        {"frozen", "set"},
    ]
    result, _ = Pipeline(data, spark=spark, allow_mixed=True).to_list()
    key = lambda x: str(type(x)) + str(sorted(x, key=str) if isinstance(x, set) else x)  # noqa: E731
    assert sorted(result, key=key) == sorted(data, key=key)
    assert {type(x) for x in result} == {type(x) for x in data}
    # int keys really are ints (the silent-JSON-stringify trap)
    intkeyed = next(x for x in result if isinstance(x, dict) and 1 in x)
    assert set(intkeyed) == {1, 2}


# -- ordered results (reference threaded.py:46-90 ordered=True) --------------
def test_to_list_ordered_survives_adversarial_repartition(spark):
    """Source order restored across a shuffle that scrambles partition
    layout — the distributed analogue of the reference's out-of-order
    chunk completion."""
    data = list(range(500))
    result, _ = (
        Pipeline(data, spark=spark, ordered=True)
        .transform(
            lambda t: t.repartition(7)
            .map_rows(lambda x: x * 2)
            .filter(lambda x: x % 3 != 0)
        )
        .to_list(ordered=True)
    )
    expected = [x * 2 for x in data if (x * 2) % 3 != 0]
    assert result == expected


def test_to_list_ordered_with_mixed_elements(spark):
    data = [5, "b", 1, None, {"k": 2}, [9], "a"]
    result, _ = (
        Pipeline(data, spark=spark, allow_mixed=True, ordered=True)
        .transform(lambda t: t.repartition(3))
        .to_list(ordered=True)
    )
    assert result == data


def test_to_list_ordered_column_map_projection_keeps_id(spark):
    result, _ = (
        Pipeline(list(range(100)), spark=spark, ordered=True)
        .transform(lambda t: t.repartition(5).map((F.col("value") + 1).alias("value")))
        .to_list(ordered=True)
    )
    assert result == [x + 1 for x in range(100)]


def test_to_list_ordered_requires_opt_in(spark):
    import pytest

    with pytest.raises(ValueError, match="ordered=True"):
        Pipeline([1, 2, 3], spark=spark).to_list(ordered=True)


def test_ordered_id_never_leaks_into_elements(spark):
    p = Pipeline([1, 2, 3], spark=spark, ordered=True)
    rows, _ = p.to_list()
    assert rows == [1, 2, 3]
    assert list(p) == [1, 2, 3]
    dicts, _ = Pipeline([{"a": 1}], spark=spark, ordered=True).to_list(ordered=True)
    assert dicts == [{"a": 1}]
    ctx = Context(spark=spark)
    ctx.counter("not_int")

    def count_non_int(x, c):
        if not isinstance(x, int):
            c["not_int"] += 1

    _, snap = Pipeline([1], spark=spark, ordered=True, context=ctx).each(count_non_int)
    assert snap["not_int"] == 0
    # Python stages see the same elements: the dict rows carry only "a".
    recs = Pipeline([{"a": 1}, {"a": 2}], spark=spark, ordered=True)
    mapped, _ = recs.transform(lambda t: t.map_rows(lambda r: {"a": len(r)})).to_list(ordered=True)
    assert mapped == [{"a": 1}, {"a": 1}]
    kept, _ = recs.transform(lambda t: t.filter_rows(lambda r: list(r) == ["a"])).to_list()
    assert len(kept) == 2
    keys, _ = recs.transform(
        lambda t: t.reduce_rows(lambda acc, r: sorted(set(acc) | set(r)), [], "value array<string>")
    ).to_list()
    assert keys and all(k == ["a"] for k in keys)


def test_mixed_map_can_emit_containers(spark):
    """map_rows output is re-encoded through the same variant scheme —
    a lambda may RETURN dicts/lists, not just consume them."""
    result, _ = (
        Pipeline([1, 2], spark=spark, allow_mixed=True)
        .transform(lambda t: t.map_rows(lambda x: {"doubled": x * 2, "as_list": [x, x]}))
        .to_list()
    )
    assert sorted(result, key=lambda d: d["doubled"]) == [
        {"doubled": 2, "as_list": [1, 1]},
        {"doubled": 4, "as_list": [2, 2]},
    ]


def test_pipeline_context_deprecated_shim(spark):
    """Reference migration parity: deprecated PipelineContext (reference
    laygo/helpers.py:9-20) constructs with a DeprecationWarning and
    feeds Pipeline.context unchanged."""
    import warnings

    from laygo_python_spark import Pipeline, PipelineContext

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ctx = PipelineContext({"threshold": 10})
        assert any(issubclass(x.category, DeprecationWarning) for x in w)
    df = spark.range(0, 5).selectExpr("id AS value")
    rows, out_ctx = (
        Pipeline(df).context(ctx).transform(lambda t: t.filter("value >= 2")).to_list()
    )
    assert len(rows) == 3
    assert out_ctx["threshold"] == 10


def test_iter_unordered_multiset_parity(spark):
    """iter_unordered yields exactly the same multiset as __iter__ —
    completion order changes SEQUENCE, never membership."""
    p = Pipeline(spark.range(0, 200, 1, 8).selectExpr("id AS value"), spark=spark)
    assert sorted(p.iter_unordered()) == sorted(p)


def test_iter_unordered_yields_as_completed(spark):
    """The reference ordered=False guarantee (strategies/threaded.py:
    92-130): a straggler chunk must not block finished ones. Partition 0
    sleeps; its rows must arrive LAST even though it was submitted
    first."""
    import time

    from pyspark.sql import functions as F

    df = spark.range(0, 8, 1, 4).selectExpr("id AS value")

    def slow_first(it):
        rows = list(it)
        if rows and rows[0]["value"] == 0:  # partition 0 holds ids 0-1
            time.sleep(3)
        return iter(rows)

    slow = df.sparkSession.createDataFrame(
        df.rdd.mapPartitions(slow_first), df.schema
    )
    # mapPartitions round-trip keeps 4 partitions; route through Pipeline
    p = Pipeline(slow, spark=spark)
    order = list(p.iter_unordered(max_workers=4))
    assert sorted(order) == list(range(8))
    # the slow partition's rows (0 and 1) arrive after every fast row
    assert set(order[-2:]) == {0, 1}


def test_iter_unordered_single_and_empty_partition(spark):
    assert list(Pipeline(spark.range(0).selectExpr("id AS value"), spark=spark).iter_unordered()) == []
    got = list(Pipeline(spark.range(3, numPartitions=1).selectExpr("id AS value"), spark=spark).iter_unordered())
    assert sorted(got) == [0, 1, 2]


def test_iter_unordered_early_break_cancels_tail(spark):
    """Abandoning the stream mid-way must not raise and must leave the
    session usable (finally-block parity, threaded.py:126-130)."""
    p = Pipeline(spark.range(0, 100, 1, 8).selectExpr("id AS value"), spark=spark)
    it = p.iter_unordered(max_workers=2)
    first = [next(it) for _ in range(3)]
    assert len(first) == 3
    it.close()
    # session still healthy
    assert spark.range(5).count() == 5


def test_iter_unordered_close_does_not_wait_for_straggler(spark):
    """The abandon path's contract (threaded.py:126-130 parity): with a
    straggler partition mid-flight, generator close() cancels the job
    group and returns promptly instead of waiting out the sleep."""
    import time

    df = spark.range(0, 8, 1, 4).selectExpr("id AS value")

    def slow_tail(it):
        rows = list(it)
        if rows and rows[0]["value"] >= 4:  # partitions 2-3 sleep
            time.sleep(15)
        return iter(rows)

    slow = df.sparkSession.createDataFrame(df.rdd.mapPartitions(slow_tail), df.schema)
    it = Pipeline(slow, spark=spark).iter_unordered(max_workers=4)
    got = [next(it) for _ in range(2)]  # fast partitions yield first
    assert all(v < 4 for v in got)
    t0 = time.time()
    it.close()
    took = time.time() - t0
    assert took < 5, f"close() blocked {took:.1f}s behind the straggler"
    # session healthy after the cancel
    assert spark.range(3).count() == 3
