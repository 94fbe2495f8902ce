"""session.pin / session.release: each pin records and frees only its
own RDD, so concurrent pins never release each other's blocks, and a
pinned sketch is never pinned again by its estimators."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from laygo_python_spark.operators.cms import cms_build, cms_estimate
from laygo_python_spark.operators.hll import hll_build_sharded, hll_estimate_by
from laygo_python_spark.operators.qsketch import qsketch_build, qsketch_quantiles
from laygo_python_spark.session import concurrent_actions, local_rows_df, pin, release


def _ids(spark) -> set[int]:
    return {int(k) for k in dict(spark.sparkContext._jsc.getPersistentRDDs())}


def test_pin_is_idempotent_and_release_is_scoped(spark):
    base = _ids(spark)
    df = spark.range(40).groupBy((F.col("id") % 5).alias("k")).count()
    p = pin(df)
    assert pin(p) is p
    derived = pin(p.filter(F.col("k") > 1))  # a derived frame is a new pin
    assert derived is not p
    assert len(_ids(spark) - base) == 2
    release(p)
    release(p, df, None)  # already released, never pinned, None: no-ops
    assert _ids(spark) - base == {derived._pinned_rdd}
    assert derived.count() == 3
    release(derived)
    assert not (_ids(spark) - base)


def test_concurrent_pins_release_only_their_own(spark):
    """Two threads pin at the same moment through the index write
    fan-out. Releasing one pin must leave the other readable: a release
    that found "its" pin by diffing the global persistent-RDD map around
    the checkpoint could pick up the sibling's pin instead."""
    base = _ids(spark)
    gate = threading.Barrier(2)
    box = {}

    def _pin(tag: str, mod: int):
        def run() -> None:
            df = spark.range(2000).groupBy((F.col("id") % mod).alias("k")).count()
            gate.wait()
            box[tag] = pin(df)

        return run

    concurrent_actions(_pin("a", 7), _pin("b", 11))
    a, b = box["a"], box["b"]
    a_id, b_id = a._pinned_rdd, b._pinned_rdd
    ours = {a_id, b_id}
    before = _ids(spark)
    assert ours <= before and len(ours) == 2 and not (ours & base)
    release(a)
    after = _ids(spark)
    assert before - after == {a_id}
    assert sorted(r["k"] for r in b.collect()) == list(range(11))
    release(b)
    assert not (_ids(spark) & ours)


def test_estimators_do_not_repin_a_pinned_sketch(spark):
    rows = local_rows_df(
        spark, [(i % 7, i % 3, float(i + 1)) for i in range(60)], "k long, s long, v double"
    )
    keys = local_rows_df(spark, [(k,) for k in range(7)], "k long")
    cms = pin(cms_build(rows, "k", d=2, w=32))
    hll = pin(hll_build_sharded(rows, "k", shard="s", p=6))
    qs = pin(qsketch_build(rows, "v"))
    calls = (
        lambda: cms_estimate(cms, keys, "k").collect(),
        lambda: hll_estimate_by(hll, ["shard"]).collect(),
        lambda: qsketch_quantiles(qs, [0.5, 0.9]).collect(),
    )
    for call in calls:
        call()
    before = _ids(spark)
    for _ in range(3):
        for call in calls:
            call()
    assert not (_ids(spark) - before)
    release(cms, hll, qs)


def test_loop_releases_the_pin_it_supersedes(spark):
    """Transformer.loop pins every LOOP_PIN_EVERY iterations and releases
    the pin the new one replaces: 35 iterations leave one pin, not three."""
    from laygo_python_spark import Transformer

    base = _ids(spark)
    body = Transformer().map(id=F.col("id") + 1)
    out = Transformer().loop(body, lambda d: True, max_iterations=35)(spark.range(10))
    assert out.agg(F.max("id")).first()[0] == 44
    assert len(_ids(spark) - base) == 1
