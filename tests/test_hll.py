"""Relational HyperLogLog (operators/hll.py) — accuracy within the
published bound, max-lattice mergeability, determinism under
partitioning, and the small-range linear-counting fallback.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from laygo_python_spark.operators.hll import hll_build, hll_build_sharded, hll_estimate, hll_merge


def _keys(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .select(F.concat(F.lit("u"), F.col("id")).alias("k"))
        .repartition(parts)
    )


def test_estimate_within_bound(spark):
    # p=12 → rse ≈ 1.6%; assert 4 sigma.
    est = hll_estimate(hll_build(_keys(spark, 0, 10_000), "k", p=12))
    assert abs(est - 10_000) / 10_000 < 0.065


def test_duplicates_do_not_inflate(spark):
    dups = spark.range(50_000).select(F.concat(F.lit("u"), F.col("id") % 1000).alias("k"))
    est = hll_estimate(hll_build(dups, "k", p=12))
    assert abs(est - 1000) / 1000 < 0.1


def test_small_range_linear_counting(spark):
    est = hll_estimate(hll_build(_keys(spark, 0, 50), "k", p=12))
    assert abs(est - 50) < 5


def test_merge_equals_build_on_union(spark):
    a, b = _keys(spark, 0, 6000), _keys(spark, 4000, 10_000)
    merged = hll_merge(hll_build(a, "k"), hll_build(b, "k"))
    whole = hll_build(a.unionByName(b), "k")
    as_set = lambda df: {(r["idx"], r["rho"]) for r in df.collect()}  # noqa: E731
    assert as_set(merged) == as_set(whole)


def test_deterministic_under_partitioning(spark):
    # max() register updates are order-free: the register TABLE (not
    # just the estimate) must be identical for any partitioning — the
    # property the engine-binary sketch does not give.
    a = hll_build(_keys(spark, 0, 5000, parts=1), "k")
    b = hll_build(_keys(spark, 0, 5000, parts=13), "k")
    as_set = lambda df: {(r["idx"], r["rho"]) for r in df.collect()}  # noqa: E731
    assert as_set(a) == as_set(b)


def test_nulls_ignored(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",), (None,)], "k string")
    est = hll_estimate(hll_build(df, "k", p=10))
    assert abs(est - 2) < 1


def test_precision_mismatch_raises(spark):
    a = hll_build(_keys(spark, 0, 100), "k", p=10)
    b = hll_build(_keys(spark, 0, 100), "k", p=12)
    with pytest.raises(ValueError, match="mixed HLL precisions"):
        hll_merge(a, b)
    with pytest.raises(ValueError, match="p must be"):
        hll_build(_keys(spark, 0, 10), "k", p=25)


def test_parquet_round_trip(spark, tmp_path):
    sk = hll_build(_keys(spark, 0, 3000), "k")
    path = str(tmp_path / "hll.parquet")
    sk.write.parquet(path)
    back = spark.read.parquet(path)
    assert abs(hll_estimate(back) - hll_estimate(sk)) < 1e-9


def test_sharded_equals_per_filter_builds(spark):
    df = spark.range(5000).select(
        (F.col("id") % 4).alias("g"), F.concat(F.lit("u"), F.col("id")).alias("k")
    ).repartition(5)
    sharded = hll_build_sharded(df, "k", "g", p=10)
    for g in range(4):
        want = {
            (r["idx"], r["rho"])
            for r in hll_build(df.filter(F.col("g") == g), "k", p=10).collect()
        }
        got = {
            (r["idx"], r["rho"])
            for r in sharded.filter(F.col("shard") == g).collect()
        }
        assert got == want, g


def test_relational_estimator_matches_scalar(spark):
    from laygo_python_spark.operators.hll import hll_estimate_by

    df = _keys(spark, 0, 4000)
    sk = hll_build(df, "k", p=12).withColumn("shard", F.lit(0))
    rel = hll_estimate_by(sk).collect()[0]["est"]
    assert abs(rel - hll_estimate(sk.drop("shard"))) < 1e-9


def test_per_group_estimates_within_bound(spark):
    from laygo_python_spark.operators.hll import hll_build_sharded, hll_estimate_by

    df = spark.range(30_000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("u"), (F.col("id") * 7919) % (2000 * (1 + F.col("id") % 3))).alias("k"),
    )
    ests = {r["shard"]: r["est"] for r in hll_estimate_by(hll_build_sharded(df, "k", "g")).collect()}
    for g in range(3):
        exact = df.filter(F.col("g") == g).select("k").distinct().count()
        assert abs(ests[g] - exact) / exact < 0.065, (g, ests[g], exact)


def test_empty_sketch_estimates_zero_and_merges_as_identity(spark):
    """A sketch over zero or all-NULL keys is a legitimate shard state
    (mirroring the empty bloom): estimate 0, merge identity — not a
    ValueError from the precision probe."""
    empty = hll_build(spark.createDataFrame([], "k string"), "k", p=12)
    assert hll_estimate(empty) == 0.0
    all_null = hll_build(spark.createDataFrame([(None,), (None,)], "k string"), "k", p=12)
    assert hll_estimate(all_null) == 0.0
    real = hll_build(_keys(spark, 0, 5_000), "k", p=12)
    merged = hll_merge(real, empty)
    assert hll_estimate(merged) == hll_estimate(real)  # identity: same registers
    both_empty = hll_merge(empty, all_null)
    assert hll_estimate(both_empty) == 0.0


def test_hll_hash_family_rides_in_register_table(spark):
    """The hash family rides in the register table and md5 is the only
    one: a table labelled xxhash64, or one without a hash_fn column,
    is rejected by merge and estimate; md5 merges stay bit-identical
    to a whole build."""
    a = hll_build(_keys(spark, 0, 1000), "k", p=10)
    for old in (a.withColumn("hash_fn", F.lit("xxhash64")), a.drop("hash_fn")):
        with pytest.raises(ValueError, match="rebuild"):
            hll_merge(a, old)
        with pytest.raises(ValueError, match="rebuild"):
            hll_estimate(old)
    c = hll_build(_keys(spark, 500, 1500), "k", p=10)
    merged = hll_merge(a, c)
    whole = hll_build(_keys(spark, 0, 1500), "k", p=10)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_key_overlap_inclusion_exclusion(spark):
    """est(A) + est(B) - est(A∪B) approximates |A ∩ B| within HLL error
    (~1.04/sqrt(m) per estimate, compounded by the subtraction)."""
    from laygo_python_spark.operators.hll import hll_build, hll_estimate_by

    from pyspark.sql import functions as F

    a = spark.range(0, 3000).select(F.col("id").alias("k"))        # 0..2999
    b = spark.range(2000, 6000).select(F.col("id").alias("k"))     # 2000..5999
    ska = hll_build(a, "k", p=12).withColumn("side", F.lit("a"))
    skb = hll_build(b, "k", p=12).withColumn("side", F.lit("b"))
    both = ska.unionByName(skb)
    merged = (
        both.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .withColumns({"p": F.lit(12), "hash_fn": F.lit("md5"), "side": F.lit("u")})
    )
    est = {r["side"]: r["est"] for r in hll_estimate_by(both.unionByName(merged), ["side"]).collect()}
    overlap = est["a"] + est["b"] - est["u"]
    # true overlap = 1000; allow compounded 3-estimate error (~5% of
    # the union scale, 6000 * 0.05 = 300)
    assert abs(overlap - 1000) < 300, (overlap, est)
