"""Count-min sketch (operators/cms.py) — the three properties that make
it trustworthy at scale: one-sided error, merge linearity, and a fixed
footprint independent of key cardinality.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from laygo_python_spark.operators.cms import cms_build, cms_estimate, cms_merge


def _freq_table(spark, rows):
    return spark.createDataFrame([(k,) for k in rows], "k string")


def test_cms_never_undercounts(spark):
    # Tight w forces collisions; the estimate must still bound the truth
    # from above for EVERY key — the one-sided CMS guarantee.
    data = [f"u{i % 50}" for i in range(2000)] + ["heavy"] * 500
    df = _freq_table(spark, data)
    sk = cms_build(df, "k", d=3, w=16)
    est = cms_estimate(sk, df.select("k").distinct(), "k", d=3, w=16)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    joined = est.join(exact, "k").collect()
    assert len(joined) == 51
    assert all(r["est"] >= r["exact"] for r in joined)
    heavy = next(r for r in joined if r["k"] == "heavy")
    assert heavy["est"] >= 500


def test_cms_exact_when_wide(spark):
    # w >> distinct keys → collision-free with overwhelming probability →
    # estimates are exact (and deterministic: the md5 probes are fixed).
    data = [f"u{i % 20}" for i in range(1000)]
    df = _freq_table(spark, data)
    sk = cms_build(df, "k", d=4, w=4096)
    est = cms_estimate(sk, df.select("k").distinct(), "k", d=4, w=4096)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    assert all(r["est"] == r["exact"] for r in est.join(exact, "k").collect())


def test_cms_merge_equals_whole(spark):
    # Counter linearity: sketch(A) + sketch(B) is bit-identical to
    # sketch(A ∪ B) — the property that lets per-day sketches roll up.
    a = _freq_table(spark, [f"x{i % 7}" for i in range(300)])
    b = _freq_table(spark, [f"x{i % 11}" for i in range(400)])
    merged = cms_merge(cms_build(a, "k"), cms_build(b, "k"))
    whole = cms_build(a.unionByName(b), "k")
    as_set = lambda df: {(r["i"], r["bucket"], r["cnt"]) for r in df.collect()}  # noqa: E731
    assert as_set(merged) == as_set(whole)


def test_cms_footprint_bounded(spark):
    # 5k distinct keys through a d=4, w=64 sketch: at most 256 counters.
    df = spark.range(5000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    sk = cms_build(df, "k", d=4, w=64)
    assert sk.count() <= 4 * 64


def test_cms_weighted_build(spark):
    # weight= consumes pre-aggregated (key, n) pairs — building from a
    # partial groupBy must equal building from the raw stream.
    raw = _freq_table(spark, [f"u{i % 5}" for i in range(200)])
    pre = raw.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    from_raw = cms_build(raw, "k", d=3, w=512)
    from_pre = cms_build(pre, "k", d=3, w=512, weight="n")
    as_set = lambda df: {(r["i"], r["bucket"], r["cnt"]) for r in df.collect()}  # noqa: E731
    assert as_set(from_raw) == as_set(from_pre)


def test_cms_geometry_mismatch_raises(spark):
    import pytest

    from laygo_python_spark.operators.cms import cms_merge

    df = _freq_table(spark, ["a", "b", "a"])
    sk_narrow = cms_build(df, "k", d=3, w=64)
    sk_wide = cms_build(df, "k", d=3, w=128)
    with pytest.raises(ValueError, match="mixed sketch geometries"):
        cms_merge(sk_narrow, sk_wide)
    with pytest.raises(ValueError, match="built with"):
        cms_estimate(sk_wide, df.select("k").distinct(), "k", d=3, w=64)


def test_cms_estimate_reads_geometry_from_sketch(spark):
    # No (d, w) passed at estimate time: the sketch's own geometry is
    # used, so build/estimate can never disagree silently.
    df = _freq_table(spark, [f"u{i % 10}" for i in range(300)])
    sk = cms_build(df, "k", d=3, w=2048)
    est = cms_estimate(sk, df.select("k").distinct(), "k")
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    assert all(r["est"] == r["exact"] for r in est.join(exact, "k").collect())


def test_cms_sharded_build_merges_to_whole(spark):
    # One-pass sharded build, then merge, must equal the sketch of the
    # whole stream — and each shard's slice must equal a filtered build.
    from laygo_python_spark.operators.cms import cms_build_sharded

    df = spark.range(2000).selectExpr(
        "CAST(id % 3 AS INT) AS day", "concat('u', id % 40) AS k"
    )
    sharded = cms_build_sharded(df, "k", "day", d=3, w=256)
    whole = cms_build(df, "k", d=3, w=256)
    as_set = lambda d_: {(r["i"], r["bucket"], r["cnt"]) for r in d_.collect()}  # noqa: E731
    assert as_set(cms_merge(sharded)) == as_set(whole)
    one_day = cms_build(df.filter("day = 1"), "k", d=3, w=256)
    assert as_set(sharded.filter("shard = 1").drop("shard")) == as_set(one_day)


def test_cms_parquet_roundtrip(spark, tmp_path):
    # The incremental story says "store per-shard sketches, merge later":
    # a sketch written to parquet and read back must merge and estimate
    # identically (schema, geometry columns, and counters all survive).
    df = _freq_table(spark, [f"u{i % 25}" for i in range(800)])
    sk = cms_build(df, "k", d=4, w=1024)
    path = str(tmp_path / "sketch")
    sk.write.parquet(path)
    back = spark.read.parquet(path)
    est = cms_estimate(cms_merge(back, sk), df.select("k").distinct(), "k")
    exact = df.groupBy("k").agg((2 * F.count(F.lit(1))).alias("doubled"))
    assert all(r["est"] == r["doubled"] for r in est.join(exact, "k").collect())


def test_cms_hash_family_rides_in_sketch(spark):
    """The hash family rides in the sketch and md5 is the only one: a
    sketch labelled xxhash64, or one without a hash_fn column (built
    before the label existed), is rejected by estimate and merge."""
    df = _freq_table(spark, [f"u{i % 10}" for i in range(200)])
    sk = cms_build(df, "k", d=3, w=1024)
    assert [r["hash_fn"] for r in sk.select("hash_fn").distinct().collect()] == ["md5"]
    for old in (sk.withColumn("hash_fn", F.lit("xxhash64")), sk.drop("hash_fn")):
        with pytest.raises(ValueError, match="rebuild"):
            cms_estimate(old, df.select("k").distinct(), "k")
        with pytest.raises(ValueError, match="rebuild"):
            cms_merge(sk, old)


def test_inner_product_bounds_and_geometry(spark):
    from laygo_python_spark.operators.cms import cms_build, cms_inner_product

    a = spark.createDataFrame([(f"k{i % 7}",) for i in range(140)], "key string")
    b = spark.createDataFrame([(f"k{i % 5}",) for i in range(50)], "key string")
    sa = cms_build(a, "key", d=4, w=4096)
    sb = cms_build(b, "key", d=4, w=4096)
    est = cms_inner_product(sa, sb).collect()[0]["est"]
    # exact: keys k0..k4 shared, 20 per key in a, 10 per key in b
    exact = 5 * 20 * 10
    assert est >= exact  # one-sided
    assert est <= exact + 4 * (140 * 50) // 4096 + 1  # eps*Na*Nb slack

    import pytest as _pytest

    sc = cms_build(b, "key", d=4, w=8192)
    with _pytest.raises(ValueError, match="incompatible sketch geometries"):
        cms_inner_product(sa, sc)


def test_inner_product_disjoint_keys_near_zero(spark):
    from laygo_python_spark.operators.cms import cms_build, cms_inner_product

    a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "key string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "key string")
    sa = cms_build(a, "key", d=4, w=8192)
    sb = cms_build(b, "key", d=4, w=8192)
    est = cms_inner_product(sa, sb).collect()[0]["est"]
    # true inner product is 0; only hash collisions contribute
    assert 0 <= est <= 5


def test_inner_product_accumulates_past_int64(spark):
    """The inner-product sum accumulates in DECIMAL(38,0) (r9 advice):
    two sketches whose counter products exceed int64 must NOT wrap into
    a negative/garbage estimate. Build both sides with a weight of 2^33
    on the same single key: the true inner product per hash row is
    2^66, far past int64."""
    from laygo_python_spark.operators.cms import cms_build, cms_inner_product

    big = 1 << 33
    df = spark.createDataFrame([("k", big)], "key string, n long")
    sk = cms_build(df, "key", d=2, w=64, weight="n")
    # est bigint would overflow -> the decimal path must raise loudly on
    # the final contract cast rather than wrap silently.
    import pyspark.errors

    with pytest.raises(Exception) as exc:
        cms_inner_product(sk, sk).collect()
    assert "overflow" in str(exc.value).lower() or "cast" in str(exc.value).lower()


def test_inner_product_decimal_matches_small_values(spark):
    from laygo_python_spark.operators.cms import cms_build, cms_inner_product

    a = spark.createDataFrame([("x",), ("x",), ("y",)], "key string")
    b = spark.createDataFrame([("x",), ("y",), ("y",)], "key string")
    sa = cms_build(a, "key", d=4, w=4096)
    sb = cms_build(b, "key", d=4, w=4096)
    # wide sketch, no collisions: estimate == exact inner product 2*1 + 1*2 = 4
    assert cms_inner_product(sa, sb).collect()[0]["est"] == 4
