"""Fourth relational batch: GROUPING SETS, unpivot/melt, exact
percentiles, and approximate sketch aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.queries import query
from laygo_python_spark.session import read_table as _t
from laygo_python_spark.session import pin


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer-grained than rollup/cube): totals by
    returnflag alone, by linestatus alone, and grand total."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "unpivot_lineitem_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem WHERE l_orderkey < 500
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem WHERE l_orderkey < 500
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_orderkey < 500
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): three measure columns become
    (metric, value) rows — Spark's native unpivot operator; the oracle
    is the equivalent UNION ALL so DuckDB-syntax differences can't bite."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "l_quantity", "quantity")
        .when(F.col("metric") == "l_extendedprice", "price")
        .otherwise("discount"),
    )


@query(
    "price_quantiles_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.95) AS p95_price,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def price_quantiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
    both sort + linearly interpolate — identical doubles). The
    approximate variant lives in approx_sketches."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
            F.percentile("o_totalprice", F.lit(0.95)).alias("p95_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# Retired from the query catalog in r8 (verdict ask #6): the HLL++/KLL
# built-ins emit engine-versioned estimates no external oracle can
# reproduce, so their catalog rows sat at err:no_oracle forever. The
# oracle-green relational twins (hll_relational_daily_users,
# qsketch_value_quantiles) carry the sketch coverage; these built-in
# forms remain pytest-gated (tests/test_rows_only_queries.py,
# tests/test_advanced.py) as engine-API smoke checks.
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the sketches that replace exact
    distinct/percentile at 100 TB: HyperLogLog++ (approx_count_distinct,
    1.6 KB of state vs a hash table of every key) and KLL quantiles
    (percentile_approx). Deterministic for fixed input but engine-
    specific, hence pytest-only; the exact twins are oracle-checked in
    supplier_part_counts and price_quantiles_by_status."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


# Retired from the query catalog in r8 — see approx_sketches above;
# hll_relational_daily_users is the oracle-green twin of this shape.
def sketch_merge_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-AGGREGATABLE distinct counts — the property approx_count_distinct
    alone doesn't give you: per-day HLL sketches (the form you'd store in
    an incremental aggregate table) are UNIONED across days and estimated,
    so month-to-date distinct users comes from merging 30 tiny sketch
    blobs instead of rescanning a month of raw events. The query emits
    the merged estimate next to the exact count and the absolute relative
    error so the rows-only check still pins behavior (pytest asserts
    err < 5%)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_days"),
    ).crossJoin(
        # The exact twin rides in only as the self-check column; at 100 TB
        # you would NOT compute it — that being unaffordable is the whole
        # point of storing sketches.
        F.broadcast(ev.agg(F.count_distinct("user_id").alias("exact_users")))
    )
    return merged.select(
        "approx_users",
        "exact_users",
        "n_days",
        F.round(F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users"), 4).alias("rel_err"),
    )


_CMS_HH_ORACLE = """
    WITH ev AS (SELECT user_id FROM events WHERE EXTRACT(day FROM ts) IN (1, 2, 3)),
    pr AS (SELECT user_id, i,
                  (('0x'||substr(md5(user_id::VARCHAR), 8*i+1, 8))::BIGINT % 8192) AS bucket
           FROM ev, unnest([0,1,2,3]) AS t(i)),
    counters AS (SELECT i, bucket, CAST(count(*) AS BIGINT) AS cnt FROM pr GROUP BY i, bucket),
    kp AS (SELECT DISTINCT user_id, i, bucket FROM pr),
    est AS (SELECT kp.user_id, min(coalesce(c.cnt, 0)) AS est
            FROM kp LEFT JOIN counters c USING (i, bucket) GROUP BY kp.user_id),
    exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact FROM ev GROUP BY user_id)
    SELECT e.user_id, e.est, x.exact, e.est - x.exact AS overcount
    FROM est e JOIN exact x USING (user_id)
    ORDER BY e.est DESC, e.user_id LIMIT 20
    """


@query("cms_heavy_hitters", oracle=_CMS_HH_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates (operators/cms.py) in the
    incremental-aggregate shape: one small sketch per day, merged by
    counter addition, point-queried for every candidate user — the
    workflow that answers "how often did X occur this month" from a few
    MB of stored sketches instead of a rescan of raw events. Emits the
    exact twin and the over-estimate (CMS error is one-sided: est ≥
    exact always; pytest pins that bound and the merge linearity). Top
    20 by estimate with user_id tiebreak so the output is deterministic
    however the error lands.

    The md5 probes let the DuckDB oracle recompute the ENTIRE d×w
    counter matrix, every point estimate, and the top-20 — sharded
    build, merge linearity and estimate join are all hash-checked."""
    from laygo_python_spark.operators.cms import cms_build_sharded, cms_estimate, cms_merge

    ev = _t(spark, sf_dir, "events")
    d, w = 4, 8192
    in_days = ev.filter(F.dayofmonth("ts").isin(1, 2, 3))
    # One scan builds ALL the daily sketches (shard = day); the merge
    # collapses the shard axis. Separate per-day cms_build calls would
    # rescan the table once per day.
    daily = cms_build_sharded(in_days, "user_id", F.dayofmonth("ts"), d, w)
    merged = cms_merge(daily)
    est = cms_estimate(merged, in_days.select("user_id").distinct(), "user_id", d, w)
    exact = in_days.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            "est",
            "exact",
            (F.col("est") - F.col("exact")).alias("overcount"),
        )
        .orderBy(F.desc("est"), "user_id")
        .limit(20)
    )


_QSKETCH_ORACLE = """
    WITH ev AS (SELECT value FROM events WHERE EXTRACT(day FROM ts) IN (1, 2, 3)),
    b AS (SELECT CAST(round(ln(value + 1.0) / ln(1.02)) AS INT) AS bucket FROM ev),
    h AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h),
    cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
    qv AS (SELECT unnest(CAST([0.5, 0.95, 0.99] AS DOUBLE[])) AS q),
    picked AS (SELECT q, min(bucket) AS bucket
               FROM qv, cum, t WHERE cum >= ceil(q * total) GROUP BY q),
    ex AS (SELECT quantile_cont(value, 0.5) AS e50, quantile_cont(value, 0.95) AS e95,
                  quantile_cont(value, 0.99) AS e99 FROM ev),
    exact AS (SELECT 0.5::DOUBLE AS q, e50 AS exact FROM ex
              UNION ALL SELECT 0.95::DOUBLE, e95 FROM ex
              UNION ALL SELECT 0.99::DOUBLE, e99 FROM ex)
    SELECT p.q, round(exp(p.bucket * ln(1.02)) - 1.0, 4) AS est,
           round(x.exact, 4) AS exact,
           round(abs((exp(p.bucket * ln(1.02)) - 1.0) - x.exact) / x.exact, 4) AS rel_err
    FROM picked p JOIN exact x ON p.q = x.q
    ORDER BY p.q
    """


@query("qsketch_value_quantiles", oracle=_QSKETCH_ORACLE)
def qsketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/qsketch.py) in the
    incremental shape: one log-bucketed histogram per event day (ONE
    scan via the sharded build — the r3 shape scanned events once per
    day), merged by counter addition, quantiles answered from the
    merged sketch. The exact twins ride along; as of r4 the whole
    pipeline is ORACLE-gated — DuckDB recomputes the log buckets, the
    cumulative pick and the geometric midpoints (cross-engine ln() is
    within 1 ulp; a bucket flip would need the rounded quotient within
    1 ulp of .5, which the hash match demonstrates doesn't occur here).
    At 100 TB you'd store only the per-day sketches and never rescan
    raw events."""
    from laygo_python_spark.operators.qsketch import (
        qsketch_build_sharded,
        qsketch_quantiles,
    )

    ev = _t(spark, sf_dir, "events")
    gamma = 1.02
    daily = qsketch_build_sharded(
        ev.filter(F.dayofmonth("ts").isin(1, 2, 3)).select(F.dayofmonth("ts").alias("day"), "value"),
        "value",
        shard="day",
        gamma=gamma,
    )
    merged = (
        daily.groupBy("bucket", "gamma").agg(F.sum("cnt").alias("cnt"))
        .select("bucket", "cnt", "gamma")
    )
    qs = [0.5, 0.95, 0.99]
    est = qsketch_quantiles(merged, qs)
    exact = (
        ev.filter(F.dayofmonth("ts").isin(1, 2, 3))
        .agg(*[F.percentile("value", F.lit(q)).alias(f"e{int(q * 100)}") for q in qs])
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(q).alias("q"), F.col(f"e{int(q * 100)}").alias("exact"))
                        for q in qs
                    ]
                )
            ).alias("x")
        )
        .select("x.q", "x.exact")
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.round("est", 4).alias("est"),
            F.round("exact", 4).alias("exact"),
            F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 4).alias("rel_err"),
        )
        .orderBy("q")
    )


@query(
    "mg_heavy_hitters_brands",
    oracle="""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
    FROM part GROUP BY p_brand
    HAVING count(*) >= 0.03 * (SELECT count(*) FROM part)
    """,
)
def mg_heavy_hitters_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brands covering >= 3% of parts, found by the Misra-Gries summary
    (operators/heavyhitters.py) and verified by exact recount — unlike
    its probabilistic sibling cms_heavy_hitters above, this one's final
    answer is EXACT (the summary provably contains every key above the
    floor; the recount removes the under-floor stragglers), so a
    sketch-shaped plan gets a plain GROUP BY/HAVING oracle.

    The scale shape: per-partition bounded-state summaries (k counters,
    no shuffle), one KB-scale merge, then a recount whose map-side hash
    table is bounded by the candidate list — never the key universe."""
    from laygo_python_spark.operators.heavyhitters import mg_heavy_hitters

    part = _t(spark, sf_dir, "part")
    return mg_heavy_hitters(part, "p_brand", min_freq=0.03)


_HLL_DAILY_ORACLE = """
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
                WHERE user_id IS NOT NULL),
    d3 AS (SELECT DISTINCT day FROM ev ORDER BY day LIMIT 3),
    h AS (SELECT e.day, ('0x'||substr(md5(e.user_id::VARCHAR),1,15))::BIGINT AS hv
          FROM ev e JOIN d3 USING (day)),
    reg AS (SELECT day, hv >> 48 AS idx,
                   CASE WHEN (hv & 281474976710655) = 0 THEN 49
                        ELSE 49 - length(format('{:b}', hv & 281474976710655)) END AS rho0
            FROM h),
    regs AS (SELECT day, idx, max(rho0) AS rho FROM reg GROUP BY day, idx),
    allregs AS (
      SELECT day::VARCHAR AS day, idx, rho FROM regs
      UNION ALL
      SELECT 'merged', idx, max(rho) FROM regs GROUP BY idx),
    agg AS (SELECT day, sum(power(2.0, -rho)) AS s, count(*) AS nz
            FROM allregs GROUP BY day)
    SELECT day,
           round(CASE WHEN ((0.7213/(1+1.079/4096))*4096*4096/(s + (4096-nz))) <= 10240.0
                       AND nz < 4096
                      THEN 4096 * ln(4096.0/(4096-nz))
                      ELSE (0.7213/(1+1.079/4096))*4096*4096/(s + (4096-nz)) END, 1)
             AS est_distinct
    FROM agg
    """


@query("hll_relational_daily_users", oracle=_HLL_DAILY_ORACLE)
def hll_relational_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct users via the RELATIONAL HyperLogLog
    (operators/hll.py) — same shape as sketch_merge_daily_users above
    but the sketch is a parquet-able (idx, rho, p) integer table
    instead of an engine-versioned binary: per-day register tables,
    max-lattice merge, relational estimates. Deterministic under any
    partitioning (register update is max), so the output is stable —
    pinned against exact distinct counts in tests/test_hll.py and
    tests/test_rows_only_queries.py.

    ONE events pass: ``hll_build_sharded`` builds all three days'
    register tables in a single scan (the r3 shape built each day with
    its own ``hll_build`` and estimated with driver scalars — 8 full
    event scans, 25 s in the r3 sweep; this is ~3 s). The tiny sharded
    sketch is checkpointed, the per-day AND merged estimates are both
    ``hll_estimate_by`` (pure aggregation — zero driver scalars), and
    the merge is a groupBy-max over registers, exactly the lattice
    ``hll_merge`` implements."""
    from laygo_python_spark.operators.hll import hll_build_sharded, hll_estimate_by

    # NULL-user rows are excluded BEFORE day selection so "the 3 earliest
    # days" means days with at least one identified user — matching the
    # oracle's d3 (a day of only-NULL users would otherwise be picked
    # here but skipped there).
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .withColumn("day", F.to_date("ts"))
    )
    days = [r["day"] for r in ev.select("day").distinct().orderBy("day").limit(3).collect()]
    sharded = pin(hll_build_sharded(
        ev.filter(F.col("day").isin(days)), "user_id", shard="day", p=12
    ))
    per_day = hll_estimate_by(sharded, ["shard"]).select(
        F.col("shard").cast("string").alias("day"), F.round("est", 1).alias("est_distinct")
    )
    merged_regs = (
        sharded.groupBy("idx", "p", "hash_fn")
        .agg(F.max("rho").alias("rho"))
        .withColumn("shard", F.lit("merged"))
    )
    merged = hll_estimate_by(merged_regs, ["shard"]).select(
        F.col("shard").alias("day"), F.round("est", 1).alias("est_distinct")
    )
    return per_day.unionByName(merged)


@query(
    "cms_join_size_estimate",
    oracle="""
    WITH od AS (SELECT CAST(o_orderdate AS DATE)::VARCHAR AS k, count(*) AS n
                FROM orders GROUP BY k),
    ld AS (SELECT CAST(l_shipdate AS DATE)::VARCHAR AS k, count(*) AS n
           FROM lineitem GROUP BY k),
    pa AS (SELECT i, (('0x'||substr(md5(k), 8*i+1, 8))::BIGINT % 8192) AS bucket,
                  CAST(sum(n) AS BIGINT) AS cnt
           FROM od, unnest([0,1,2,3]) AS t(i) GROUP BY i, bucket),
    pb AS (SELECT i, (('0x'||substr(md5(k), 8*i+1, 8))::BIGINT % 8192) AS bucket,
                  CAST(sum(n) AS BIGINT) AS cnt
           FROM ld, unnest([0,1,2,3]) AS t(i) GROUP BY i, bucket),
    ipj AS (SELECT pa.i, sum(pa.cnt * pb.cnt) AS s
            FROM pa JOIN pb USING (i, bucket) GROUP BY pa.i),
    ip AS (SELECT coalesce(ipj.s, 0) AS s
           FROM unnest([0,1,2,3]) AS t(i) LEFT JOIN ipj ON ipj.i = t.i),
    est AS (SELECT CAST(min(s) AS BIGINT) AS est_join_size FROM ip),
    ex AS (SELECT CAST(sum(od.n * ld.n) AS BIGINT) AS exact_join_size
           FROM od JOIN ld USING (k))
    SELECT est_join_size, exact_join_size,
           round((est_join_size - exact_join_size)
                 / CAST(exact_join_size AS DOUBLE), 6) AS rel_overcount
    FROM est, ex
    """,
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches (operators/
    cms.cms_inner_product): |orders ⋈ lineitem ON order-day = ship-day|
    estimated as the CMS inner product of the two day-frequency
    sketches — the query-planner primitive ("how big would this join
    be?") answered from two ≤ d×w-row stored artifacts without
    touching either fact table; the estimate is a one-sided overcount
    with error ≤ (e/w)·N_A·N_B. The exact twin rides along only as the
    self-check column (computing it is what the sketch avoids at
    100 TB). Sketches build from pre-aggregated per-day counts (the
    combiner shrinks each side to its distinct days before hashing)
    with the md5-sliced probe family, so the oracle replays BOTH
    counter matrices, the per-row inner products, the min, and the
    exact per-day product sum."""
    from laygo_python_spark.operators.cms import cms_build, cms_inner_product

    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sk_o = cms_build(o, "k", d=4, w=8192, weight="n")
    sk_l = cms_build(li, "k", d=4, w=8192, weight="n")
    est = cms_inner_product(sk_o, sk_l).select(F.col("est").alias("est_join_size"))
    exact = (
        o.join(li.withColumnRenamed("n", "nl"), "k")
        .agg(F.sum(F.col("n") * F.col("nl")).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "exact_join_size",
        F.round(
            (F.col("est_join_size") - F.col("exact_join_size"))
            / F.col("exact_join_size").cast("double"),
            6,
        ).alias("rel_overcount"),
    )


@query(
    "hll_key_overlap",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL),
    b AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey IS NOT NULL),
    h AS (SELECT 'a' AS side, ('0x'||substr(md5(k::VARCHAR),1,15))::BIGINT AS hv FROM a
          UNION ALL
          SELECT 'b', ('0x'||substr(md5(k::VARCHAR),1,15))::BIGINT FROM b),
    reg AS (SELECT side, hv >> 48 AS idx,
                   CASE WHEN (hv & 281474976710655) = 0 THEN 49
                        ELSE 49 - length(format('{:b}', hv & 281474976710655)) END AS rho0
            FROM h),
    regs AS (SELECT side, idx, max(rho0) AS rho FROM reg GROUP BY side, idx),
    allregs AS (
      SELECT side, idx, rho FROM regs
      UNION ALL
      SELECT 'u', idx, max(rho) FROM regs GROUP BY idx),
    agg AS (SELECT side, sum(power(2.0, -rho)) AS s, count(*) AS nz
            FROM allregs GROUP BY side),
    est AS (SELECT side,
                   round(CASE WHEN ((0.7213/(1+1.079/4096))*4096*4096/(s + (4096-nz))) <= 10240.0
                               AND nz < 4096
                              THEN 4096 * ln(4096.0/(4096-nz))
                              ELSE (0.7213/(1+1.079/4096))*4096*4096/(s + (4096-nz)) END, 1)
                     AS e
            FROM agg),
    wide AS (SELECT max(CASE WHEN side = 'a' THEN e END) AS est_orders_keys,
                    max(CASE WHEN side = 'b' THEN e END) AS est_customer_keys,
                    max(CASE WHEN side = 'u' THEN e END) AS est_union
             FROM est),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS exact_overlap FROM a JOIN b USING (k))
    SELECT est_orders_keys, est_customer_keys, est_union,
           round(est_orders_keys + est_customer_keys - est_union, 1) AS est_overlap,
           exact_overlap,
           round(abs(est_orders_keys + est_customer_keys - est_union - exact_overlap)
                 / exact_overlap, 4) AS rel_err
    FROM wide, exact
    """,
)
def hll_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key OVERLAP estimation from stored HLL register tables
    (operators/hll.py): |keys(orders) ∩ keys(customer)| by
    inclusion-exclusion — est(A) + est(B) − est(A ∪ B), where the union
    estimate comes from the max-lattice register merge, never a key
    join. The planning companion to cms_join_size_estimate: CMS
    predicts the JOIN SIZE (frequency inner product), this predicts how
    many DISTINCT keys actually match — together they answer "is this
    join worth bucketing / runtime-filtering?" from KB-scale artifacts.
    In TPC-H only ~2/3 of customers ever order, so the overlap is a
    real subset, not a tautology. The exact twin rides along as the
    self-check column; md5-60 register family so the oracle recomputes
    registers, the lattice merge, both estimators, and the
    inclusion-exclusion to the rounded decimal."""
    from laygo_python_spark.operators.hll import hll_build, hll_estimate_by

    a = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ska = hll_build(a, "k", p=12).withColumn("side", F.lit("a"))
    skb = hll_build(b, "k", p=12).withColumn("side", F.lit("b"))
    both = ska.unionByName(skb)
    merged = (
        both.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .withColumns({"p": F.lit(12), "hash_fn": F.lit("md5"), "side": F.lit("u")})
    )
    est = hll_estimate_by(both.unionByName(merged), ["side"]).select(
        "side", F.round("est", 1).alias("e")
    )
    wide = est.groupBy().agg(
        F.max(F.when(F.col("side") == "a", F.col("e"))).alias("est_orders_keys"),
        F.max(F.when(F.col("side") == "b", F.col("e"))).alias("est_customer_keys"),
        F.max(F.when(F.col("side") == "u", F.col("e"))).alias("est_union"),
    )
    exact = (
        a.join(b, "k", "left_semi")
        .agg(F.countDistinct("k").cast("long").alias("exact_overlap"))
    )
    ovl = F.col("est_orders_keys") + F.col("est_customer_keys") - F.col("est_union")
    return wide.crossJoin(F.broadcast(exact)).select(
        "est_orders_keys",
        "est_customer_keys",
        "est_union",
        F.round(ovl, 1).alias("est_overlap"),
        "exact_overlap",
        F.round(F.abs(ovl - F.col("exact_overlap")) / F.col("exact_overlap"), 4).alias(
            "rel_err"
        ),
    )
