"""Mergeable quantile sketch — a log-bucketed histogram as a DataFrame.

Completes the sketch family next to the count-min sketch
(operators/cms.py, point frequencies) and the HLL entries
(queries/relational4.py, distinct counts): bounded-state quantiles with
counter-addition merge. The reference has no sketch surface at all
(SURVEY.md §2.5 — exact fold/reduce only); this is uplift for the
incremental-aggregation story.

Design: values are bucketed at ``bucket = round(log(v+1) / log(gamma))``
— the DDSketch/HDR-histogram idea in its simplest relational form. Each
bucket spans a fixed RELATIVE width (gamma), so the estimate returned
for any quantile is within a multiplicative gamma of a true sample
value, however the mass is distributed. Like the CMS, a sketch IS a
``(bucket, cnt, gamma)`` DataFrame:

- build    = one groupBy over the bucket expression (map-side combine;
             ≤ a few hundred rows out however large the input);
- merge    = union + sum (counter linearity);
- quantiles= running-sum window over ascending buckets, pick the first
             bucket whose cumulative count crosses q·N, report the
             bucket's geometric midpoint.

Scope: non-negative values (log bucketing; shift or split by sign
upstream for signed data). Relative-error quantiles assume the usual
sketch contract — exact order statistics need the exact
``F.percentile`` path (queries/relational4.py price_quantiles_by_status).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_rows_df, pin


def qsketch_build(df: DataFrame, col: str, gamma: float = 1.02) -> DataFrame:
    """Sketch the distribution of non-negative ``df[col]``.

    Returns ``(bucket int, cnt bigint, gamma double)``. Bucket count is
    ~log_gamma(max_value) — e.g. gamma=1.02, values to 10^9 → ~1050
    buckets — independent of row count."""
    b = F.round(F.log(F.col(col) + F.lit(1.0)) / F.lit(math.log(gamma))).cast("int")
    # Null / negative values make the bucket expression null (log of a
    # negative is null). A null bucket would sort FIRST in the quantile
    # cumulative window and silently skew every estimate — fail loudly
    # instead, matching the gamma-mismatch guard's posture. assert_true
    # is FUSED into the sketch's own scan (it returns null when the
    # condition holds, so the when() below just falls through to the
    # bucket) — no extra pass, and the error fires whenever the sketch
    # is actually computed.
    guard = F.assert_true(
        F.col(col).isNotNull() & (F.col(col) >= 0),
        F.lit(
            f"qsketch_build: column {col!r} contains null or negative values — "
            "the sketch is defined for non-negative values; filter or shift them first"
        ),
    )
    return (
        df.select(F.when(guard.isNull(), b).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("gamma", F.lit(float(gamma)))
    )


def qsketch_build_sharded(df: DataFrame, col: str, shard, gamma: float = 1.02) -> DataFrame:
    """Per-shard histograms in ONE pass: ``(shard, bucket, cnt, gamma)``
    — the backfill shape (cms_build_sharded / hll_build_sharded's twin):
    one scan builds every day's sketch instead of one filtered scan per
    day. Collapse the shard axis by summing counters (``qsketch_merge``
    after dropping the shard column, or a direct groupBy-sum)."""
    shard_col = F.col(shard) if isinstance(shard, str) else shard
    b = F.round(F.log(F.col(col) + F.lit(1.0)) / F.lit(math.log(gamma))).cast("int")
    guard = F.assert_true(
        F.col(col).isNotNull() & (F.col(col) >= 0),
        F.lit(
            f"qsketch_build_sharded: column {col!r} contains null or negative values — "
            "the sketch is defined for non-negative values; filter or shift them first"
        ),
    )
    return (
        df.select(shard_col.alias("shard"), F.when(guard.isNull(), b).alias("bucket"))
        .groupBy("shard", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("gamma", F.lit(float(gamma)))
    )


def _gamma(sketch: DataFrame, what: str) -> float:
    rows = sketch.select("gamma").distinct().collect()
    if len(rows) != 1:
        raise ValueError(f"{what}: mixed sketch gammas {sorted(r['gamma'] for r in rows)}")
    return rows[0]["gamma"]


def qsketch_merge(*sketches: DataFrame) -> DataFrame:
    """Union histograms with the SAME gamma; raises on mismatch (merging
    different bucket geometries silently corrupts every quantile)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    out = pin(out)  # read twice: guard + merge agg
    _gamma(out, "qsketch_merge")
    return out.groupBy("bucket", "gamma").agg(F.sum("cnt").alias("cnt")).select(
        "bucket", "cnt", "gamma"
    )


def qsketch_quantiles(sketch: DataFrame, qs: list[float]) -> DataFrame:
    """Estimate the given quantiles from a sketch.

    One window pass over ≤ a-few-hundred bucket rows (a single tiny-data
    shuffle — the sketch, not the data). Returns ``(q double, est
    double)`` with est = the geometric midpoint of the first bucket
    whose running count reaches ceil(q·N), matching quantile_disc
    semantics up to bucket resolution (relative error ≤ gamma-1)."""
    from pyspark.sql import Window

    sketch = pin(sketch)  # read twice: guard + the window pass
    g = _gamma(sketch, "qsketch_quantiles")
    lg = math.log(g)
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = sketch.select(
        "bucket", "cnt", F.sum("cnt").over(w).alias("cum"), F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total")
    )
    qdf = local_rows_df(sketch.sparkSession, [(float(q),) for q in qs], "q double")
    picked = (
        qdf.crossJoin(cum)
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(F.min("bucket").alias("bucket"))
    )
    # Geometric midpoint of bucket b: gamma^b spans [gamma^(b-0.5), gamma^(b+0.5)).
    return picked.select(
        "q", (F.exp(F.col("bucket") * F.lit(lg)) - F.lit(1.0)).alias("est")
    )
