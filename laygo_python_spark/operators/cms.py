"""Count-min sketch — a mergeable frequency sketch as a DataFrame.

The reference has no sketch surface at all (laygo/transformers/
transformer.py exposes only exact fold/reduce over chunks); this is
uplift for the incremental-aggregation story alongside the HLL entry
(queries/relational4.py sketch_merge_daily_users): store a tiny sketch
per partition/day, merge sketches instead of rescanning raw data, and
answer point frequency queries with a one-sided (over-estimate only)
error bound.

Representation: a sketch IS a DataFrame of ``(i, bucket, cnt)`` rows —
the d×w counter matrix in sparse COO form. That makes every sketch
operation relational and codegen-friendly:

- build   = explode d (row, bucket) probes per key → groupBy sum
            (partial aggregation does the map-side combine, so the
            shuffle carries at most d×w rows per partition, never the
            raw keys);
- merge   = union + groupBy sum (counters are linear);
- estimate= equi-join the d probes of each query key → min(cnt).

Error contract (standard CMS, Cormode & Muthukrishnan 2005): estimates
never under-count; over-count ≤ ε·N with probability 1−δ for
w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉, where N is the total stream weight. At 100 TB
the sketch stays ≤ d×w rows (e.g. 4×65536 ≈ 262k counters ≈ a few MB)
no matter how many distinct keys the data has — that fixed footprint is
the reason to prefer it over an exact groupBy count at the tail.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_long, sketch_constants
from ..session import pin


def _probes(key: Column, d: int, w: int) -> Column:
    """Array of d (i, bucket) structs for one key: ONE md5 per key, its
    128 bits sliced into d ≤ 4 disjoint 32-bit fields — probe i is hex
    chars [8i+1, 8i+8] — reproducible in DuckDB SQL
    (``('0x'||substr(md5(key),8*i+1,8))::BIGINT % w``), which lets a
    SQL oracle recompute the ENTIRE counter matrix and every estimate."""
    if not 1 <= d <= 4:
        raise ValueError(f"cms: one 128-bit md5 slices into 1..4 probes, got d={d}")
    k = key.cast("string")
    return F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.pmod(md5_long(k, 8, 8 * i), F.lit(w)).alias("bucket"))
            for i in range(d)
        ]
    )


def cms_build(df: DataFrame, key: str, d: int = 4, w: int = 8192, weight: str | None = None) -> DataFrame:
    """Sketch the frequency distribution of ``df[key]``.

    Returns the sparse counter table ``(i int, bucket bigint, cnt
    bigint, d int, w int, hash_fn string)`` — at most d×w rows however
    large df is. The (d, w) geometry and the hash family (always
    ``"md5"``) ride along as constant columns (free under parquet RLE)
    so merge/estimate can verify they operate on compatible sketches
    instead of silently undercounting. ``weight`` optionally
    counts each row with a column's weight instead of 1 (e.g.
    pre-aggregated (key, n) pairs).

    NULL keys are filtered (mirroring bloom_build / hll_build):
    frequency-of-NULL is not a question a key sketch answers."""
    wcol = F.col(weight) if weight else F.lit(1)
    return (
        df.filter(F.col(key).isNotNull())
        .select(F.explode(_probes(F.col(key), d, w)).alias("p"), wcol.alias("wt"))
        .groupBy(F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
        .agg(F.sum("wt").alias("cnt"))
        .withColumns({"d": F.lit(d), "w": F.lit(w), "hash_fn": F.lit("md5")})
    )


def cms_build_sharded(df: DataFrame, key: str, shard, d: int = 4, w: int = 8192, weight: str | None = None) -> DataFrame:
    """Per-shard sketches in ONE pass: ``(shard, i, bucket, cnt, d, w)``.

    The backfill shape — when the shards are partitions of one table
    (date-partitioned parquet, say), building each day's sketch with a
    separate filtered scan reads the table N times; keying the build by
    the shard column reads it once. Feeding the result straight to
    ``cms_merge`` collapses the shard axis (counter linearity again);
    store it as-is to keep per-shard rollups queryable. ``shard`` is a
    column name or Column expression (e.g. ``F.to_date("ts")``)."""
    shard_col = F.col(shard) if isinstance(shard, str) else shard
    wcol = F.col(weight) if weight else F.lit(1)
    return (
        df.filter(F.col(key).isNotNull())
        .select(
            shard_col.alias("shard"),
            F.explode(_probes(F.col(key), d, w)).alias("p"),
            wcol.alias("wt"),
        )
        .groupBy("shard", F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
        .agg(F.sum("wt").alias("cnt"))
        .withColumns({"d": F.lit(d), "w": F.lit(w), "hash_fn": F.lit("md5")})
    )


def _geometry(sketch: DataFrame, what: str) -> tuple[int, int]:
    """Read the (d, w) constants a sketch carries; one tiny driver
    action (the sketch is ≤ d×w rows). Loud failure beats a silent
    undercount: mixing geometries, or probing a sketch hashed some other
    way (``require_md5``), breaks the CMS never-undercount guarantee
    without any visible error."""
    rows = sketch_constants(sketch, what, "d", "w")
    if len(rows) != 1:
        raise ValueError(f"{what}: mixed sketch geometries {sorted((r['d'], r['w']) for r in rows)}")
    return rows[0]["d"], rows[0]["w"]


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union counter tables built with the SAME (d, w) — linearity of
    counters makes merge a sum, which is what lets per-day/per-shard
    sketches roll up without touching raw data. Raises on geometry
    mismatch rather than summing misaligned counters."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    out = pin(out)  # read twice: geometry guard + the merge agg
    _geometry(out, "cms_merge")
    keys = ["i", "bucket", "d", "w", "hash_fn"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt")).select(
        "i", "bucket", "cnt", *keys[2:]
    )


def cms_estimate(sketch: DataFrame, keys: DataFrame, key: str, d: int | None = None, w: int | None = None) -> DataFrame:
    """Point-frequency estimates for each distinct key in ``keys[key]``.

    min over the d probed counters; a probe absent from the sparse table
    is 0 (only possible for keys never inserted). The probe geometry is
    read from the sketch itself (pass d/w only to assert expectations — a mismatch raises instead of silently
    estimating near-zero from never-colliding probes, the same
    stored-params-win contract as dedup._resolve_index_params). The
    sketch side is ≤ d×w rows, so it broadcasts — estimation is a
    map-side join however many query keys stream through."""
    sketch = pin(sketch)  # read twice: geometry guard + broadcast
    sd, sw = _geometry(sketch, "cms_estimate")
    if (d is not None and d != sd) or (w is not None and w != sw):
        raise ValueError(f"cms_estimate: sketch was built with (d={sd}, w={sw}), caller expected (d={d}, w={w})")
    probes = keys.select(
        F.col(key), F.explode(_probes(F.col(key), sd, sw)).alias("p")
    ).select(key, F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch.select("i", "bucket", "cnt")), ["i", "bucket"], "left")
        .fillna(0, subset=["cnt"])
        .groupBy(key)
        .agg(F.min("cnt").alias("est"))
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size / inner-product estimate from two stored CMS sketches
    (AMS-style: |A ⋈ B on k| = Σ_k fA(k)·fB(k); the CMS estimate is
    min over rows i of Σ_bucket cntA(i,b)·cntB(i,b) — a one-sided
    OVERCOUNT with error ≤ (e/w)·N_A·N_B, Cormode & Muthukrishnan
    2005). This is the query-planning primitive: "how big would this
    join be?" answered from two ≤ d×w-row artifacts without touching
    either table — at 100 TB the sketches are maintained incrementally
    (cms_build_sharded + cms_merge) and the estimate costs a
    KB-scale join.

    Geometries must match (d and w ride on the sketches and are
    verified, same contract as cms_merge). Returns one row
    ``(est bigint)``. Buckets present in only one sketch contribute 0
    (inner join drops them — their product is 0)."""
    a, b = pin(a), pin(b)  # each read twice: guard + product
    da, wa = _geometry(a, "cms_inner_product(a)")
    db, wb = _geometry(b, "cms_inner_product(b)")
    if (da, wa) != (db, wb):
        raise ValueError(f"cms_inner_product: incompatible sketch geometries ({da},{wa}) vs ({db},{wb})")
    # Accumulate in DECIMAL(38,0), not BIGINT (r9 advice): the inner
    # product is bounded by N_A·N_B — two 1e12-count sketches already
    # exceed int64, and Spark's non-ANSI bigint sum would wrap silently
    # into a meaningless (possibly negative) estimate. decimal(19,0) ×
    # decimal(19,0) → decimal(38,0) covers any pair of int64-total
    # sketches; the final cast back to the bigint output contract is
    # ANSI-checked (an estimate beyond int64 errors loudly instead of
    # wrapping).
    prod = (
        a.select("i", "bucket", F.col("cnt").cast("decimal(19,0)").alias("ca"))
        .join(
            b.select("i", "bucket", F.col("cnt").cast("decimal(19,0)").alias("cb")),
            ["i", "bucket"],
        )
        .groupBy("i")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("s"))
    )
    # A hash row with NO shared buckets has inner-product sum 0 — the
    # inner join drops it, and min over the surviving (collision-only)
    # rows would OVERESTIMATE a disjoint-key pair. Re-attach all d rows
    # with coalesce(0) so absent rows vote 0 (hypothesis-caught:
    # tests/test_properties.py).
    spark = a.sparkSession
    rows_i = spark.range(da).select(F.col("id").cast("int").alias("i"))
    full = rows_i.join(prod, "i", "left").select(F.coalesce(F.col("s"), F.lit(0)).alias("s"))
    return full.agg(F.min("s").cast("long").alias("est"))
