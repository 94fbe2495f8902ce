"""HyperLogLog — a mergeable distinct-count sketch as a DataFrame,
completing the relational sketch family (CMS counts frequencies, the
bloom filter answers membership, Misra-Gries names heavy keys, qsketch
does quantiles; this one counts DISTINCTs).

Spark already ships ``hll_sketch_agg`` (used by sketch_merge_daily_users)
— but its sketch is an opaque engine-versioned binary. This
implementation stores the register table AS ROWS ``(idx, rho, p)``,
which buys three things the binary cannot give:

- **engine-neutral artifacts**: a parquet of integers any system can
  read, merge, or audit — the same artifact-reuse story as the bloom
  word table and the CMS counter table;
- **determinism**: the md5 hash is fixed and the register update is max()
  — order-free, so the sketch is bit-identical under ANY partitioning
  or merge order (the engine binary varies with internal buffering);
- **relational everything**: build = groupBy max (map-side partial agg
  → the shuffle carries ≤ m register rows per partition), merge =
  union + groupBy max (registers form a max-lattice), estimate = one
  aggregate row.

Algorithm (Flajolet et al. 2007, with the standard small-range linear
counting correction): register index = top p bits of the 60-bit md5
prefix hash (``md5_long(key, 15)``, which DuckDB replays as
``('0x'||substr(md5(k),1,15))::BIGINT``), rho = 1 + count of leading
zeros in the remaining 60−p bits, estimate
= alpha_m · m² / Σ 2^−rho (absent registers count 2⁰ each). The
leading-zero count is EXACT integer Column algebra — a 6-step binary
search on bit masks — not a float log2, which silently miscounts above
2^53.

Error contract: relative standard error ≈ 1.04/√m (p=12 → m=4096 →
~1.6%).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_long, sketch_constants
from ..session import pin

_BITS = 60  # md5_long(key, 15)


def _registers(key: Column, p: int) -> tuple[Column, Column]:
    """(idx, rho) of ``key``: idx = top p of the 60 hash bits, rho over
    the remaining 60−p.

    rho = leading zeros of the low tail bits + 1 = tail + 1 −
    bit_length(tailbits), capped at tail+1 when all zero. bit_length
    via length(bin(x)): x is masked positive so bin() is its minimal
    binary representation. The earlier iterative mask-narrowing CLZ
    duplicated the hash expression ~65× into a 46 KB expression string
    — measured as a ~1 MB task binary and 15 s cold analysis/codegen in
    the r7 verdict; this form keeps the hash expression at 2 occurrences
    and the whole rho small, with bit-identical registers (pinned in
    tests/test_hll.py)."""
    h = md5_long(key.cast("string"), 15)
    tail = _BITS - p
    x = h.bitwiseAND(F.lit((1 << tail) - 1))
    rho = F.when(x == 0, F.lit(tail + 1)).otherwise(F.lit(tail + 1) - F.length(F.bin(x)))
    return F.shiftrightunsigned(h, tail).cast("int"), rho.cast("int")


def hll_build(df: DataFrame, key: str, p: int = 12) -> DataFrame:
    """Sketch the distinct count of ``df[key]``.

    Returns the register table ``(idx int, rho int, p int, hash_fn
    string)``, hash_fn always ``"md5"`` — at most
    2^p rows however large df is, only registers that were ever hit
    (absent = 0). NULL keys are ignored (SQL COUNT DISTINCT
    semantics)."""
    if not (4 <= p <= 18):
        raise ValueError(f"hll_build: p must be in [4, 18], got {p}")
    idx, rho = _registers(F.col("__hll_key"), p)
    keyed = df.select(F.col(key).alias("__hll_key")).filter(F.col(key).isNotNull())
    reg = keyed.select(idx.alias("idx"), rho.alias("rho"))
    return (
        reg.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .withColumns({"p": F.lit(p), "hash_fn": F.lit("md5")})
    )


def _p_of(sketch: DataFrame, what: str) -> int | None:
    """The sketch's precision, or None for an EMPTY register table — a
    sketch over zero (or all-NULL) keys has no registers to carry its p
    (a legitimate shard state, mirroring bloom._geometry's None path):
    estimate 0, merge identity. A sketch hashed some other way is
    rejected (``require_md5``)."""
    rows = sketch_constants(sketch, what, "p")
    if len({r["p"] for r in rows}) > 1:
        raise ValueError(f"{what}: mixed HLL precisions {sorted(r['p'] for r in rows)}")
    if not rows:
        return None
    return rows[0]["p"]


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union register tables built with the SAME p — registers form a
    max-lattice, so per-day/per-shard sketches roll up without raw
    data, and the merge is bit-identical to building on the unioned
    input (tested). Raises on precision mismatch; EMPTY sketches are
    the merge identity (they contribute no register rows)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    out = pin(out)  # read twice: guard + max-merge agg
    _p_of(out, "hll_merge")
    return out.groupBy("idx", "p", "hash_fn").agg(F.max("rho").alias("rho")).select(
        "idx", "rho", "p", "hash_fn"
    )


def _alpha(m: int) -> float:
    """HLL's bias-correction constant for m registers."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def hll_estimate(sketch: DataFrame) -> float:
    """Distinct-count estimate from a register table — one aggregate
    over ≤ 2^p rows (a driver scalar, like cms._geometry's collect:
    the sketch is KBs). Standard bias-corrected harmonic mean with
    linear-counting fallback for the small range. An EMPTY sketch
    (zero/all-NULL build input) estimates 0.0 — all registers zero."""
    sketch = pin(sketch)  # read twice: guard + the estimate agg
    p = _p_of(sketch, "hll_estimate")
    if p is None:
        return 0.0
    m = 1 << p
    row = sketch.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count(F.lit(1)).alias("nz"),
    ).first()
    s = float(row["s"] or 0.0)
    nz = int(row["nz"])
    zeros = m - nz
    s += zeros  # absent registers contribute 2^0 each
    est = _alpha(m) * m * m / s
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)  # linear counting
    return est


def hll_build_sharded(df: DataFrame, key: str, shard, p: int = 12) -> DataFrame:
    """Per-shard register tables in ONE pass: ``(shard, idx, rho, p)``
    — the backfill/per-group shape (cms_build_sharded's twin): distinct
    users per day, per source, per tenant, each ≤ 2^p rows of state,
    all mergeable across the shard axis with ``hll_merge`` after
    re-keying, or rolled up group-wise with ``hll_estimate_by``.
    ``shard`` is a column name or Column expression."""
    if not (4 <= p <= 18):
        raise ValueError(f"hll_build_sharded: p must be in [4, 18], got {p}")
    shard_col = F.col(shard) if isinstance(shard, str) else shard
    idx, rho = _registers(F.col("__hll_key"), p)
    keyed = df.select(shard_col.alias("shard"), F.col(key).alias("__hll_key")).filter(
        F.col(key).isNotNull()
    )
    reg = keyed.select("shard", idx.alias("idx"), rho.alias("rho"))
    return (
        reg.groupBy("shard", "idx")
        .agg(F.max("rho").alias("rho"))
        .withColumns({"p": F.lit(p), "hash_fn": F.lit("md5")})
    )


def hll_estimate_by(sketch: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Relational estimator: ``(…group_cols, est double)`` — the whole
    bias-corrected harmonic mean (with linear-counting fallback) as ONE
    aggregation expression, so per-group distinct estimates come out of
    a sharded sketch with zero driver scalars (``hll_estimate`` is the
    driver-scalar convenience for a single sketch). Groups estimate
    independently; m and alpha come from the sketch's own p."""
    sketch = pin(sketch)  # read twice: guard + the group agg
    p = _p_of(sketch, "hll_estimate_by")
    if p is None:
        # Empty sketch: no shards, no groups — an empty (group, est) frame.
        gcols = group_cols or ["shard"]
        return sketch.groupBy(*gcols).agg(F.lit(0.0).alias("est"))
    m = 1 << p
    alpha = _alpha(m)
    gcols = group_cols or ["shard"]
    s = F.sum(F.pow(F.lit(2.0), -F.col("rho")))
    nz = F.count(F.lit(1))
    zeros = F.lit(m) - nz
    harmonic = F.lit(alpha * m * m) / (s + zeros)
    linear = F.lit(m) * F.log(F.lit(float(m)) / zeros)
    est = F.when((harmonic <= 2.5 * m) & (zeros > 0), linear).otherwise(harmonic)
    return sketch.groupBy(*gcols).agg(est.alias("est"))
