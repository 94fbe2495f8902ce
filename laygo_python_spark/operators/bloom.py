"""Bloom filter — a mergeable set-membership sketch as a DataFrame,
and the join-pruning ("runtime filter") pattern built on it.

The reference has no membership-sketch surface (its dedup story is the
exact ``seen``-set inside one process); this is uplift alongside CMS
(operators/cms.py) and HLL for the 100 TB join problem: when a huge
fact table joins a selective dimension, the classic plan shuffles every
fact row to discover that most of them match nothing. A bloom filter
built from the dimension keys prunes the fact table MAP-SIDE — no
shuffle of the big side, no false negatives, and the handful of false
positives fall out of the exact join that follows. Same idea as
Spark's own runtime row-level filtering / DPP, but as an explicit,
storable, mergeable artifact you can build once and reuse across
queries (e.g. yesterday's seen-URL filter in a crawl pipeline).

Representation: a bloom IS a DataFrame of packed 64-bit words —
``(word bigint, bits bigint, m bigint, k int)`` in sparse form (absent
word = all zeros). At most ⌈m/64⌉ rows however many keys were inserted:
m = 2^23 bits is 131k rows ≈ 2 MB, comfortably broadcastable. That
makes every operation relational and codegen-friendly:

- build = k (word, mask) probes per key → groupBy word, bit_or(mask)
          (partial aggregation packs bits map-side, so the shuffle
          carries at most ⌈m/64⌉ rows per partition, never the keys);
- merge = union + groupBy word bit_or — bloom bits form a
          join-semilattice, so per-day/per-shard filters roll up
          without raw data;
- might_contain = k broadcast left-joins against the word table, one
          per probe, ANDed — broadcast hash joins never shuffle the
          stream side, so membership is ONE shuffle-free map stage
          over the big table (verified by tests/test_bloom.py's
          plan assertion: zero exchanges on the probe side).

Error contract (Bloom 1970): NO false negatives, ever; false-positive
rate ≈ (1 − e^{−kn/m})^k for n inserted keys. ``bloom_geometry`` sizes
(m, k) from (n, target fpp). Probes are xxhash64(key, seed=i) — the
same JVM-side seeded-hash family as the CMS sketch (operators/cms.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin

_KEY = "__bloom_key"


def bloom_geometry(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for ``n_keys`` at target false-positive
    rate ``fpp`` — the standard m = −n·ln p/ln²2, k = (m/n)·ln 2, with m
    rounded up to a multiple of 64 so the word table packs cleanly."""
    if n_keys <= 0 or not (0.0 < fpp < 1.0):
        raise ValueError(f"bloom_geometry: need n_keys > 0 and 0 < fpp < 1, got ({n_keys}, {fpp})")
    m = math.ceil(-n_keys * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_keys * math.log(2)))
    return m, k


def _word(i: int, m: int) -> Column:
    """Word index of probe i for the row's ``__bloom_key``."""
    return (F.pmod(F.xxhash64(F.col(_KEY), F.lit(i)), F.lit(m)) / 64).cast("long")


def _mask(i: int, m: int) -> Column:
    """One-hot 64-bit mask of probe i. The SQL ``shiftleft`` accepts a
    column shift amount; the Python wrapper does not, hence F.expr."""
    return F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(pmod(xxhash64({_KEY}, {i}), {m}), 64) AS INT))"
    )


def bloom_build(df: DataFrame, key: str, m: int = 1 << 20, k: int = 5) -> DataFrame:
    """Build a bloom filter over ``df[key]``.

    Returns the packed word table ``(word bigint, bits bigint, m
    bigint, k int)`` — at most ⌈m/64⌉ rows however large df is. The
    (m, k) geometry rides along as constant columns (free under parquet
    RLE) so merge/might_contain verify compatibility instead of
    silently answering from misaligned bits (a geometry mix-up is the
    one misuse that breaks the no-false-negative guarantee invisibly).

    NULL keys are FILTERED on the build side (mirroring hll_build):
    Spark's ``xxhash64(NULL, seed)`` does not return NULL — it skips
    the null argument and returns a seed-derived value, so an unfiltered
    NULL would set k real bits and make every NULL probe match.
    Membership of NULL is not a meaningful question for a set sketch;
    ``bloom_contains_col`` answers False for NULL probes by construction.
    """
    if m % 64 != 0:
        raise ValueError(f"bloom_build: m must be a multiple of 64, got {m}")
    keyed = df.select(F.col(key).alias(_KEY)).filter(F.col(_KEY).isNotNull())
    probes = keyed.select(
        F.explode(
            F.array(*[F.struct(_word(i, m).alias("word"), _mask(i, m).alias("mask")) for i in range(k)])
        ).alias("p")
    )
    return (
        probes.groupBy(F.col("p.word").alias("word"))
        .agg(F.bit_or(F.col("p.mask")).alias("bits"))
        .withColumns({"m": F.lit(m).cast("long"), "k": F.lit(k)})
    )


def _geometry(bloom: DataFrame, what: str) -> tuple[int, int] | None:
    """Read the (m, k) constants a bloom carries; one tiny driver action
    (the word table is ≤ m/64 rows). None for an EMPTY word table — a
    bloom over zero keys (a legitimate shard state: no matching dim
    rows) has no set bits and therefore no rows to carry its geometry;
    callers treat it as the empty set."""
    rows = bloom.select("m", "k").distinct().collect()
    if len(rows) > 1:
        raise ValueError(f"{what}: mixed bloom geometries {sorted((r['m'], r['k']) for r in rows)}")
    if not rows:
        return None
    return rows[0]["m"], rows[0]["k"]


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR together word tables built with the SAME (m, k) — per-shard
    filters union into the filter of the unioned key sets without
    touching raw data. Raises on geometry mismatch rather than OR-ing
    misaligned words.

    The union is pinned with one eager localCheckpoint BEFORE the
    geometry validation collect (same discipline as
    ``bloom_contains_col``): without the pin, the validation action and
    the returned aggregate would each replan the full union — every
    input bloom's build executing twice per merge. The pinned footprint
    is ≤ Σ m/64 rows (MBs)."""
    out = blooms[0]
    for b in blooms[1:]:
        out = out.unionByName(b)
    out = pin(out)
    _geometry(out, "bloom_merge")  # raises on mixed; empty-over-empty is fine
    return (
        out.groupBy("word", "m", "k")
        .agg(F.bit_or("bits").alias("bits"))
        .select("word", "bits", "m", "k")
    )


def bloom_contains_col(bloom: DataFrame, df: DataFrame, key: str, flag: str = "maybe_in") -> DataFrame:
    """``df`` plus a boolean ``flag`` column: True when ``key`` MIGHT be
    in the bloom (all k probed bits set), False when it is DEFINITELY
    absent. The non-filtering form — the negative answer is the certain
    one (no false negatives), which is what the new-vs-seen routing
    pattern consumes: ``flag=False`` rows are provably new and skip the
    exact check entirely; only the ≈fpp + true-member fraction with
    ``flag=True`` needs the exact anti-join.

    One broadcast left-join per probe, ANDed — each join is a broadcast
    hash join, which never shuffles the stream side, so the whole
    membership test is a single shuffle-free map stage over ``df``
    however big it is (that is the entire point of the pattern; k is
    small, typically ≤ 7). A NULL probe key is deterministically False
    by an explicit ``isNotNull`` term in the predicate — NOT by hashing:
    Spark's ``xxhash64(NULL, seed)`` skips the null argument and
    returns a seed-derived value, so without the guard a NULL probe
    would hash like a sentinel key and answer maybe=True whenever that
    sentinel's bits happen to be set (build filters NULLs for the same
    reason).

    The word table is localCheckpoint-ed once BEFORE the geometry read
    and the k joins — without the pin, each broadcast side (and the
    geometry collect itself) replans the whole build, so a freshly
    built bloom would materialize k+1 times. The pinned footprint is
    ≤ m/64 rows (MBs), held until the session drops the reference."""
    bloom = pin(bloom)
    geom = _geometry(bloom, "bloom_contains_col")
    if geom is None:
        # Empty filter = empty set: everything is definitely absent.
        return df.withColumn(flag, F.lit(False))
    m, k = geom
    bloom = bloom.select("word", "bits")
    out = df.withColumn(_KEY, F.col(key))
    keep = F.col(_KEY).isNotNull()
    for i in range(k):
        words = F.broadcast(
            bloom.select(F.col("word").alias(f"__bw{i}"), F.col("bits").alias(f"__bb{i}"))
        )
        out = out.withColumns({f"__w{i}": _word(i, m), f"__m{i}": _mask(i, m)}).join(
            words, F.col(f"__w{i}") == F.col(f"__bw{i}"), "left"
        )
        keep = keep & (
            F.col(f"__bb{i}").isNotNull()
            & (F.col(f"__bb{i}").bitwiseAND(F.col(f"__m{i}")) == F.col(f"__m{i}"))
        )
    drop = [_KEY] + [c for i in range(k) for c in (f"__w{i}", f"__m{i}", f"__bw{i}", f"__bb{i}")]
    return out.withColumn(flag, keep).drop(*drop)


def bloom_might_contain(bloom: DataFrame, df: DataFrame, key: str) -> DataFrame:
    """Filter ``df`` to rows whose ``key`` MIGHT be in the bloom (never
    drops a true member; keeps ≈fpp of non-members) — the filtering
    form of ``bloom_contains_col``; same plan, same pin discipline."""
    flagged = bloom_contains_col(bloom, df, key, flag="__bloom_maybe")
    return flagged.filter(F.col("__bloom_maybe")).drop("__bloom_maybe")
