"""Deduplication operators over a text corpus — the core of a
large-scale training-data pipeline.

Four tiers, all JVM-side (no Python in any hot path):

1. **Exact** — hash-groupBy on a normalized fingerprint (see
   queries/text_ops.py::dedup_exact). One shuffle of 32-byte keys.
2. **N-gram Jaccard** — exact set similarity via token self-join.
   Quadratic in corpus size per shared token: the *verification*
   primitive, not the discovery path at scale.
3. **MinHash + LSH banding** — the discovery path: shingle → minhash
   signature (H universal hashes over a 31-bit md5 prefix) → band →
   bucket join.
   Only documents sharing a band bucket are compared; cost is
   O(candidates), not O(n²). Collision prob for Jaccard s:
   1 - (1 - s^R)^B with H = B*R signatures.
4. **SimHash** — 60-bit locality-sensitive fingerprint; near-dups are
   pairs within Hamming distance k, found by pigeonhole banding on
   15-bit chunks (hamming <= 3 → at least one of 4 chunks equal).

MinHash and SimHash hash keys with md5 prefixes only (``_shingle_hasher``,
``_token_hasher``), which DuckDB computes too: the oracle replays them.

At 100 TB: every stage is explode/groupBy/join on short keys — the
shuffles move hashes and ids, never document text. Skewed buckets
(stopword-ish shingles) are capped via a bucket-size limit before the
pair join, which also bounds the quadratic blowup inside one bucket.
The guards are stress-proven by ``tools/skew_guard_smoke.py``: 10^6
docs with a planted 10%-identical boilerplate flood — both discovery
paths collapse it to ONE signature/fingerprint group emitting exactly
99,999 star edges (linear, ~5e9 clique pairs avoided), planted
near-dup recall is 900/900, and the sweep finishes in ~60 s.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import artifact
from ..functions import md5_long, require_md5
from ..session import concurrent_actions, local_rows_df, pin, release

# Universal-hash constants: h_i(x) = (a_i * x + b_i) mod P over
# x = the 31-bit md5 prefix of the shingle (``_shingle_hasher``).
# P = 2^31 - 1 (prime); a_i*x + b_i < 2^62 so the arithmetic never
# overflows a signed 64-bit (Spark 4 runs ANSI mode — overflow would
# raise, not wrap).
MINHASH_PRIME = 2_147_483_647


def hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — a simple LCG expansion of the seed so
    results are reproducible across runs and engines."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (state % (MINHASH_PRIME - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % MINHASH_PRIME
        params.append((a, b))
    return params


def tokens(text_col: str = "text") -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def _provably_small_input(df: DataFrame, min_bytes_per_partition: int = 4 << 20) -> bool:
    """True iff the frame's leaf files are provably tiny for this
    cluster's parallelism — decided from file-listing metadata
    (driver-side, no job — NOT ``df.rdd.getNumPartitions()``, which
    forces a full plan conversion and can defeat later exchange reuse).
    Many input files already scan partitioned, and few-but-large files
    split by byte range, so this only ever answers True on tiny
    fixtures where shuffling the whole input is trivial; at real scale
    it is always False."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file sources: leave layout alone
        return False
    if not files or len(files) >= target:
        return False
    try:
        total = 0
        for f in files:
            fsys, p = artifact.fs(spark, f)
            total += fsys.getFileStatus(p).getLen()
    except Exception:  # noqa: BLE001 — metadata probe is best-effort
        return False
    return total < min_bytes_per_partition * target


def _spread_small_input(df: DataFrame, min_bytes_per_partition: int = 4 << 20) -> DataFrame:
    """A tiny file scans as ONE partition, which would serialize the
    map-only fingerprint passes on a single core. Repartition up to the
    cluster parallelism ONLY for provably-small scans (see
    ``_provably_small_input``). At real scale this is a no-op and no
    text ever shuffles."""
    if _provably_small_input(df, min_bytes_per_partition):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def _sorted_pairs(ids_col: str | Column) -> Column:
    """All i<j pairs from an array column, as array<struct<a,b>> — the
    bucket-local pair expansion that replaces a self-join. The array is
    sorted first so (a, b) is canonical (for struct elements the sort is
    lexicographic on fields, so put the id field first); cost is
    O(size²) per bucket, bounded by the caller's max_bucket cap."""
    ids = F.array_sort(F.col(ids_col) if isinstance(ids_col, str) else ids_col)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> — pure Column algebra:
    transform over a sequence of start offsets, concat_ws over slices.
    Docs shorter than n yield an empty array (NB: F.sequence(1, 0)
    counts DOWN in Spark, so the short case needs an explicit guard)."""
    toks = tokens(text_col)
    n_shingles = F.size(toks) - (n - 1)
    return F.when(n_shingles < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_shingles, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def _shingle_hasher():
    """A shingle's 31-bit hash: the first 4 md5 bytes folded to 31 bits,
    the Python twin of ``md5_long(s, 8) % 2^31``. DuckDB computes it as
    ``('0x'||substr(md5(s),1,8))::BIGINT % 2^31``, which makes the whole
    signature/banding pipeline hash-matchable against a SQL oracle. The
    seed varies the universal-hash (a, b) params, not this hash.

    Returned as a closure so workers unpickle it by value; a module
    function would make every Python worker import this package."""
    return lambda s: int(hashlib.md5(s.encode()).hexdigest()[:8], 16) & 0x7FFFFFFF


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 128,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>) — one minhash signature per document.

    MAP-ONLY: shingling, hashing (``_shingle_hasher``) and the
    (n_shingles × H) int64 matrix minimization all happen in one
    Arrow-batched mapInPandas pass per document — ZERO shuffle. Docs
    shorter than the shingle width produce no signature (dropped, as the
    LSH pipeline requires).

    Why not Column algebra (measured at sf0.1, 5k docs): H=128 min()
    aggregates exceed codegen limits → interpreted HashAggregate (~4 s),
    and the shingle expression itself (transform/slice/concat_ws is
    never codegen'd) costs another ~6 s; this path is ~1 s and scales
    better — signature generation is embarrassingly parallel, so the
    only shuffle in the whole dedup pipeline is the band bucket join."""
    import numpy as np
    import pandas as pd

    params = hash_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[None, :]
    B = np.array([b for _, b in params], dtype=np.int64)[None, :]
    hasher = _shingle_hasher()

    # Per-DOC numpy ops, deliberately: a batch-vectorized variant (one
    # (S × H) permute matrix + np.minimum.reduceat over doc boundaries)
    # measures 2.4× SLOWER on this workload — the concatenated matrix
    # (~768 MB at sf0.1) is memory-bandwidth-bound, while per-doc
    # (~150 × 128) intermediates stay in cache. Shingling+hashing alone
    # is half the pass; the numpy overhead per doc is already minor.
    def run(batches):
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").split()
                if len(toks) < shingle_n:
                    continue
                sh = {" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
                h = np.fromiter(
                    (hasher(s) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )[:, None]
                # a*h < 2^62 — no int64 overflow; % P folds back under 2^31
                sigs.append(((h * A + B) % MINHASH_PRIME).min(axis=0).tolist())
                ids.append(doc_id)
            if ids:
                yield pd.DataFrame({id_col: ids, "sig": sigs})

    return _spread_small_input(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} long, sig array<long>"
    )


# Odd multiplier (the PCG LCG constant) for the uint64 polynomial fold
# used to key signatures and bands — multiplication by an odd constant
# is a bijection mod 2^64, so the fold only loses information through
# genuine 64-bit collisions (~2^-64; a collision can only ADD a
# candidate pair, which downstream verification removes).
_FOLD_C = 6364136223846793005
_FOLD_SALT = 0x9E3779B97F4A7C15  # golden-ratio odd constant, salts band index


def minhash_sig_keys(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(id, sig_key long, band_keys array<long>) — the LSH-ready shape.

    Same map-only pass as ``minhash_signatures``, but the 128-slot
    signature never leaves Python: each doc emits a single uint64
    polynomial fold of the whole signature (``sig_key``, the dedup
    grouping key) and one fold per band slice salted with the band
    index (``band_keys``). vs shipping raw signatures and hashing
    JVM-side (xxhash64 over a ~1.2 KB concat_ws string per row, as the
    r3 shape did): the exchange payload drops from 128 longs to
    1 + bands longs per row BEFORE map-side combine collapses
    duplicates, and the JVM string-building disappears entirely."""
    import numpy as np
    import pandas as pd

    rows_per_band = num_hashes // bands
    params = hash_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[None, :]
    B = np.array([b for _, b in params], dtype=np.int64)[None, :]
    hasher = _shingle_hasher()
    C = np.uint64(_FOLD_C)
    band_salt = (np.arange(bands, dtype=np.uint64) * np.uint64(_FOLD_SALT)) + np.uint64(1)

    def run(batches):
        err = np.seterr(over="ignore")  # uint64 folds wrap by design
        try:
            for pdf in batches:
                ids, sig_keys, band_keys = [], [], []
                for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                    toks = (text or "").split()
                    if len(toks) < shingle_n:
                        continue
                    sh = {" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
                    h = np.fromiter(
                        (hasher(s) for s in sh),
                        dtype=np.int64,
                        count=len(sh),
                    )[:, None]
                    sig = ((h * A + B) % MINHASH_PRIME).min(axis=0).astype(np.uint64)
                    k = np.uint64(0)
                    for v in sig:
                        k = k * C + v
                    # fold each band's R consecutive slots (reshape view)
                    bmat = sig.reshape(bands, rows_per_band)
                    bk = band_salt.copy()
                    for j in range(rows_per_band):
                        bk = bk * C + bmat[:, j]
                    ids.append(doc_id)
                    sig_keys.append(int(k.astype(np.int64)))
                    band_keys.append(bk.astype(np.int64).tolist())
                if ids:
                    yield pd.DataFrame(
                        {id_col: ids, "sig_key": sig_keys, "band_keys": band_keys}
                    )
        finally:
            np.seterr(**err)

    return _spread_small_input(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} long, sig_key long, band_keys array<long>"
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    max_bucket: int = 1000,
    clique_mode: str = "pairs",
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Returns (doc_id_a, doc_id_b, n_bands) with doc_id_a < doc_id_b —
    pairs sharing at least one band bucket, and the number of shared
    bands (a cheap similarity proxy). Follow with ``verify_jaccard`` or
    signature comparison for the exact decision.

    ``clique_mode`` controls the output SIZE contract:

    * ``"pairs"`` (default): every candidate pair, explicitly — what
      pairwise verification against an all-pairs oracle needs. A group
      of g identical docs emits g(g-1)/2 pairs: inherent to the answer.
    * ``"star"``: the 100 TB clustering/blocking mode — same-signature
      groups emit a (min-member → member) star, band buckets emit a
      star over their distinct signatures, and matched signature pairs
      emit ONE (rep_a, rep_b) edge. Everything is LINEAR, so no bucket
      is ever capped/dropped: the edge set's connected components are
      IDENTICAL to full expansion's **with no recall loss at all** —
      the blocking half of blocked dedup (see ``blocked`` in
      ``queries/dedup_ops.py::dedup_minhash_verified``), while a
      10%-boilerplate corpus emits O(n) instead of O(n²) edges
      (tools/skew_guard_smoke.py proves the bound at 10^6 docs).
      ``max_bucket`` is ignored in star mode.

    SIGNATURE DEDUP before banding: boilerplate-heavy corpora put
    thousands of docs on IDENTICAL signatures, and banding raw docs
    then makes every one of their 32 band buckets a size-|group| hot
    bucket — at sf0.1 that meant near-cap buckets expanding ~500k pairs
    each (42 s), and groups above ``max_bucket`` silently LOST their
    pairs (27k found of 190k true). Instead: group docs by signature
    hash, band only the distinct signatures, and

    * same-signature groups are guaranteed candidates (all bands agree)
      — emitted directly as cliques, immune to the cap;
    * cross-group band matches are found on the deduped frame (buckets
      count distinct SIGNATURES, so the cap now guards genuine
      signature diversity, not repetition) and expand to member pairs.

    A 2^-64 sig-hash collision can only merge two groups — emitting
    extra candidates for verification, never losing one.

    ``max_bucket`` caps distinct signatures per band bucket (e.g. wide
    near-miss shingle sets) — at 100 TB a single hot bucket would
    otherwise force one task to emit size² pairs.
    """
    rows_per_band = num_hashes // bands
    if bands * rows_per_band != num_hashes:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    if clique_mode not in ("pairs", "star"):
        raise ValueError(f"unknown clique_mode {clique_mode!r}")

    sig = minhash_sig_keys(docs, id_col, text_col, shingle_n, num_hashes, bands, seed)
    # One exchange on the signature key; everything downstream of the
    # Python signature pass stays a single linear chain (a self-join
    # would re-execute the mapInPandas subtree — exchange reuse never
    # fires across them; measured: 2 scans, 0 ReusedExchange). Both
    # sig_key and band_keys are folded in numpy INSIDE the signature
    # pass, so the exchange ships 1+bands longs per row (before
    # map-side combine collapses same-signature duplicates) instead of
    # the r3 shape's raw 128-long signature + JVM concat_ws/xxhash64.
    # Pinned (see ``session.pin``): `groups` feeds four subtrees (clique
    # expansion, band entries, both membership joins); unpinned, each
    # would re-run the Python signature pass. The frame is small —
    # distinct signatures only. The result's ``_release_pin()`` frees
    # it; the result must not be recomputed after that.
    groups = pin(
        sig.groupBy("sig_key")
        .agg(
            F.collect_list(F.col(id_col)).alias("members"),
            F.min(F.col(id_col)).alias("rep"),
            F.first("band_keys").alias("band_keys"),
        )
    )
    if clique_mode == "pairs":
        same = (
            groups.filter(F.size("members") >= 2)
            .select(F.explode(_sorted_pairs("members")).alias("p"))
            .select(
                F.col("p.a").alias("doc_id_a"),
                F.col("p.b").alias("doc_id_b"),
                F.lit(bands).cast("long").alias("n_bands"),
            )
        )
    else:
        same = (
            groups.filter(F.size("members") >= 2)
            .select("rep", F.explode("members").alias("m"))
            .filter(F.col("m") != F.col("rep"))
            .select(
                F.col("rep").alias("doc_id_a"),
                F.col("m").alias("doc_id_b"),
                F.lit(bands).cast("long").alias("n_bands"),
            )
        )
    band_entries = groups.select("sig_key", F.explode("band_keys").alias("band_key"))
    # One exchange on band_key feeds the window COUNT (O(1) state — it
    # must cap the degenerate bucket BEFORE collect_list materializes
    # it in an agg buffer) and then the collect_list on the same
    # partitioning (no second exchange).
    from pyspark.sql import Window

    w = Window.partitionBy("band_key")
    if clique_mode == "pairs":
        capped = (
            band_entries.withColumn("__bc", F.count(F.lit(1)).over(w))
            .filter((F.col("__bc") >= 2) & (F.col("__bc") <= max_bucket))
            .drop("__bc")
        )
        sig_pairs = (
            capped.groupBy("band_key")
            .agg(F.collect_list("sig_key").alias("ks"))
            .select(F.explode(_sorted_pairs("ks")).alias("p"))
            .groupBy(F.col("p.a").alias("ka"), F.col("p.b").alias("kb"))
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )
    else:
        # Star mode expands each band bucket as a STAR over its sorted
        # sig_keys — size-1 edges, LINEAR in bucket size, so NO bucket
        # is ever dropped: max_bucket exists to stop quadratic pair
        # blowup, and a star has none. Connectivity (hence downstream
        # components) is exactly what full expansion would give; the
        # n_bands on a star edge counts the bands where that edge
        # appears (a lower-bound proxy, not the full pair band count).
        sig_pairs = (
            band_entries.groupBy("band_key")
            .agg(F.sort_array(F.collect_list("sig_key")).alias("ks"))
            .filter(F.size("ks") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.slice(F.col("ks"), 2, F.greatest(F.size("ks") - 1, F.lit(0))),
                        lambda k: F.struct(
                            F.element_at(F.col("ks"), 1).alias("a"), k.alias("b")
                        ),
                    )
                ).alias("p")
            )
            .groupBy(F.col("p.a").alias("ka"), F.col("p.b").alias("kb"))
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )
    if clique_mode == "pairs":
        ma = groups.select(F.col("sig_key").alias("ka"), F.col("members").alias("members_a"))
        mb = groups.select(F.col("sig_key").alias("kb"), F.col("members").alias("members_b"))
        cross = (
            sig_pairs.join(ma, "ka")
            .join(mb, "kb")
            .select(F.explode("members_a").alias("id_a"), "members_b", "n_bands")
            .select("id_a", F.explode("members_b").alias("id_b"), "n_bands")
            .select(
                F.least("id_a", "id_b").alias("doc_id_a"),
                F.greatest("id_a", "id_b").alias("doc_id_b"),
                "n_bands",
            )
        )
    else:
        ma = groups.select(F.col("sig_key").alias("ka"), F.col("rep").alias("rep_a"))
        mb = groups.select(F.col("sig_key").alias("kb"), F.col("rep").alias("rep_b"))
        cross = (
            sig_pairs.join(ma, "ka")
            .join(mb, "kb")
            .select(
                F.least("rep_a", "rep_b").alias("doc_id_a"),
                F.greatest("rep_a", "rep_b").alias("doc_id_b"),
                "n_bands",
            )
        )
    out = cross.unionByName(same)
    out._release_pin = lambda: release(groups)
    return out


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    hash_fn: str = "md5",
    max_bucket: int = 1000,
) -> dict[str, DataFrame]:
    """Build the PERSISTENT form of the LSH state: the incremental-dedup
    index a 100 TB crawl pipeline stores between snapshots so yesterday's
    corpus is NEVER re-shingled (its text is not even read at match
    time — the posture ``dedup_new_vs_seen``'s docstring describes, made
    concrete here).

    Two integer tables, both parquet-able engine-neutral artifacts (the
    same discipline as the bloom word table / HLL register table):

    * ``membership`` (doc_id, sig_key) — doc → signature-group key;
    * ``bands`` (sig_key, band_key) — DISTINCT signature → its band
      keys, with the ``max_bucket`` skew guard applied AT BUILD TIME:
      band buckets holding more than ``max_bucket`` distinct signatures
      are dropped once, here, so every future match pays nothing for
      them (same-signature matches are immune via ``membership``);
    * ``dropped`` (band_key) — the band keys that tripped the cap. This
      is what makes the index APPENDABLE: an absent bucket would be
      indistinguishable from a never-seen one, so without this table
      ``minhash_index_append`` could not keep capped buckets capped
      (bucket populations only grow — once over the cap, forever over).

    Index size: |docs| membership rows + ≤ bands × |distinct sigs| band
    rows — hashes and ids only, no text.

    ``hash_fn`` accepts only ``"md5"``, the one key hash."""
    require_md5("minhash_index", hash_fn)
    # Pin the signature pass ONCE: membership/reps/bands are three
    # derived frames, and exchange reuse never fires across mapInPandas
    # subtrees (module-established, measured) — unpinned, every derived
    # table's action (three writes in minhash_index_write, three
    # caller-side checkpoints in the queries) would re-shingle the whole
    # seen corpus. Blocks release via ContextCleaner once the returned
    # frames are dereferenced.
    sig = pin(minhash_sig_keys(docs, id_col, text_col, shingle_n, num_hashes, bands, seed))
    membership = sig.select(F.col(id_col).alias("doc_id"), "sig_key")
    reps = membership.groupBy("sig_key").agg(F.min("doc_id").alias("rep"))
    band_all = (
        sig.select("sig_key", F.explode("band_keys").alias("band_key"))
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("band_key")
    counted = band_all.withColumn("__bc", F.count(F.lit(1)).over(w))
    band_tbl = counted.filter(F.col("__bc") <= max_bucket).drop("__bc")
    dropped = counted.filter(F.col("__bc") > max_bucket).select("band_key").distinct()
    params = {
        "shingle_n": shingle_n,
        "num_hashes": num_hashes,
        "bands": bands,
        "seed": seed,
        "hash_fn": hash_fn,
        "max_bucket": max_bucket,
    }
    return {
        "membership": membership,
        "reps": reps,
        "bands": band_tbl,
        "dropped": dropped,
        "params": params,
    }


def minhash_index_write(index: dict[str, DataFrame], path: str) -> None:
    """Persist an index as parquet subdirectories INCLUDING its build
    params — a matcher keyed with different params would silently find
    nothing (the keys never collide), so the params ride with the
    artifact and ``minhash_match_incremental`` resolves them from
    there."""
    _index_write(index, path, "minhash", ("membership", "reps", "bands"))


def _index_write(index: dict, path: str, family: str, tables: tuple[str, ...]) -> None:
    """Write a MinHash or SimHash index: its tables (distinct directories
    from pinned/deterministic inputs, so concurrently), then params."""
    spark = index[tables[0]].sparkSession
    dropped = index.get("dropped", local_rows_df(spark, [], artifact.SCHEMAS[family]["dropped"]))
    concurrent_actions(
        *(lambda t=t: artifact.write(path, t, index[t]) for t in tables),
        lambda: artifact.write(path, "dropped", dropped.coalesce(1)),
    )
    artifact.write_params(spark, path, family, index["params"])


def minhash_index_read(spark, path: str, params: dict | None = None) -> dict[str, DataFrame]:
    """Open a stored index. The on-disk layout is APPEND-ONLY
    (``minhash_index_append`` never rewrites a file), so the logical
    tables are derived here: ``reps`` min-reduces the appended per-batch
    rep rows, and ``bands`` anti-joins the ``dropped`` bucket list —
    rows of a bucket that tripped the cap in a LATER append stay in the
    parquet but never reach a matcher.

    ``params``: a caller that already read the params row (an
    append+read sequence, or the streaming ingest loop reopening per
    batch) passes it to skip the parquet-collect job (~0.3 s of driver
    scheduling at small SF). Append never mutates params, so a cached
    row can't go stale."""
    params = dict(params) if params is not None else artifact.read_params(spark, path, "minhash")
    dropped = artifact.read_or_empty(spark, path, "minhash", "dropped")
    return {
        "membership": artifact.read(spark, path, "minhash", "membership"),
        "reps": artifact.read(spark, path, "minhash", "reps")
        .groupBy("sig_key")
        .agg(F.min("rep").alias("rep")),
        "bands": artifact.read(spark, path, "minhash", "bands")
        .join(dropped, "band_key", "left_anti")
        .select("sig_key", "band_key"),
        "dropped": dropped,
        "params": params,
    }


def minhash_index_append(
    spark,
    path: str,
    new_docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    stats: bool = True,
    precomputed_sig: DataFrame | None = None,
    params: dict | None = None,
    return_view: bool = False,
    background_writes: bool = False,
) -> dict[str, int | bool]:
    """Fold an accepted batch INTO the stored index — the missing half of
    the incremental story: without it a daily pipeline re-builds the
    index from the full corpus every snapshot, paying exactly the
    re-shingling cost the index exists to avoid. Only the BATCH is
    shingled (one map-only pass); the seen corpus is never read.

    Append ≡ rebuild, exactly: after ``append(day2)`` on a day-1 index,
    ``minhash_index_read`` yields the same three logical tables as
    ``minhash_index(day1 ∪ day2)`` (pytest-pinned sorted-collect
    equality; the differential idiom of reference
    performance_test.py:516-539 applied to index state, and oracle-gated
    end-to-end via ``dedup_index_append``). The cap re-check touches
    ONLY buckets the batch lands in:

    * band rows are added only for signatures NOT already in the index
      (bucket populations count distinct signatures);
    * buckets already in ``dropped`` stay dropped — populations only
      grow, so over-the-cap is permanent;
    * a touched bucket whose kept-rows + new-rows exceed the cap is
      dropped NOW: its new rows are withheld and its key appended to
      ``dropped`` (read-time anti-join retires the old rows without a
      rewrite — every table stays append-only).

    Cost shape: only the batch is shingled (O(batch) Python work); the
    joins against ``reps``/``bands`` read stored INTEGER columns only
    (column-pruned parquet scans — the text is never re-read), and the
    cap re-check's semi-join is eligible for Spark's runtime bloom
    filter above the 10 GB side threshold, so at cluster scale the
    bands scan prunes row groups rather than streaming the full table.

    ``batch_id`` (optional) makes re-delivery a no-op: an id already in
    ``applied_batches`` returns ``{"applied": False}`` without touching
    the index — the exactly-once discipline a ``foreachBatch`` caller
    needs under Structured Streaming's replay contract. The batch
    commits all or nothing (``artifact.append``), so a retry after a
    crash mid-append equals a rebuild.

    Returns appended row counts per table; ``stats=False`` skips that
    counting job for callers that discard the dict (the registered
    queries, the streaming ingest loop).

    ``precomputed_sig`` + ``params``: a caller that already shingled
    the batch (the streaming ingest loop matches FIRST, then appends
    the accepted subset) passes the pinned ``minhash_sig_keys`` frame
    — restricted to the docs to append — and the index's params dict;
    the append then runs ZERO Python passes (integer joins + writes
    only) and skips the params parquet probe.

    ``return_view=True`` adds a ``"view"`` entry: the POST-append
    logical index (same dict shape as ``minhash_index_read``), built
    from the pre-write file listings (Spark pins a parquet scan's file
    list at DataFrame-creation time) unioned with the in-memory batch
    frames — so a caller that appends-then-matches skips the re-read
    AND, with ``background_writes=True``, overlaps the match with the
    table writes: the writes+marker run on a worker thread and the
    returned ``"wait"`` callable joins them (call it before relying on
    the on-disk artifact; exceptions surface there). View ≡
    read-after-append is pytest-pinned (tests/test_index_append.py).
    The batch frames ride localCheckpoint blocks that outlive this
    call — a long-running loop should quiesce between batches. Without
    ``return_view`` every pin the append takes is released before it
    returns, on error too.
    ``background_writes`` requires ``stats=False`` (the counts would
    otherwise race the writes)."""
    if background_writes and stats:
        raise ValueError("minhash_index_append: background_writes requires stats=False")
    if background_writes and not return_view:
        raise ValueError("minhash_index_append: background_writes requires return_view=True")
    row = dict(params) if params is not None else artifact.read_params(spark, path, "minhash")
    max_bucket = row["max_bucket"]
    if artifact.begin(spark, path, batch_id):
        out: dict = {"applied": False, "membership": 0, "reps": 0, "bands": 0, "dropped": 0}
        if return_view:
            out["view"] = minhash_index_read(spark, path, params=row)
            out["wait"] = lambda: None
        return out
    # Pinned once: the signature pass feeds membership, reps and the
    # band derivation (see minhash_index) — and every frame below is
    # pinned or cache-backed BEFORE any write, because the writes
    # append into the very directories those frames read (lazy
    # evaluation would otherwise re-scan mid-append state). The fresh
    # batch's Python shingle pass is persist()ed, not checkpointed —
    # its materialization then RIDES the `combined` checkpoint job
    # below instead of costing a separate driver job (r9; the cache is
    # released after the writes), while the precomputed-sig path keeps
    # whatever pinning the caller chose.
    sig_pin = None
    sig = precomputed_sig
    if sig is None:
        sig = minhash_sig_keys(
            new_docs,
            id_col,
            text_col,
            row["shingle_n"],
            row["num_hashes"],
            row["bands"],
            row["seed"],
        )
        if return_view:
            # View mode: the batch frames must outlive this call (the
            # caller's match reads them after we return), so pin with
            # checkpoint blocks instead of a persist we'd have to leak.
            sig = pin(sig)
        else:
            sig = sig.persist()
            sig_pin = sig
    new_membership = sig.select(F.col(id_col).alias("doc_id"), "sig_key")
    per_sig = new_band_rows = combined = None
    try:
        # ONE groupBy serves both the reps rows and the fresh-signature
        # derivation (r9; dropDuplicates + a separate reps groupBy was two
        # identical sig_key exchanges). Docs sharing a sig_key have the
        # SAME signature, hence identical band_keys — any() is
        # deterministic here, and in-array duplicate band keys (two bands
        # hashing alike) dedup via array_distinct instead of a global
        # distinct shuffle over the exploded pairs.
        #
        # Pinned eagerly (r13): per_sig feeds FOUR sinks — the combined
        # band-row checkpoint, the cap-verdict's new_counts (a broadcast
        # build, so exchange reuse never fires into it), the reps write and
        # the view's reps union — and the SQL profile showed the
        # aggregation subtree executing 3x inside the combined checkpoint
        # alone. The frame is |distinct batch sigs| rows (KB-scale); the
        # pin is one short job that turns every re-execution into a block
        # read (the small-frame trade documented on ``session.pin``).
        per_sig = pin(sig.groupBy("sig_key").agg(
            F.min(id_col).alias("rep"), F.any_value("band_keys").alias("band_keys")
        ))
        reps_add = per_sig.select("sig_key", "rep")
        existing_sigs = artifact.read(spark, path, "minhash", "reps").select("sig_key")
        dropped_cur = artifact.read_or_empty(spark, path, "minhash", "dropped")
        # ONE pinned frame carries both the band rows AND each band's cap
        # verdict (r7: the previous shape checkpointed new_band_rows, then
        # a second job checkpointed newly_dropped derived from it — two
        # sequential job barriers where one suffices; the self-referencing
        # count rides the same job via in-job exchange reuse).
        # Pinned eagerly (r13): this frame feeds the combined checkpoint's
        # stream side, the cap-verdict's new_counts AND the semi-join build
        # probing the stored band table — three subtrees under independent
        # broadcast exchanges, so without the pin the anti-join + explode
        # chain (and its existing_sigs/dropped broadcasts) executed 3x per
        # append (SQL profile r13: 9 jobs in the combined exec, 6 of them
        # re-built broadcasts). |batch band rows| x 2 longs — KB-scale.
        new_band_rows = pin(
            per_sig.join(existing_sigs, "sig_key", "left_anti")
            .select("sig_key", F.explode(F.array_distinct("band_keys")).alias("band_key"))
            .join(dropped_cur, "band_key", "left_anti")
            .select("sig_key", "band_key")  # USING-join reordered; parquet appends by name
        )
        new_counts = new_band_rows.groupBy("band_key").agg(F.count(F.lit(1)).alias("add"))
        cur_counts = (
            artifact.read(spark, path, "minhash", "bands")
            .join(new_counts.select("band_key"), "band_key", "left_semi")
            .groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("cur"))
        )
        verdict = new_counts.join(cur_counts, "band_key", "left").select(
            "band_key",
            (F.coalesce(F.col("cur"), F.lit(0)) + F.col("add") > max_bucket).alias("__drop"),
        )
        # The per-bucket verdict table is |touched buckets| rows — broadcast
        # it back onto the band rows rather than paying a band_key exchange.
        combined = pin(new_band_rows.join(F.broadcast(verdict), "band_key"))
        newly_dropped = combined.filter(F.col("__drop")).select("band_key").distinct()
        band_append = combined.filter(~F.col("__drop")).select("sig_key", "band_key")
        # The post-append logical view is assembled BEFORE any write: the
        # old-table scans pin their parquet file listings at
        # DataFrame-creation time (verified behavior), so the view never
        # double-counts the files the writes are about to land, and the
        # new-row side reads checkpoint blocks — the view and the writes
        # are therefore fully independent, which is what lets
        # ``background_writes`` overlap a caller's match with the commit.
        view = None
        if return_view:
            all_dropped = dropped_cur.unionByName(newly_dropped)
            view = {
                "membership": artifact.read(spark, path, "minhash", "membership").unionByName(
                    new_membership
                ),
                "reps": artifact.read(spark, path, "minhash", "reps")
                .unionByName(reps_add)
                .groupBy("sig_key")
                .agg(F.min("rep").alias("rep")),
                "bands": artifact.read(spark, path, "minhash", "bands")
                .select("sig_key", "band_key")
                .unionByName(band_append)
                .join(all_dropped, "band_key", "left_anti")
                .select("sig_key", "band_key"),
                "dropped": all_dropped,
                "params": row,
            }

        # All four appends read pinned/cached frames (sig's cache filled
        # during the combined checkpoint), so none re-scans a table it lands in.
        def _do_writes() -> None:
            artifact.append(spark, path, {
                "membership": new_membership, "reps": reps_add,
                "bands": band_append, "dropped": newly_dropped,
            }, batch_id)

        if background_writes:
            import threading

            err: list[BaseException] = []

            def _runner() -> None:
                try:
                    _do_writes()
                except BaseException as exc:  # noqa: BLE001 — surfaced at wait()
                    err.append(exc)

            # NON-daemon: a daemon thread can be killed by interpreter
            # shutdown mid-append, leaving partial parquet files with no
            # replay marker — silently widening the at-least-once
            # duplicate-replay window far beyond the synchronous path.
            # daemon=False alone guarantees the drain: CPython's
            # threading._shutdown joins non-daemon threads BEFORE exit (no
            # atexit hook needed — and a per-call atexit registration would
            # pin each batch's thread + captured frames for the process
            # lifetime in a foreachBatch ingest loop). A caller that skips
            # wait() still gets the commit drained before exit; skipping
            # wait() only defers error surfacing, not durability.
            #
            # KNOWN HANG MODE (deliberate trade, r11 ADVICE): threading.
            # _shutdown joins non-daemon threads with NO timeout, so a
            # WEDGED Spark write (dead gateway/cluster) pins interpreter
            # shutdown until the write errors or the process is killed.
            # That is the price of the durability guarantee above — a
            # bounded join would reintroduce the silent-partial-commit
            # window this thread exists to close. Callers on flaky
            # clusters should call wait() themselves (interruptible,
            # surfaces the error) rather than relying on the exit drain.
            th = threading.Thread(
                target=_runner, daemon=False, name="minhash-index-append"
            )
            th.start()

            def _wait() -> None:
                th.join()
                if err:
                    raise err[0]

            return {"applied": True, "view": view, "wait": _wait}
        _do_writes()
        out = {"applied": True}
        if return_view:
            out["view"] = view
            out["wait"] = lambda: None
        if stats:
            out.update(_appended_counts(
                membership=new_membership, reps=reps_add, bands=band_append, dropped=newly_dropped
            ))
        return out
    finally:
        if sig_pin is not None:
            sig_pin.unpersist()
        if not return_view:  # a view reads these pins after the call returns
            release(per_sig, new_band_rows, combined)


def minhash_index_compact(spark, path: str, stats: bool = True) -> dict[str, int]:
    """Rewrite the append-only artifact into its logical form — the
    OPTIMIZE-style maintenance op a daily append pipeline schedules:
    each append adds parquet files (small-file accumulation) and leaves
    rows that read-time derivation retires (superseded per-batch rep
    rows; band rows of buckets dropped by a LATER append, anti-joined
    away on every read). Compaction materializes what
    ``minhash_index_read`` derives — reps min-reduced to one row per
    signature, retired band rows physically removed — and rewrites
    membership for file coalescing. ``dropped`` and ``applied_batches``
    are kept verbatim: future appends still need the permanent bucket
    drops and the replay markers.

    Matching before and after compaction is IDENTICAL (pytest-pinned;
    oracle-gated end-to-end via ``dedup_index_compact``). Every logical
    table is pinned eagerly BEFORE its ``artifact.write`` swap. A crash
    between two table swaps leaves a mix of compacted and raw tables
    that ``minhash_index_read`` derives the identical logical index
    from, so the op is safe to run inline from a ``foreachBatch`` loop.

    Returns post-compaction row counts per rewritten table."""
    return _index_compact(spark, path, minhash_index_read, ("membership", "reps", "bands"), stats)


def _index_compact(spark, path: str, read, tables: tuple[str, ...], stats: bool) -> dict[str, int]:
    artifact.begin(spark, path)
    idx = read(spark, path)
    frames: dict[str, DataFrame] = {}
    try:
        for t in tables:
            frames[t] = pin(idx[t])
        concurrent_actions(*(lambda t=t: artifact.write(path, t, frames[t]) for t in tables))
        return _appended_counts(**frames) if stats else {}
    finally:
        release(*frames.values())


def _appended_counts(**frames: DataFrame) -> dict[str, int]:
    """Per-table appended-row counts as ONE job: four separate .count()
    actions on already-checkpointed frames still pay four job
    schedulings (~1 s of pure overhead per append, measured at r5); a
    tagged union counts them all in a single pass."""
    tagged = None
    for tag, df in frames.items():
        part = df.select(F.lit(tag).alias("__t"))
        tagged = part if tagged is None else tagged.unionAll(part)
    got = {
        r["__t"]: r["n"]
        for r in tagged.groupBy("__t").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {tag: int(got.get(tag, 0)) for tag in frames}


def _resolve_index_params(index: dict, overrides: dict, fallbacks: dict) -> dict:
    """Keying params for a match call: the index's stored params win
    (keys derived with ANYTHING else can never collide — a divergence
    is silent total recall loss, not an error); an explicit caller
    override that CONTRADICTS the stored params raises instead of
    producing that silent miss. Indexes from older artifacts without a
    params entry fall back to the call/function defaults."""
    stored = index.get("params")
    resolved = dict(fallbacks)
    if stored:
        resolved.update(stored)
    for k, v in overrides.items():
        if v is None:
            continue
        if stored and k in stored and stored[k] != v:
            raise ValueError(
                f"index was built with {k}={stored[k]!r}, match called with {v!r} — "
                "keys would never collide; drop the override or rebuild the index"
            )
        resolved[k] = v
    return resolved


def minhash_match_incremental(
    new_docs: DataFrame,
    index: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
    seed: int | None = None,
    mode: str = "pairs",
    precomputed_sig: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot LSH candidates: today's batch against a stored
    index — (doc_id_new, doc_id_seen, n_bands), where n_bands counts
    shared band keys (same-signature matches report the full ``bands``
    count, exactly as the batch operator's signature-dedup path does).

    ``mode`` controls the output SIZE contract, mirroring the batch
    operator's ``clique_mode``:

    * ``"pairs"``: every (new, seen) pair explicitly — what pairwise
      verification needs. A boilerplate signature shared by n new and
      m seen docs emits n×m rows: inherent to that answer.
    * ``"rep"``: the 100 TB routing mode — each new doc emits ONE row
      per matched seen SIGNATURE, with ``doc_id_seen`` = that group's
      stored representative (min doc id). LINEAR in new docs × matched
      signatures, so a million-doc boilerplate flood in the index costs
      each matching new doc exactly one row. This is the decision a
      dedup pipeline actually consumes ("drop the new doc / link it to
      the canonical seen doc").

    Only the NEW docs are shingled/hashed (one map-only Python pass);
    the seen side contributes integer-table joins. ``mode="pairs"``
    matches the batch ``minhash_lsh_candidates(clique_mode="pairs")``
    restricted to (new × seen) pairs whenever the index was built with
    the same params and no bucket was capped (pytest-pinned
    equivalence); with capping, the index's build-time bucket drop
    replaces the batch operator's combined-bucket cap — the documented
    incremental semantics (seen-side skew is guarded once, at build)."""
    if mode not in ("pairs", "rep"):
        raise ValueError(f"unknown mode {mode!r}")
    p = _resolve_index_params(
        index,
        {"shingle_n": shingle_n, "num_hashes": num_hashes, "bands": bands, "seed": seed},
        {"shingle_n": 3, "num_hashes": 128, "bands": 32, "seed": 42},
    )
    shingle_n, num_hashes, bands, seed = p["shingle_n"], p["num_hashes"], p["bands"], p["seed"]
    # Pin the new batch's signature pass ONCE: it feeds the same-sig
    # join, the cross-sig join, and the band explode — three subtrees
    # that would each re-run the Python pass (exchange reuse never
    # fires across mapInPandas subtrees; plan-verified 3x without the
    # pin). ``precomputed_sig`` lets a caller that ALSO needs the
    # batch's signatures (the streaming ingest loop: match THEN append)
    # shingle exactly once — it must be a pinned ``minhash_sig_keys``
    # output built with this index's params.
    sig = precomputed_sig
    if sig is None:
        sig = pin(minhash_sig_keys(new_docs, id_col, text_col, shingle_n, num_hashes, bands, seed))
    seen_side = index["membership"] if mode == "pairs" else index["reps"]
    seen_cols = {"sig_key": "nsig", "doc_id": "doc_id_seen"} if mode == "pairs" else {
        "sig_key": "nsig",
        "rep": "doc_id_seen",
    }
    band_tbl = index["bands"]

    new_members = sig.select(F.col(id_col).alias("doc_id_new"), F.col("sig_key").alias("nsig"))
    # Same-signature: the new doc's sig_key already exists in the index.
    same = (
        new_members.join(seen_side.withColumnsRenamed(seen_cols), "nsig")
        .select("doc_id_new", "doc_id_seen", F.lit(bands).cast("long").alias("n_bands"))
    )
    # Cross-signature: new band keys probe the stored band table.
    new_bands = (
        sig.select(F.col("sig_key").alias("nsig"), F.explode("band_keys").alias("band_key"))
        .distinct()
    )
    sig_pairs = (
        new_bands.join(band_tbl.withColumnRenamed("sig_key", "ssig"), "band_key")
        .filter(F.col("nsig") != F.col("ssig"))
        .groupBy("nsig", "ssig")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    seen_cols_cross = {"sig_key": "ssig", "doc_id": "doc_id_seen"} if mode == "pairs" else {
        "sig_key": "ssig",
        "rep": "doc_id_seen",
    }
    cross = (
        sig_pairs.join(new_members, "nsig")
        .join(seen_side.withColumnsRenamed(seen_cols_cross), "ssig")
        .select("doc_id_new", "doc_id_seen", "n_bands")
    )
    return cross.unionByName(same)


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """DIRECTED containment pairs: (doc_id_a, doc_id_b, containment)
    where containment = |grams(A) ∩ grams(B)| / |grams(A)| ≥ threshold,
    a ≠ b. The asymmetric complement of ``ngram_jaccard_pairs``:
    Jaccard misses the quote/subset shape entirely (a paragraph copied
    into a 100× longer document has near-zero Jaccard but containment
    ≈ 1.0 in the A→B direction), and containment-based filtering is
    the standard decontamination / quote-dedup primitive for training
    corpora. Both directions emit as separate rows (A-inside-B and
    B-inside-A are different decisions).

    Plan: inverted-index set-similarity join — distinct (doc, gram)
    posting list, self-joined on the gram, per-pair intersection
    counts, one division against |A|. All shuffles carry grams and
    ids, never document text.

    ``max_df`` is the stop-gram guard the inverted-index family needs
    at scale: a gram appearing in d documents fans the self-join out
    d² rows, so boilerplate grams dominate cost while carrying no
    signal. Grams with document frequency > max_df are dropped from
    the UNIVERSE — both the intersection and |A| — so the reported
    value is exactly "containment over sub-max_df grams" (a documented
    semantics change, deterministic and oracle-replayable, not a
    silent approximation). None = exact containment.

    Internals: gram text leaves the plan immediately — postings carry
    ``xxhash64(gram)`` longs, so every shuffle (df count, the inverted
    join, intersection agg) moves 8-byte keys instead of strings
    (measured 2.3× at sf0.1; a 64-bit collision would need ~2³² distinct
    grams to reach coin-flip odds — and the oracle gate would surface
    one as a count mismatch). The posting list is pinned once
    (localCheckpoint): sizes, the probe side and the index side all
    read the same blocks instead of re-running tokenize+distinct."""
    small = _provably_small_input(docs)
    target = docs.sparkSession.sparkContext.defaultParallelism
    grams = (
        (docs.repartition(target) if small else docs)
        .select(
            F.col(id_col).alias("__doc"),
            F.explode(
                F.array_distinct(shingles(text_col, n) if n > 1 else tokens(text_col))
            ).alias("__gs"),
        )
        .select("__doc", F.xxhash64("__gs").alias("g"))
    )
    if small:
        # Fixture-scale postings are a few MB, so AQE (correctly, for a
        # cluster) coalesces the distinct's reduce side to ONE partition
        # — and the checkpoint pins that layout, serializing the whole
        # downstream inverted join + intersection agg on one core
        # (measured: a 3.4 s single task doing 26 MB of join work on a
        # 32-core box). An explicit gram-keyed repartition keeps the
        # pinned layout wide: HashPartitioning(g) satisfies the
        # dedup's (doc, g) clustering AND the max_df window's (g), so
        # neither adds an exchange. Real scale: the plain distinct —
        # its post-shuffle partitions are already size-proportional.
        grams = grams.repartition(target, "g").dropDuplicates()
    else:
        grams = grams.distinct()
    if max_df is not None:
        # same build-time idiom as minhash_index's bucket cap: one
        # count-over-window on the gram partitioning (single shuffle)
        # instead of a groupBy + semi-join back (two).
        from pyspark.sql import Window

        w = Window.partitionBy("g")
        grams = (
            grams.withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    grams = pin(grams)
    sizes = grams.groupBy("__doc").agg(F.count(F.lit(1)).alias("__n"))
    a = grams.select(F.col("__doc").alias("__ida"), "g")
    b = grams.select(F.col("__doc").alias("__idb"), "g")
    hits = a.join(b, "g").filter(F.col("__ida") != F.col("__idb"))
    if small:
        # Same single-task story for the intersection agg: its
        # partial-agg shuffle is a few MB, so AQE finalizes on ONE
        # partition (2.4 s of serial agg+join+filter measured at sf0.1).
        # The explicit pair-keyed repartition is AQE-exempt, and
        # HashPartitioning(ida, idb) satisfies the agg's clustering, so
        # the whole tail (final counts, sizes join, threshold filter)
        # runs wide. Small inputs only — at scale the partial+final agg
        # with size-proportional AQE partitions is strictly better.
        hits = hits.repartition(target, "__ida", "__idb")
    inter = hits.groupBy("__ida", "__idb").agg(F.count(F.lit(1)).alias("__i"))
    cont = F.col("__i").cast("double") / F.col("__n")
    return (
        inter.join(sizes.withColumnRenamed("__doc", "__ida"), "__ida")
        .filter(cont >= threshold)
        .select(
            F.col("__ida").alias("doc_id_a"),
            F.col("__idb").alias("doc_id_b"),
            cont.alias("containment"),
        )
    )


def substring_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 16,
    max_df: int | None = None,
) -> DataFrame:
    """Exact cross-document duplicated SUBSTRING spans at arbitrary
    offsets — the Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") modality the doc-level/chunk-level family
    misses: a 40-token passage pasted mid-document matches no doc hash
    and can straddle every fixed chunk boundary, yet is exactly the
    boilerplate a curation run must strip. Reference parity: the
    reference (laygo) has no dedup at all — this is survey-mandated
    uplift alongside ``ngram_containment_pairs``.

    Returns one row per MAXIMAL duplicated span per doc pair:
    (doc_id_a, doc_id_b, start_a, start_b, span_len) with doc_id_a <
    doc_id_b, 0-based token offsets, span_len >= min_len tokens.

    Shape — never a global suffix array on one node (the single-node
    spelling of Lee et al. cannot shard): overlapping k-gram postings
    WITH OFFSETS (doc, pos, xxhash64(gram)) built map-side from one
    corpus scan; a self-join on the 8-byte fingerprint yields matching
    k-gram occurrence pairs; and two matches (pa,pb), (pa+1,pb+1) on
    the same DIAGONAL (pa-pb) of the same doc pair are the same span,
    so a gaps-and-islands pass per (pair, diagonal) — row_number over
    pos, group by pos - rn — coalesces runs into maximal spans of
    token length run + k - 1. Every shuffle carries 8-byte hashes and
    int offsets, never text; the window partitioning (doc_a, doc_b,
    diag) is exactly the join output's natural key, so AQE coalesces
    it onto the join exchange.

    ``max_df`` is the same stop-gram valve as ``ngram_containment_pairs``:
    a k-gram appearing at d corpus positions fans the self-join d², so
    boilerplate grams (license headers, markup runs) dominate cost at
    100 TB. Positions whose fingerprint exceeds max_df occurrences are
    dropped BEFORE the join; a span interrupted only by a dropped hot
    gram splits in two (documented semantics change, deterministic and
    oracle-replayable — not a silent approximation). None = exact."""
    posts = _substring_postings(docs, id_col, text_col, k, max_df)
    a = posts.select(F.col("__doc").alias("da"), F.col("pos").alias("pa"), "fp")
    b = posts.select(F.col("__doc").alias("db"), F.col("pos").alias("pb"), "fp")
    m = a.join(b, "fp").filter(F.col("da") < F.col("db")).drop("fp")
    return _spans_from_matches(m, k, min_len)


def _substring_postings(
    docs: DataFrame, id_col: str, text_col: str, k: int, max_df: int | None = None
) -> DataFrame:
    """Overlapping k-gram postings WITH OFFSETS: (__doc, pos,
    fp=xxhash64(gram)) — one row per token position, built map-side
    from one scan; the shared front end of the substring-span family."""
    from pyspark.sql import Window

    w = (
        _spread_small_input(docs)
        .select(
            F.col(id_col).alias("__doc"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__ws"),
        )
        .filter(F.size("__ws") >= k)
    )
    posts = w.select(
        "__doc",
        F.explode(F.expr(f"sequence(0, size(__ws) - {k})")).alias("pos"),
        "__ws",
    ).select(
        "__doc",
        "pos",
        F.xxhash64(F.array_join(F.expr(f"slice(__ws, pos + 1, {k})"), " ")).alias("fp"),
    )
    if max_df is not None:
        wdf = Window.partitionBy("fp")
        posts = (
            posts.withColumn("__df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    return posts


def _spans_from_matches(m: DataFrame, k: int, min_len: int) -> DataFrame:
    """Diagonal gaps-and-islands coalescing: matching k-gram occurrence
    pairs (da, db, pa, pb) — already oriented da < db, one row per
    (pair, pa, pb) — become maximal spans of token length run + k - 1."""
    from pyspark.sql import Window

    diag = (F.col("pa") - F.col("pb")).alias("__diag")
    wisl = Window.partitionBy("da", "db", "__diag").orderBy("pa")
    isl = m.select("da", "db", "pa", "pb", diag).withColumn(
        "__grp", F.col("pa") - F.row_number().over(wisl)
    )
    return (
        isl.groupBy("da", "db", "__diag", "__grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select(
            F.col("da").alias("doc_id_a"),
            F.col("db").alias("doc_id_b"),
            F.col("start_a").cast("int").alias("start_a"),
            F.col("start_b").cast("int").alias("start_b"),
            F.col("span_len").cast("int").alias("span_len"),
        )
    )


def substring_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_df: int | None = None,
) -> dict:
    """Build the stored side of incremental substring-span dedup: the
    seen corpus reduced to its positional k-gram postings, PINNED
    (localCheckpoint) so later matches recompute from integers, never
    from text — the minhash_index discipline applied to the Lee et al.
    modality. ``max_df`` (the stop-gram valve) is applied ONCE at build
    over the seen corpus, like minhash_index's bucket cap.

    At 100 TB the postings table is the substring analog of a suffix
    array that actually shards: one row per token position, 8-byte
    fingerprints, bucketable by fp for co-located match joins."""
    posts = pin(_substring_postings(docs, id_col, text_col, k, max_df))
    return {"postings": posts, "params": {"k": k, "max_df": max_df}}


def substring_index_write(index: dict, path: str) -> None:
    """Persist a substring index: postings parquet + 1-row params table."""
    artifact.write(path, "postings", index["postings"])
    artifact.write_params(index["postings"].sparkSession, path, "substring", index["params"])


def substring_index_read(spark, path: str) -> dict:
    """Load a stored substring index (lazy — the postings scan prunes
    to the fp/doc/pos columns the match join needs)."""
    row = artifact.read_params(spark, path, "substring")
    return {
        "postings": artifact.read(spark, path, "substring", "postings"),
        "params": {"k": row["k"], "max_df": None if row["max_df"] < 0 else row["max_df"]},
    }


def substring_index_append(spark, path: str, new_docs: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           batch_id: int | None = None) -> int:
    """Grow a stored substring index with a new batch: only the NEW
    docs are tokenized; their postings land under the index's
    committed params. ``batch_id`` gives foreachBatch-replay
    idempotence via the applied_batches marker (the minhash_index_append
    contract: a replayed id is a no-op). Returns postings rows added
    (0 on replay). NOTE: an append does NOT re-apply max_df across
    old+new — boilerplate that only becomes hot across batches is
    re-capped at the next full rebuild (documented, same trade as the
    minhash bucket cap)."""
    if artifact.begin(spark, path, batch_id):
        return 0
    p = substring_index_read(spark, path)["params"]
    posts = _substring_postings(new_docs, id_col, text_col, p["k"], p["max_df"])
    n = posts.count()
    artifact.append(spark, path, {"postings": posts}, batch_id)
    return int(n)


def substring_strip_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY the span pass — the Lee et al. remediation, not just the
    report: every duplicated span keeps its FIRST occurrence (the
    lower doc_id's copy) and the higher-id doc's covered tokens are
    cut. Returns (id, text [stripped], n_tokens, n_removed) for every
    doc. A doc that is doc_id_a in one pair and doc_id_b in another
    keeps its a-side text and loses its b-side intervals — the policy
    is deterministic and order-free because "first occurrence" is
    defined by ids, not processing order.

    Shape: only the b-side intervals shuffle (doc ids + int offsets);
    overlapping intervals merge via the same running-max interval sweep
    as substring_dup_coverage, collapse to ONE array per doc, and the
    cut itself is a JVM-side higher-order filter over the token array —
    no Python in the path, corpus text moves only map-side."""
    from pyspark.sql import Window

    iv = spans.select(
        F.col("doc_id_b").alias("__doc"),
        F.col("start_b").alias("__s"),
        (F.col("start_b") + F.col("span_len")).alias("__e"),
    )
    word = Window.partitionBy("__doc").orderBy("__s", "__e")
    prev_max = F.max("__e").over(word.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        iv.withColumn(
            "__new", F.when(prev_max.isNull() | (F.col("__s") > prev_max), 1).otherwise(0)
        )
        .withColumn("__isl", F.sum("__new").over(word))
        .groupBy("__doc", "__isl")
        .agg(F.min("__s").alias("s"), F.max("__e").alias("e"))
        .groupBy("__doc")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__ivs"))
    )
    toks = docs.select(
        F.col(id_col).alias("__doc"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__ws"),
    )
    kept = F.expr(
        "filter(arrays_zip(__ws, sequence(0, size(__ws) - 1)), "
        "x -> __ivs IS NULL OR NOT exists(__ivs, v -> x['1'] >= v.s AND x['1'] < v.e))"
    )
    return (
        toks.join(merged, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.size("__ws").cast("long").alias("n_tokens"),
            kept.alias("__kept"),
        )
        .select(
            id_col,
            F.array_join(F.transform(F.col("__kept"), lambda x: x["__ws"]), " ").alias(
                text_col
            ),
            "n_tokens",
            (F.col("n_tokens") - F.size("__kept")).cast("long").alias("n_removed"),
        )
    )


def substring_match_incremental(
    new_docs: DataFrame,
    index: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 16,
) -> DataFrame:
    """Incremental substring-span discovery: maximal duplicated spans
    between TODAY'S batch and the stored corpus (plus within the batch
    itself) — the seen corpus is never re-tokenized; its text is not
    even read. Output schema matches substring_span_pairs, and the
    result equals the full-corpus span pass minus seen-seen pairs
    (pinned by the oracle gate and pytest).

    Shape: new postings join the stored postings on the 8-byte
    fingerprint (new-vs-seen; orientation normalized so doc_id_a <
    doc_id_b with offsets swapped in step), plus the batch's own
    self-join (new-vs-new); one shared gaps-and-islands pass coalesces
    both streams."""
    k = index["params"]["k"]
    newp = pin(_substring_postings(
        new_docs, id_col, text_col, k, index["params"]["max_df"]
    ))  # feeds BOTH the cross join and the self join
    seen = index["postings"]
    cross = (
        newp.select(F.col("__doc").alias("nd"), F.col("pos").alias("np"), "fp")
        .join(seen.select(F.col("__doc").alias("sd"), F.col("pos").alias("sp"), "fp"), "fp")
        .filter(F.col("nd") != F.col("sd"))
        .select(
            F.least("nd", "sd").alias("da"),
            F.greatest("nd", "sd").alias("db"),
            F.when(F.col("nd") < F.col("sd"), F.col("np")).otherwise(F.col("sp")).alias("pa"),
            F.when(F.col("nd") < F.col("sd"), F.col("sp")).otherwise(F.col("np")).alias("pb"),
        )
    )
    a = newp.select(F.col("__doc").alias("da"), F.col("pos").alias("pa"), "fp")
    b = newp.select(F.col("__doc").alias("db"), F.col("pos").alias("pb"), "fp")
    same = a.join(b, "fp").filter(F.col("da") < F.col("db")).drop("fp")
    return _spans_from_matches(cross.unionByName(same), k, min_len)


def substring_dup_coverage(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-token coverage from ``substring_span_pairs``
    output — the signal a curation policy actually thresholds on ("drop
    or strip documents that are >X% corpus-repeated"). Each span marks
    [start, start+len) token intervals on BOTH participating docs;
    overlapping intervals on one doc (the same passage shared with many
    partners) must union, not sum, or coverage exceeds 1.0 — the
    interval-union sweep is the standard running-max gaps-and-islands:
    order a doc's intervals by start, an interval opens a new island
    when its start exceeds the running max end, and covered tokens =
    Σ per-island (max end - min start).

    Returns (doc_id, n_tokens, dup_tokens, dup_fraction) for EVERY doc
    (zero coverage included — the policy needs the clean ones too).
    Shuffle keys are doc ids + int offsets; span counts are tiny
    relative to the corpus, so the windows ride a per-doc partitioning."""
    from pyspark.sql import Window

    iv = (
        spans.select(
            F.col("doc_id_a").alias("__doc"),
            F.col("start_a").alias("__s"),
            (F.col("start_a") + F.col("span_len")).alias("__e"),
        )
        .unionByName(
            spans.select(
                F.col("doc_id_b").alias("__doc"),
                F.col("start_b").alias("__s"),
                (F.col("start_b") + F.col("span_len")).alias("__e"),
            )
        )
    )
    word = Window.partitionBy("__doc").orderBy("__s", "__e")
    # Running max of end over PRECEDING rows only: an interval starts a
    # new island iff it begins past everything already seen.
    prev_max = F.max("__e").over(word.rowsBetween(Window.unboundedPreceding, -1))
    isl = iv.withColumn(
        "__new", F.when(prev_max.isNull() | (F.col("__s") > prev_max), 1).otherwise(0)
    ).withColumn("__isl", F.sum("__new").over(word))
    covered = (
        isl.groupBy("__doc", "__isl")
        .agg((F.max("__e") - F.min("__s")).alias("__cov"))
        .groupBy("__doc")
        .agg(F.sum("__cov").alias("dup_tokens"))
    )
    lens = docs.select(
        F.col(id_col).alias("__doc"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_tokens"),
    )
    return (
        lens.join(covered, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.9,
    strategy: str = "auto",
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity, all qualifying pairs, EXACT —
    adaptive between two published set-similarity-join strategies
    (r2 bench exposed the naive shared-token self-join: a low-entropy
    corpus makes its fan-out Σ_g count(g)² — 448M joined rows on the
    sf0.1 fixture, from a 31-word vocabulary):

    * **Bitmask path** (vocabulary ≤ 64 distinct grams): each doc's gram
      set is one int64 bitmask; docs dedupe to DISTINCT masks (tiny-
      vocab corpora repeat sets heavily), similarity is
      bit_count(a&b)/bit_count(a|b) over distinct-mask pairs — codegen'd
      long ops, no token join at all — and matching mask groups expand
      back to doc pairs. Same-mask groups are Jaccard-1 pairs for free.
    * **Prefix-filter path** (AllPairs; Bayardo, Ma & Srikant, WWW'07):
      order grams globally by ascending frequency; a pair at Jaccard
      >= t must share one of each side's |x| - ceil(t*|x|) + 1 RAREST
      grams (pigeonhole: overlap >= ceil(t*max(|x|,|y|)) given the
      length filter min >= t*max). Only those prefix grams join — the
      hot common-token buckets never enter the self-join — then exact
      intersection counts verify the surviving candidates.

    Both paths return identical results (integer intersect/union counts,
    bit-identical jaccard doubles); ``strategy`` pins one explicitly
    ("bitmask" / "prefix") — "auto" probes the vocabulary with one cheap
    count aggregate on the gram frame (tests/test_dedup.py asserts
    path equivalence on both fixture shapes).

    ``block_col`` (entity-resolution blocking): only pairs whose rows
    agree on this column are compared/emitted — the exact-match half of
    a block→verify pipeline (e.g. LSH-component blocks from
    ``minhash_lsh_candidates(clique_mode="star")`` + ``connected_
    components``). Every join gains an equality on the block key, so
    the cost is quadratic only WITHIN blocks. Rows with a null block
    match nothing."""
    from pyspark.sql import Window

    if strategy not in ("auto", "bitmask", "prefix"):
        raise ValueError(f"unknown strategy {strategy!r}")
    blk = [block_col] if block_col else []
    # _spread_small_input: the shingle expression (transform/slice/
    # concat_ws — never codegen'd) is the most expensive per-row work in
    # this operator (~2 s/2500 docs on ONE core, measured via stage
    # metrics); a tiny fixture file scans as one partition, serializing
    # it. Spreading is a no-op at real scale (see the helper docstring).
    grams = _spread_small_input(docs).select(
        F.col(id_col), *blk, F.explode(F.array_distinct(shingles(text_col, n) if n > 1 else tokens(text_col))).alias("g")
    ).distinct()
    jac_of = lambda i, na, nb: (i.cast("double") / (na + nb - i))  # noqa: E731

    # The gram frame feeds MULTIPLE consumers on every path (bitmask:
    # the exact vocab count + the vocab frame + the masks build;
    # prefix: six subtrees — see below). Pin it ONCE the moment a
    # consumer beyond the sample probe is inevitable; unpinned, each
    # consumer re-runs scan+explode+distinct (and, under block_col, the
    # docs⋈components join feeding it). Integers+short strings only.
    # ``pin`` is idempotent, so each path below may pin it again freely.
    if strategy == "auto":
        # Two-stage probe so the full-corpus distinct-gram count only
        # ever runs when it is cheap: a bounded doc sample first (vocab
        # is monotone — a >64 sample vocabulary settles it with a
        # partial scan), and the exact global count only when the
        # sample says "tiny" (then partial aggregation collapses every
        # partition to <= ~64 local distincts before the shuffle).
        # 512 docs suffice for the >64 test (vocab is monotone in the
        # sample, and the <=64 branch re-checks with the exact global
        # count, so the decision is invariant — and both strategies
        # return identical results regardless). The previous 50k-row
        # probe ran the shingle expression over the whole fixture corpus
        # in ONE task (`limit` collapses to a single partition): 2.5 s
        # of the operator's 5.7 s wall, measured via stage metrics.
        sample_vocab = (
            docs.select(text_col)
            .limit(512)
            .select(F.explode(shingles(text_col, n) if n > 1 else tokens(text_col)).alias("g"))
            .agg(F.count_distinct("g"))
            .first()[0]
            or 0
        )
        if 0 < sample_vocab <= 64:
            grams = pin(grams)  # the exact count reads it anyway
            n_vocab = grams.agg(F.count_distinct("g")).first()[0] or 0
            strategy = "bitmask" if 0 < n_vocab <= 64 else "prefix"
        else:
            strategy = "prefix"
    elif strategy == "bitmask":
        grams = pin(grams)
        n_vocab = grams.agg(F.count_distinct("g")).first()[0] or 0
        if n_vocab > 64 or n_vocab == 0:
            raise ValueError(f"bitmask strategy needs 1..64 distinct grams, found {n_vocab}")
    if strategy == "bitmask":
        grams = pin(grams)
        vocab = (
            grams.select("g")
            .distinct()
            .withColumn("bit", F.row_number().over(Window.orderBy("g")) - 1)
        )
        masks = (
            grams.join(F.broadcast(vocab), "g")
            .groupBy(id_col, *blk)
            .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("mask"))
        )
        # Pinned: feeds the self-join's two aliases AND the same-mask
        # cliques (3 consumers) — exchange reuse never fires across a
        # self-join's sides, so unpinned each side re-runs the
        # vocab-window + masks aggregation. Distinct masks only — tiny.
        groups = pin(
            masks.groupBy("mask", *blk)
            .agg(F.collect_list(F.col(id_col)).alias("ids"))
        )
        a, b = groups.alias("a"), groups.alias("b")
        i_bits = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
        na_b, nb_b = F.bit_count("a.mask"), F.bit_count("b.mask")
        mask_cond = F.col("a.mask") < F.col("b.mask")
        if block_col:
            # Equality on the block key turns the nested-loop into a
            # hash join; quadratic comparison only within one block.
            mask_cond = (F.col(f"a.{block_col}") == F.col(f"b.{block_col}")) & mask_cond
        cross = (
            # Distinct-mask all-pairs: a broadcast nested-loop over the
            # deduped set frame (|distinct sets| << |docs| when the
            # vocabulary is this small), filtered by the bit arithmetic.
            a.join(F.broadcast(b), mask_cond)
            # >= 1 shared gram: the join-based paths only ever see pairs
            # sharing a token, so zero-overlap pairs are never emitted
            # even at threshold 0 — keep that contract here.
            .filter((i_bits >= 1) & (jac_of(i_bits, na_b, nb_b) >= threshold))
            .select(
                F.explode("a.ids").alias("id_a"),
                F.col("b.ids").alias("ids_b"),
                jac_of(i_bits, na_b, nb_b).alias("jaccard"),
            )
            .select(F.col("id_a"), F.explode("ids_b").alias("id_b"), "jaccard")
            .select(
                F.least("id_a", "id_b").alias("doc_id_a"),
                F.greatest("id_a", "id_b").alias("doc_id_b"),
                "jaccard",
            )
        )
        same = (
            groups.filter(F.size("ids") >= 2)
            .select(F.explode(_sorted_pairs("ids")).alias("p"))
            .select(
                F.col("p.a").alias("doc_id_a"),
                F.col("p.b").alias("doc_id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return cross.unionByName(same)

    # Prefix-filter (AllPairs) path: global ascending-frequency gram
    # order; index/probe only each doc's prefix (rarest) grams.
    # The gram frame feeds SIX consumers below (freq, both prefix
    # sides, the length filter, and both verify sides); unpinned, each
    # re-runs scan+explode+distinct — 12 parquet scans in the physical
    # plan, zero exchange reuse (measured 5.7 s -> 2.9 s at sf0.1 for
    # the t=0.8 truth join when pinned). Same discipline as
    # ngram_containment_pairs; integers only, never text.
    grams = pin(grams)
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("fc"))
    ranked = (
        grams.join(freq, "g")
        .withColumn("n_grams", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
        .withColumn(
            "rk", F.row_number().over(Window.partitionBy(id_col).orderBy("fc", "g"))
        )
    )
    # NOT pinned: with grams pinned the double-window recompute per
    # self-join side is cheap, and an eager checkpoint's job barrier
    # costs more than it saves (A/B measured 2.8 s pinned vs 2.1 s not).
    prefix = ranked.filter(
        F.col("rk") <= F.col("n_grams") - F.ceil(F.lit(threshold) * F.col("n_grams")) + 1
    ).select(id_col, *blk, "g", "n_grams")
    pa, pb = prefix.alias("a"), prefix.alias("b")
    join_cond = (F.col("a.g") == F.col("b.g")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if block_col:
        join_cond = join_cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cand = (
        pa.join(
            pb,
            join_cond
            # Length filter: Jaccard >= t forces min >= t * max.
            & (
                F.least("a.n_grams", "b.n_grams").cast("double")
                >= F.lit(threshold) * F.greatest("a.n_grams", "b.n_grams")
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .distinct()
    )
    ga = grams.withColumnRenamed(id_col, "doc_id_a")
    gb = grams.select(F.col(id_col).alias("__idb"), F.col("g").alias("gb"))
    inter = (
        cand.join(ga, "doc_id_a")
        .join(gb, (F.col("doc_id_b") == F.col("__idb")) & (F.col("g") == F.col("gb")))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"), F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    return inter.select(
        "doc_id_a", "doc_id_b", jac_of(F.col("n_inter"), F.col("na"), F.col("nb")).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def verify_candidates_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    the verification half of the discovery→verify dedup pipeline
    (reference equivalence-check idiom: performance_test.py:516-539).

    ``candidates`` must carry (doc_id_a, doc_id_b). Cost is
    O(|candidates| × doc length), never O(n²): grams are semi-joined down
    to docs that appear in some candidate pair before the intersection
    count, so at 100 TB the expensive token join touches only the
    (tiny) candidate neighborhood discovered by LSH. All shuffles move
    ids and tokens, never full documents.

    The candidate frame is pinned with an EAGER localCheckpoint: it
    feeds three subtrees (both sides of the touched-doc union and the
    verify join), and when it comes from ``minhash_lsh_candidates`` the
    Python signature pass would otherwise re-execute per subtree —
    mapInPandas subtrees never canonicalize equal, so exchange reuse
    cannot fire (measured at sf0.1: 39.5 s re-executing vs ~8 s
    pinned). The result recomputes FROM the checkpoint, so blocks are
    freed by the async ContextCleaner once the result is dereferenced —
    no explicit release hook, unlike simhash's self-contained pin."""
    from pyspark.sql import Window

    cand = pin(candidates.select("doc_id_a", "doc_id_b"))
    touched = (
        cand.select(F.col("doc_id_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_id_b").alias(id_col)))
        .distinct()
    )
    grams = (
        docs.join(touched, id_col, "semi")
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles(text_col, n) if n > 1 else tokens(text_col))
            ).alias("g"),
        )
        .distinct()
        .withColumn("n_grams", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    ga, gb = grams.alias("ga"), grams.alias("gb")
    inter = (
        cand.join(ga, F.col("doc_id_a") == F.col(f"ga.{id_col}"))
        .join(
            gb,
            (F.col("doc_id_b") == F.col(f"gb.{id_col}")) & (F.col("ga.g") == F.col("gb.g")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("ga.n_grams").alias("na"),
            F.first("gb.n_grams").alias("nb"),
        )
    )
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return inter.select("doc_id_a", "doc_id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iterations: int = 25,
    checkpoint_every: int = 1,
    stats: dict | None = None,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (node, cluster)
    where cluster = the smallest node id reachable from the node.

    This is the step dedup pipelines need AFTER pair discovery — pairs
    (a,b),(b,c) must collapse to ONE representative for {a,b,c}.

    Algorithm: iterative min-label propagation (each node takes the min
    of its own label and its neighbors' labels) PLUS pointer-jumping
    (path halving: ``label ← label(label)``, sound because a node's
    label is always a member of its own component) — a driver-side
    fixpoint converging in O(log diameter) rounds, with lineage
    checkpoints. Per round: one join edges⋈labels + one groupBy + one
    labels self-join — all shuffles on node ids only. Without the jump,
    a 1000-long chain needs 1000 rounds; with it, ~10
    (tools/cc_scale_smoke.py asserts the bound at 10^6 edges).

    checkpoint_every=1 is deliberate (measured 30s → 3.4s on 1887
    edges): every round's convergence check is an action, and without a
    checkpoint it replays the ENTIRE label lineage from round zero —
    materializing each round is strictly cheaper. The propagate join is
    additionally checkpointed BEFORE the pointer-jump self-join (r3:
    un-checkpointed, the jump's two aliases re-executed the edges⋈labels
    join twice per round), and convergence is detected by comparing the
    exact label sum across rounds (labels are monotone non-increasing,
    so an unchanged sum is a fixpoint) — a scan-only aggregate instead
    of a labels⋈labels join per round.

    Superseded checkpoints are released EAGERLY each round (see
    ``session.release``): at 10^10 nodes a labels snapshot is ~160 GB of
    executor storage — holding all 25 rounds' snapshots alive until GC
    would need TBs. Only the blocks backing the RETURNED frame stay
    (freed when the caller drops it).

    Adaptive small-graph path: below ``driver_threshold`` edges (of the
    already-materialized symmetric list — the size check is a count on
    the checkpoint, never a re-execution of pair discovery) the
    component labels come from a driver-side union-find instead of the
    distributed fixpoint. An LSH candidate graph is usually SPARSE —
    orders of magnitude smaller than the corpus — and each distributed
    round costs 2 jobs of scheduling floor regardless of data size, so
    at ≤10^6 edges (≈32 MB via the Arrow toPandas fetch of the two
    long columns — NOT a Row collect, which boxes ~100+ B/edge and
    would be hundreds of MB of driver heap) union-find is strictly
    faster
    (the same adaptive logic as AQE's runtime broadcast demotion; the
    collect is bounded by the threshold, pq._MAX_TRAIN-style). Pass
    ``driver_threshold=0`` to force the distributed path (the scale
    smokes do, to measure its round bounds)."""
    spark = edges.sparkSession

    # Materialize the symmetric edge list ONCE — it joins into every
    # round, and its lineage may be an expensive pair-discovery pipeline
    # (e.g. the Jaccard self-join) that must not re-execute per round.
    # The size-check count RIDES the checkpoint job as an observed
    # metric (r13 — the kcore convergence-count trick): a separate
    # sym.count() was one extra driver job of scheduling floor in every
    # CC caller (six benched dedup queries).
    from pyspark.sql import Observation

    obs = Observation()
    sym = pin(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    try:
        if driver_threshold and obs.get["n"] <= 2 * driver_threshold:
            # Small-graph fast path (see docstring): union-find over the
            # bounded, already-materialized edge list. Same contract —
            # (node, label=min reachable id) — verified against the
            # distributed path by tests/test_dedup.py. Fetched via Arrow
            # (toPandas on the two long columns, ~16 B/edge contiguous)
            # rather than Row collect (~100+ B/edge of boxed Row objects):
            # at the threshold the driver holds ~32 MB, not hundreds.
            pdf = sym.toPandas()
            n_pairs = len(pdf)
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while x != root:  # path compression
                    nxt = parent[x]
                    parent[x] = root
                    x = nxt
                return root

            s_vals = pdf["s"].tolist()
            d_vals = pdf["d"].tolist()
            del pdf
            for a0, b0 in zip(s_vals, d_vals):
                a, b = find(a0), find(b0)
                if a != b:
                    parent[max(a, b)] = min(a, b)
            nodes = set(s_vals)
            del s_vals, d_vals
            comp_min: dict = {}
            roots = {n: find(n) for n in nodes}
            for n, root in roots.items():
                if root not in comp_min or n < comp_min[root]:
                    comp_min[root] = n
            if stats is not None:
                stats["rounds"] = 0
                stats["driver_path_edges"] = n_pairs // 2
            t = dict(sym.dtypes)["s"]
            return local_rows_df(
                spark,
                sorted((n, comp_min[root]) for n, root in roots.items()),
                f"node {t}, cluster {t}",
            )
        labels = (
            sym.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
        )
        prev = None  # the snapshot the current labels read
        prev_sum = None
        for i in range(max_iterations):
            neighbor_min = (
                sym.join(labels, sym.d == labels.node)
                .groupBy("s")
                .agg(F.min("label").alias("nmin"))
            )
            propagated = (
                labels.join(neighbor_min, labels.node == neighbor_min.s, "left")
                .select(
                    "node",
                    F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                )
            )
            # Materialize the propagate join ONCE — the pointer-jump
            # self-join below reads this checkpoint on both sides instead of
            # re-executing edges⋈labels twice.
            propagated = pin(propagated)
            # The propagate snapshot is materialized; the previous round's
            # label snapshot has been consumed and nothing references it.
            release(prev)
            # Pointer-jump: label ← min(label, label's label). Halves the
            # remaining hop distance to the component minimum each round.
            l1, l2 = propagated.alias("l1"), propagated.alias("l2")
            new_labels = l1.join(l2, F.col("l1.label") == F.col("l2.node"), "left").select(
                F.col("l1.node").alias("node"),
                F.least(F.col("l1.label"), F.coalesce(F.col("l2.label"), F.col("l1.label"))).alias("label"),
            )
            # Convergence via the monotone label sum: labels only ever
            # decrease, so an unchanged EXACT sum (decimal accumulation —
            # no int64 overflow at any node-id scale) means a fixpoint. On
            # checkpointed rounds the sum rides the CHECKPOINT JOB ITSELF
            # as an observed metric (r7: one job per round instead of two —
            # the separate scan-only agg was pure job-scheduling overhead,
            # ~0.2 s/round at any data size).
            cur_sum = None
            if (i + 1) % checkpoint_every == 0:
                obs = Observation(f"cc_label_sum_r{i}")
                new_labels = new_labels.observe(
                    obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("lsum")
                )
                new_labels = pin(new_labels)
                cur_sum = obs.get["lsum"]
                # The jump consumed the propagate snapshot.
                release(propagated)
                prev = new_labels
            else:
                # new_labels stays one cheap join above the propagate
                # checkpoint; those blocks must survive until the next
                # materialized snapshot replaces them.
                prev = propagated
                cur_sum = new_labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
            labels = new_labels
            if cur_sum is None or (prev_sum is not None and cur_sum == prev_sum):
                if stats is not None:
                    stats["rounds"] = i + 1
                break
            prev_sum = cur_sum
        else:
            if stats is not None:
                stats["rounds"] = max_iterations
        return labels.select(F.col("node"), F.col("label").alias("cluster"))
    finally:
        # Neither return path reads the edge list: the driver path
        # returns local rows, the distributed one its own snapshots.
        release(sym)


# SimHash fingerprint width: the first 15 md5 hex chars. 60 bits stay
# inside a signed int64 in both engines and tile as 4×15-bit chunks.
SIMHASH_BITS = 60


def _token_hasher():
    """A token's 60-bit hash, the Python twin of ``md5_long(t, 15)``
    (``('0x'||substr(md5(t),1,15))::BIGINT`` in DuckDB); a closure for
    the reason ``_shingle_hasher`` gives."""
    return lambda t: int(hashlib.md5(t.encode()).hexdigest()[:15], 16)


def _chunk_bits(max_hamming: int) -> int:
    """Width of each of the max_hamming+1 pigeonhole chunks."""
    if SIMHASH_BITS % (max_hamming + 1) != 0:
        raise ValueError("max_hamming+1 must divide the 60 fingerprint bits so chunks tile them")
    return SIMHASH_BITS // (max_hamming + 1)


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, sh bigint) — 60-bit SimHash per document: hash each token
    (``_token_hasher``), sum +1/-1 per bit position across tokens, set
    bits where the tally is positive.

    MAP-ONLY like minhash_signatures (and for the same measured reason:
    64 interpreted sum() aggregates + explode were ~10 s at sf0.1, this
    is ~1 s with zero shuffle): per batch, tokens hash → a
    (n_tokens × 60) ±1 matrix → column sum → sign → fingerprint."""
    import numpy as np
    import pandas as pd

    tok_hash = _token_hasher()
    bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)[None, :]

    def run(batches):
        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").split()
                if not toks:
                    continue
                h = np.fromiter(
                    (tok_hash(t) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )[:, None]
                signs = (((h >> bit_idx) & 1) * 2).astype(np.int64) - 1  # ±1
                tally = signs.sum(axis=0)
                fp = int(((tally > 0).astype(np.uint64) << bit_idx[0]).sum(dtype=np.uint64))
                fps.append(fp)  # < 2^60: fits a signed long
                ids.append(doc_id)
            if ids:
                yield pd.DataFrame({id_col: ids, "sh": pd.array(fps, dtype="int64")})

    return _spread_small_input(docs.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} long, sh long"
    )


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 2000,
    expand_threshold: int = 200_000,
    clique_mode: str = "pairs",
    n_fingerprints: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, via pigeonhole
    banding: split the 60-bit fingerprint into max_hamming+1 equal
    chunks (default: 4×15 bits) — any pair within
    Hamming distance 3 must agree on >= 1 chunk, so the candidate join
    is equi on (chunk_index, chunk_value), never O(n²).
    Returns (doc_id_a, doc_id_b, hamming).

    FINGERPRINT DEDUP first (mirrors ``minhash_lsh_candidates``): docs
    group by exact fingerprint, and banding runs over DISTINCT
    fingerprints only. Identical-fingerprint groups are hamming-0 pairs
    by definition — emitted directly, immune to the bucket cap (which
    previously dropped any identical-doc population larger than
    ``max_bucket`` wholesale) — and the cap now guards genuine
    fingerprint diversity per chunk bucket. The doc-pair `distinct` is
    also gone: dedup happens at the (much smaller) fingerprint-pair
    level.

    ``clique_mode`` as in ``minhash_lsh_candidates``: ``"pairs"`` emits
    every doc pair (g(g-1)/2 per identical group — the exact answer);
    ``"star"`` emits min-member stars and one rep-to-rep edge per
    matched fingerprint pair — identical connected components, O(n)
    output on boilerplate floods (tools/skew_guard_smoke.py).

    SIZE-ADAPTIVE pair generation (measured crossover): below
    ``expand_threshold`` distinct fingerprints, fp pairs expand
    bucket-locally from a collect_list — sparse buckets, one linear
    pass (sf0.1: expansion beats the join). Above it, the pigeonhole
    buckets are DENSE (natural occupancy n/2^chunk_bits per chunk
    value) and the codegen'd self-join wins: 17 s vs 37 s at 1M docs
    for interpreted array expansion. The strategy needs the distinct
    fingerprint count: pass ``n_fingerprints`` (an estimate is fine —
    it only picks expansion-vs-join) and COMPOSING this operator runs
    ZERO Spark jobs (the checkpoint goes lazy too, materializing at
    first action); leave it None and the operator probes with a
    ``count()`` at plan-construction time (the count is cheap — the
    frame is checkpointed for the join's double read anyway — but it
    IS an eager action inside what looks like pure plan building)."""
    n_chunks = max_hamming + 1
    chunk_bits = _chunk_bits(max_hamming)
    if clique_mode not in ("pairs", "star"):
        raise ValueError(f"unknown clique_mode {clique_mode!r}")
    # The distinct-fingerprint frame is pinned so the pair self-join
    # (which reads it twice) and the member/rep expansion joins don't
    # re-run the Python fingerprint pass — exchange reuse never fires
    # across mapInPandas subtrees. The frame is (sh, members, rep) over
    # distinct fingerprints — tiny at any scale. Two pinning modes:
    #
    # * no hint: ``pin`` (the count probe materializes it
    #   anyway, and checkpoint truncates lineage so every subtree reads
    #   the stored blocks).
    # * ``n_fingerprints`` hint: ``persist()`` — the ONLY truly lazy
    #   pin (under AQE even a lazy localCheckpoint triggers ``.rdd``
    #   conversion, which materializes the shuffle stages = a job at
    #   compose time). First execution populates the cache; parallel
    #   stages may race the first fill (recompute, not wrong results).
    fp = (
        simhash_fingerprints(docs, id_col, text_col)
        .groupBy("sh")
        .agg(F.collect_list(F.col(id_col)).alias("members"), F.min(F.col(id_col)).alias("rep"))
    )
    # The result's ``_release_pin()`` frees either pin: ``release`` for
    # the checkpoint (DataFrame.unpersist cannot see it), the normal
    # CacheManager for the hinted persist().
    fp = pin(fp) if n_fingerprints is None else fp.persist()

    # Same-fingerprint groups: hamming 0 by definition, no banding needed.
    if clique_mode == "pairs":
        same = (
            fp.filter(F.size("members") >= 2)
            .select(F.explode(_sorted_pairs("members")).alias("p"))
            .select(
                F.col("p.a").alias("doc_id_a"),
                F.col("p.b").alias("doc_id_b"),
                F.lit(0).cast("integer").alias("hamming"),
            )
        )
    else:
        same = (
            fp.filter(F.size("members") >= 2)
            .select("rep", F.explode("members").alias("m"))
            .filter(F.col("m") != F.col("rep"))
            .select(
                F.col("rep").alias("doc_id_a"),
                F.col("m").alias("doc_id_b"),
                F.lit(0).cast("integer").alias("hamming"),
            )
        )

    from pyspark.sql import Window

    w = Window.partitionBy("chunk_idx", "chunk_val")
    chunks = (
        fp.select("sh", F.explode(F.array(*_simhash_chunk_structs("sh", n_chunks, chunk_bits))).alias("c"))
        .select("sh", "c.chunk_idx", "c.chunk_val")
        .withColumn("__bc", F.count(F.lit(1)).over(w))
        .filter(F.col("__bc") <= max_bucket)
        .drop("__bc")
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    n_fp = n_fingerprints if n_fingerprints is not None else fp.count()
    if n_fp <= expand_threshold:
        # Small corpus: bucket-local expansion over distinct fps.
        fp_pairs = (
            chunks.groupBy("chunk_idx", "chunk_val")
            .agg(F.collect_list("sh").alias("fps"))
            .select(F.explode(_sorted_pairs("fps")).alias("p"))
            .select(F.col("p.a").alias("sh_a"), F.col("p.b").alias("sh_b"))
            .distinct()
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
        )
    else:
        a, b = chunks.alias("a"), chunks.alias("b")
        fp_pairs = (
            a.join(
                b,
                (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
                & (F.col("a.chunk_val") == F.col("b.chunk_val"))
                & (F.col("a.sh") < F.col("b.sh")),
            )
            .select(F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
            .distinct()
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
        )
    if clique_mode == "pairs":
        ma = fp.select(F.col("sh").alias("sh_a"), F.col("members").alias("members_a"))
        mb = fp.select(F.col("sh").alias("sh_b"), F.col("members").alias("members_b"))
        cross = (
            fp_pairs.join(ma, "sh_a")
            .join(mb, "sh_b")
            .select(F.explode("members_a").alias("id_a"), "members_b", "hamming")
            .select("id_a", F.explode("members_b").alias("id_b"), "hamming")
            .select(
                F.least("id_a", "id_b").alias("doc_id_a"),
                F.greatest("id_a", "id_b").alias("doc_id_b"),
                "hamming",
            )
        )
    else:
        ma = fp.select(F.col("sh").alias("sh_a"), F.col("rep").alias("rep_a"))
        mb = fp.select(F.col("sh").alias("sh_b"), F.col("rep").alias("rep_b"))
        cross = (
            fp_pairs.join(ma, "sh_a")
            .join(mb, "sh_b")
            .select(
                F.least("rep_a", "rep_b").alias("doc_id_a"),
                F.greatest("rep_a", "rep_b").alias("doc_id_b"),
                "hamming",
            )
        )
    out = cross.unionByName(same)
    out._release_pin = lambda: release(fp) if n_fingerprints is None else fp.unpersist(False)
    return out


def _simhash_chunk_structs(col: str, n_chunks: int, chunk_bits: int) -> list:
    """The pigeonhole chunk decomposition of a fingerprint column — ONE
    definition shared by the batch near-dup join, the index builder and
    the incremental matcher: build- and match-side keys must stay
    bit-for-bit identical or index lookups silently miss."""
    return [
        F.struct(
            F.lit(i).alias("chunk_idx"),
            F.shiftright(F.col(col), i * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
            .alias("chunk_val"),
        )
        for i in range(n_chunks)
    ]


def simhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 2000,
) -> dict[str, DataFrame]:
    """SimHash twin of ``minhash_index``: the stored incremental state —

    * ``fingerprints`` (doc_id, sh) — doc → fingerprint;
    * ``reps`` (sh, rep) — each fingerprint group's min doc id, for the
      linear ``mode="rep"`` match;
    * ``chunks`` (sh, chunk_idx, chunk_val) — DISTINCT fingerprints'
      pigeonhole chunks, with overfull buckets (> ``max_bucket``
      distinct fingerprints) dropped once at build time;
    * ``dropped`` (chunk_idx, chunk_val) — the capped-out buckets, kept
      so ``simhash_index_append`` can keep them capped (populations
      only grow; see the minhash twin).

    Integer-only parquet-able artifacts; matching a new batch never
    re-reads the seen corpus."""
    n_chunks = max_hamming + 1
    chunk_bits = _chunk_bits(max_hamming)
    # Pinned once: fingerprints/reps/chunks are three derived frames
    # (same rationale as minhash_index — unpinned, each derived table's
    # action re-fingerprints the whole seen corpus).
    fp = pin(
        simhash_fingerprints(docs, id_col, text_col)
        .select(F.col(id_col).alias("doc_id"), "sh")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("chunk_idx", "chunk_val")
    counted = (
        fp.select("sh").distinct()
        .select("sh", F.explode(F.array(*_simhash_chunk_structs("sh", n_chunks, chunk_bits))).alias("c"))
        .select("sh", "c.chunk_idx", "c.chunk_val")
        .withColumn("__bc", F.count(F.lit(1)).over(w))
    )
    chunks = counted.filter(F.col("__bc") <= max_bucket).drop("__bc")
    dropped = (
        counted.filter(F.col("__bc") > max_bucket).select("chunk_idx", "chunk_val").distinct()
    )
    reps = fp.groupBy("sh").agg(F.min("doc_id").alias("rep"))
    params = {
        "max_hamming": max_hamming,
        "bits": SIMHASH_BITS,
        "hash_fn": "md5",
        "max_bucket": max_bucket,
    }
    return {
        "fingerprints": fp,
        "reps": reps,
        "chunks": chunks,
        "dropped": dropped,
        "params": params,
    }


def simhash_index_write(index: dict[str, DataFrame], path: str) -> None:
    _index_write(index, path, "simhash", ("fingerprints", "reps", "chunks"))


def simhash_index_read(spark, path: str) -> dict[str, DataFrame]:
    """Open a stored simhash index — append-only layout, logical tables
    derived at read time exactly as ``minhash_index_read`` does: reps
    min-reduce, chunk rows anti-join the dropped-bucket list."""
    dropped = artifact.read_or_empty(spark, path, "simhash", "dropped")
    return {
        "fingerprints": artifact.read(spark, path, "simhash", "fingerprints"),
        "reps": artifact.read(spark, path, "simhash", "reps")
        .groupBy("sh").agg(F.min("rep").alias("rep")),
        "chunks": artifact.read(spark, path, "simhash", "chunks")
        .join(dropped, ["chunk_idx", "chunk_val"], "left_anti")
        .select("sh", "chunk_idx", "chunk_val"),
        "dropped": dropped,
        "params": artifact.read_params(spark, path, "simhash"),
    }


def simhash_index_compact(spark, path: str, stats: bool = True) -> dict[str, int]:
    """SimHash twin of ``minhash_index_compact``: materialize the
    read-time derivation (reps min-reduced, retired pigeonhole-chunk
    rows removed), rewrite fingerprints for file coalescing, keep
    ``dropped``/``applied_batches`` verbatim."""
    return _index_compact(spark, path, simhash_index_read, ("fingerprints", "reps", "chunks"), stats)


def simhash_index_append(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    stats: bool = True,
) -> dict[str, int | bool]:
    """SimHash twin of ``minhash_index_append`` — fold an accepted batch
    into the stored index, re-checking the pigeonhole-bucket cap only on
    the (chunk_idx, chunk_val) buckets the batch touches. Same
    append-≡-rebuild contract (pytest-pinned table equality, oracle-gated
    via ``dedup_simhash_index_append``), same append-only layout, same
    ``batch_id`` replay no-op, same all-or-nothing commit, same
    concurrent-append + optional-``stats`` job trim."""
    row = artifact.read_params(spark, path, "simhash")
    max_bucket = row["max_bucket"]
    max_hamming = row["max_hamming"]
    n_chunks = max_hamming + 1
    chunk_bits = _chunk_bits(max_hamming)
    if artifact.begin(spark, path, batch_id):
        return {"applied": False, "fingerprints": 0, "reps": 0, "chunks": 0, "dropped": 0}
    fp = pin(
        simhash_fingerprints(new_docs, id_col, text_col)
        .select(F.col(id_col).alias("doc_id"), "sh")
    )
    reps_add = fp.groupBy("sh").agg(F.min("doc_id").alias("rep"))
    existing = artifact.read(spark, path, "simhash", "reps").select("sh")
    dropped_cur = artifact.read_or_empty(spark, path, "simhash", "dropped")
    new_chunk_rows = pin(
        fp.select("sh").distinct()
        .join(existing, "sh", "left_anti")
        .select(
            "sh", F.explode(F.array(*_simhash_chunk_structs("sh", n_chunks, chunk_bits))).alias("c")
        )
        .select("sh", "c.chunk_idx", "c.chunk_val")
        .join(dropped_cur, ["chunk_idx", "chunk_val"], "left_anti")
        .select("sh", "chunk_idx", "chunk_val")  # USING-join reordered
    )
    new_counts = new_chunk_rows.groupBy("chunk_idx", "chunk_val").agg(
        F.count(F.lit(1)).alias("add")
    )
    cur_counts = (
        artifact.read(spark, path, "simhash", "chunks")
        .join(new_counts.select("chunk_idx", "chunk_val"), ["chunk_idx", "chunk_val"], "left_semi")
        .groupBy("chunk_idx", "chunk_val")
        .agg(F.count(F.lit(1)).alias("cur"))
    )
    newly_dropped = pin(
        new_counts.join(cur_counts, ["chunk_idx", "chunk_val"], "left")
        .filter(F.coalesce(F.col("cur"), F.lit(0)) + F.col("add") > max_bucket)
        .select("chunk_idx", "chunk_val")
    )
    chunk_append = new_chunk_rows.join(
        newly_dropped, ["chunk_idx", "chunk_val"], "left_anti"
    ).select("sh", "chunk_idx", "chunk_val")
    artifact.append(spark, path, {
        "fingerprints": fp, "reps": reps_add, "chunks": chunk_append, "dropped": newly_dropped,
    }, batch_id)
    if not stats:
        return {"applied": True}
    return {"applied": True, **_appended_counts(
        fingerprints=fp, reps=reps_add, chunks=chunk_append, dropped=newly_dropped
    )}


def simhash_match_incremental(
    new_docs: DataFrame,
    index: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int | None = None,
    mode: str = "pairs",
) -> DataFrame:
    """(doc_id_new, doc_id_seen, hamming) — today's batch against the
    stored simhash index. Same-fingerprint matches (hamming 0) join the
    fingerprint table directly (immune to the bucket cap); near matches
    probe the stored chunk table with the new batch's chunks and verify
    Hamming ≤ k with one XOR/bit_count — the seen text is never read.

    ``mode`` as in ``minhash_match_incremental``: ``"pairs"`` expands
    every (new, seen) doc pair; ``"rep"`` emits one row per matched
    seen FINGERPRINT with the group's stored representative — linear
    under identical-doc floods."""
    if mode not in ("pairs", "rep"):
        raise ValueError(f"unknown mode {mode!r}")
    p = _resolve_index_params(index, {"max_hamming": max_hamming}, {"max_hamming": 3})
    max_hamming = p["max_hamming"]
    n_chunks = max_hamming + 1
    chunk_bits = _chunk_bits(max_hamming)
    # Pinned once — feeds the same-fp join, chunk explode, and cross
    # join (3x Python fingerprint pass otherwise; see minhash twin).
    new_fp = pin(
        simhash_fingerprints(new_docs, id_col, text_col)
        .select(F.col(id_col).alias("doc_id_new"), F.col("sh").alias("nsh"))
    )
    if mode == "pairs":
        seen_fp = index["fingerprints"].withColumnsRenamed({"doc_id": "doc_id_seen", "sh": "ssh"})
    else:
        seen_fp = index["reps"].withColumnsRenamed({"rep": "doc_id_seen", "sh": "ssh"})
    same = new_fp.join(seen_fp, F.col("nsh") == F.col("ssh")).select(
        "doc_id_new", "doc_id_seen", F.lit(0).cast("integer").alias("hamming")
    )
    new_chunks = (
        new_fp.select("nsh").distinct()
        .select("nsh", F.explode(F.array(*_simhash_chunk_structs("nsh", n_chunks, chunk_bits))).alias("c"))
        .select("nsh", "c.chunk_idx", "c.chunk_val")
    )
    hamming = F.bit_count(F.col("nsh").bitwiseXOR(F.col("ssh")))
    fp_pairs = (
        new_chunks.join(
            index["chunks"].withColumnRenamed("sh", "ssh"), ["chunk_idx", "chunk_val"]
        )
        .filter(F.col("nsh") != F.col("ssh"))
        .select("nsh", "ssh")
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        fp_pairs.join(new_fp, "nsh")
        .join(seen_fp, "ssh")
        .select("doc_id_new", "doc_id_seen", F.col("hamming").cast("integer"))
    )
    return cross.unionByName(same)


def cluster_split(
    docs: DataFrame,
    pairs: DataFrame,
    train_pct: int = 90,
    id_col: str = "doc_id",
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
) -> DataFrame:
    """(id, cluster, split) — LEAKAGE-SAFE train/eval split: near-
    duplicate CLUSTERS are atomic, so no eval document has a near-copy
    in train. A plain per-document hash split (hash_split_train_eval)
    leaks through near-duplicates — a boilerplate variant of a training
    document landing in eval scores artificially well, the classic
    contamination the dedup literature warns about (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"). Here
    the split key is the CLUSTER label (min member id via
    ``connected_components`` over the candidate ``pairs``; unpaired
    documents are their own singleton cluster), so every member hashes
    to the same side by construction.

    The hash is the repo's engine-portable md5 bucket (same convention
    as hash_split_train_eval): split never changes under repartition,
    re-run, or corpus growth — new singletons hash independently, and a
    new member joining an existing cluster inherits the cluster's side
    (unless it LOWERS the min id: re-clustering a grown corpus is a new
    split universe, which is true of any cluster-keyed scheme).

    Scale shape: pair discovery is the caller's bucketed LSH/Jaccard
    machinery; CC is the checkpointed fixpoint (or driver union-find
    below the edge threshold); the split itself is a map-only hash over
    the |V|-row label table joined back to docs — one broadcast-able
    join on the id, no extra shuffle beyond CC's own.
    """
    edges = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    cc = connected_components(edges, src="s", dst="d")
    labeled = (
        docs.select(F.col(id_col))
        .join(cc, docs[id_col] == cc["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
        )
    )
    bucket = F.pmod(md5_long(F.col("cluster").cast("string"), 6), F.lit(100))
    return labeled.select(
        id_col,
        "cluster",
        F.when(bucket < train_pct, "train").otherwise("eval").alias("split"),
    )
