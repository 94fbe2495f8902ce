"""Scale smoke: run the dedup pipeline on a SYNTHESIZED corpus far bigger
than the sf0.1 fixtures (default 200k docs ≈ 40× sf0.1), with planted
duplicates, and verify (a) the planted dups are found, (b) wall time
scales sub-quadratically. Corpus generation is pure JVM (range + hash →
words), so the test isolates the dedup pipeline's own scaling.

Usage: python tools/scale_smoke.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from laygo_python_spark.operators import dedup
from laygo_python_spark.session import get_spark

VOCAB = [f"w{i:02d}" for i in range(500)]


def synth_docs(spark, n_docs: int, words_per_doc: int = 40, dup_every: int = 100):
    """Every ``dup_every``-th doc duplicates its successor's content →
    exactly n_docs//dup_every planted near-identical pairs."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = spark.range(0, n_docs, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % dup_every == 0, F.col("id") + 1).otherwise(F.col("id")).alias("seed"),
    )
    words = F.transform(
        F.sequence(F.lit(1), F.lit(words_per_doc)),
        lambda i: F.element_at(vocab, (F.pmod(F.xxhash64(F.col("seed"), i), F.lit(len(VOCAB))) + 1).cast("int")),
    )
    return base.select("doc_id", F.concat_ws(" ", words).alias("text"))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("scale_smoke")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()  # warm python workers

    docs = synth_docs(spark, n_docs).persist()
    n = docs.count()
    planted = n_docs // 100

    t0 = time.perf_counter()
    cands = dedup.minhash_lsh_candidates(docs).persist()
    n_cands = cands.count()
    t_minhash = time.perf_counter() - t0

    # every planted pair (i, i+1) for i % 100 == 0 must be a candidate
    found_planted = cands.filter(
        (F.col("doc_id_a") % 100 == 0) & (F.col("doc_id_b") == F.col("doc_id_a") + 1) & (F.col("n_bands") == 32)
    ).count()

    t0 = time.perf_counter()
    n_exact = (
        docs.groupBy(F.md5(F.col("text")).alias("fp")).count().filter(F.col("count") > 1).count()
    )
    t_exact = time.perf_counter() - t0

    t0 = time.perf_counter()
    sh = dedup.simhash_near_dups(docs, max_hamming=3).count()
    t_simhash = time.perf_counter() - t0

    # cluster the candidate pairs → one representative per dup group
    t0 = time.perf_counter()
    clusters = dedup.connected_components(cands)
    n_groups = clusters.select("cluster").distinct().count()
    t_cluster = time.perf_counter() - t0

    print(
        json.dumps(
            {
                "n_docs": n,
                "planted_pairs": planted,
                "minhash": {"sec": round(t_minhash, 2), "candidates": n_cands, "planted_found": found_planted},
                "exact": {"sec": round(t_exact, 2), "dup_fingerprints": n_exact},
                "simhash": {"sec": round(t_simhash, 2), "pairs": sh},
                "clustering": {"sec": round(t_cluster, 2), "dup_groups": n_groups},
            }
        )
    )
    assert found_planted == planted, f"missed planted dups: {found_planted}/{planted}"


if __name__ == "__main__":
    main()
