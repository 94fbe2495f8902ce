"""ANN scale smoke: similarity search over a synthesized embedding corpus
far beyond the fixtures (default 500k × 64-dim), with planted noisy
probes, comparing the three paths:

- brute-force cosine (exact baseline),
- multi-table SRP-LSH,
- IVF (k-means cells, multi-probe),
- PQ/ADC (corpus scanned as 32-byte codes, trained on a 50k sample),

reporting wall time and recall@10 of each approximate path against the
exact baseline — the evidence that the sub-linear paths hold at scale.

Usage: python tools/ann_scale_smoke.py [n_vectors]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from laygo_python_spark.operators import similarity
from laygo_python_spark.operators.ivf import ivf_topk
from laygo_python_spark.session import get_spark

DIM = 64
N_QUERIES = 10


def synth_vectors(spark, n: int):
    """Deterministic pseudo-gaussian vectors from the row id (hash-based,
    partition-independent), generated distributed via mapInPandas."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(ids % (2**31))  # per-row seed
            mat = rng.standard_normal((len(ids), DIM))
            yield pd.DataFrame({"vec_id": ids, "embedding": [r.tolist() for r in mat]})

    return spark.range(0, n, 1, 32).mapInPandas(gen, schema="vec_id long, embedding array<double>")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    spark = get_spark("ann_scale")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()

    corpus = synth_vectors(spark, n).persist()
    corpus.count()

    # Planted probes: corpus vectors 0..9 + 5% noise → their true nearest
    # neighbor is the source vector with sim ≈ 0.999.
    base = corpus.filter(F.col("vec_id") < N_QUERIES).collect()
    rng = np.random.default_rng(7)
    probes = spark.createDataFrame(
        [
            (int(r.vec_id) + 10_000_000, (np.array(r.embedding) + 0.05 * rng.standard_normal(DIM)).tolist())
            for r in base
        ],
        "vec_id long, embedding array<double>",
    )

    results = {"n_vectors": n}
    t0 = time.perf_counter()
    bf = similarity.brute_force_topk(corpus, probes, k=10, vectorized=True).collect()
    results["brute_force"] = {"sec": round(time.perf_counter() - t0, 2)}
    bf_pairs = {(r.query_id, r.neighbor_id) for r in bf}
    planted_hit_bf = sum(1 for r in bf if r.rank == 1 and r.neighbor_id == r.query_id - 10_000_000)
    results["brute_force"]["planted_rank1"] = planted_hit_bf

    # Two points on the recall/cost curve (the docstring's k/L scaling
    # law): narrow buckets (12 planes → 4096 buckets) are fast but weak
    # on THIS adversarial corpus (uniform random vectors = no cluster
    # structure); widening to 8 planes (256 buckets) recovers recall at
    # proportionally higher candidate cost. Planted near-dups — the case
    # LSH exists for — are found at rank 1 by both settings.
    for planes, tables in ((12, 8), (8, 16)):
        t0 = time.perf_counter()
        lsh = similarity.lsh_bucketed_topk(
            corpus, probes, k=10, n_planes=planes, n_tables=tables
        ).collect()
        lsh_pairs = {(r.query_id, r.neighbor_id) for r in lsh}
        results[f"srp_lsh_{planes}p{tables}t"] = {
            "sec": round(time.perf_counter() - t0, 2),
            "recall_at_10": round(len(bf_pairs & lsh_pairs) / len(bf_pairs), 3),
            "planted_rank1": sum(
                1 for r in lsh if r.rank == 1 and r.neighbor_id == r.query_id - 10_000_000
            ),
        }

    t0 = time.perf_counter()
    ivf = ivf_topk(corpus, probes, k=10, n_centroids=64, n_probe=4).collect()
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf}
    results["ivf"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "recall_at_10": round(len(bf_pairs & ivf_pairs) / len(bf_pairs), 3),
        "planted_rank1": sum(1 for r in ivf if r.rank == 1 and r.neighbor_id == r.query_id - 10_000_000),
    }

    # PQ: train on a bounded sample, encode the whole corpus ONCE (the
    # stored form), then ADC-scan codes. Encode time is the write-path
    # cost; query time is the code-scan — the number that matters when
    # the raw floats no longer fit anywhere.
    from laygo_python_spark.operators.pq import pq_encode, pq_topk, train_codebooks

    t0 = time.perf_counter()
    cb = train_codebooks(corpus.limit(50_000), m=32, ksub=64)
    train_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    codes = pq_encode(corpus, cb).persist()
    codes.count()
    encode_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    pq = pq_topk(codes, probes, cb, k=10).collect()
    pq_pairs = {(r.query_id, r.neighbor_id) for r in pq}
    results["pq_adc"] = {
        "train_sec": round(train_sec, 2),
        "encode_sec": round(encode_sec, 2),
        "query_sec": round(time.perf_counter() - t0, 2),
        "recall_at_10": round(len(bf_pairs & pq_pairs) / len(bf_pairs), 3),
        "planted_rank1": sum(1 for r in pq if r.rank == 1 and r.neighbor_id == r.query_id - 10_000_000),
    }
    codes.unpersist()

    # Binary sign codes (r8): quantize ONCE (the 32x-smaller stored
    # form), then Hamming-shortlist + exact-cosine rerank. Like PQ, the
    # quantize time is write-path cost; query time is the XOR+popcount
    # scan of two BIGINT words per vector plus a rerank that touches
    # only shortlist x queries full vectors.
    t0 = time.perf_counter()
    bq = similarity.binary_hamming_topk(
        corpus, probes, dim=DIM, k=10, shortlist=128
    ).collect()
    bq_pairs = {(r.query_id, r.neighbor_id) for r in bq}
    results["binary_hamming_rerank"] = {
        "query_sec": round(time.perf_counter() - t0, 2),
        "recall_at_10": round(len(bf_pairs & bq_pairs) / len(bf_pairs), 3),
        "planted_rank1": sum(
            1 for r in bq if r.rank == 1 and r.neighbor_id == r.query_id - 10_000_000
        ),
    }
    print(json.dumps(results))


if __name__ == "__main__":
    main()
