"""Scale smoke for the data-selection ops.

1. DSIR importance weights over a synthesized corpus with a PLANTED
   vocabulary shift: target docs (id % 10 == 0) draw from the first
   half of the vocab, a "target-like" raw slice (id % 10 == 5) draws
   from the same half, everything else from the second half. Every
   target-like doc must outscore every off-distribution doc — the
   selection property DSIR exists for, checked exactly at scale.
2. Farthest-point sampling (k=12) + nearest-center assignment over
   synthesized vectors with 12 PLANTED well-separated cluster anchors
   (one per orthant corner, distance >> intra-cluster jitter): FPS must
   pick one point from every planted cluster (the greedy 2-approx
   guarantee at this separation), and the assignment must send every
   point to its own cluster's chosen center.

Usage: python tools/selection_scale_smoke.py [n_docs] [n_vecs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from laygo_python_spark.operators.coreset import assign_to_centers, farthest_point_sample
from laygo_python_spark.operators.dsir import dsir_log_weights
from laygo_python_spark.session import get_spark
from tools.scale_smoke import VOCAB


def synth_docs(spark, n_docs: int, words_per_doc: int = 30):
    half = len(VOCAB) // 2
    lo = F.array(*[F.lit(w) for w in VOCAB[:half]])
    hi = F.array(*[F.lit(w) for w in VOCAB[half:]])
    base = spark.range(0, n_docs, 1, 32).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 == 0).alias("is_target"),
        (F.col("id") % 10 == 5).alias("is_targetlike"),
    )
    pick = F.when(F.col("is_target") | F.col("is_targetlike"), lo).otherwise(hi)
    words = F.transform(
        F.sequence(F.lit(1), F.lit(words_per_doc)),
        lambda i: F.element_at(
            pick, (F.pmod(F.xxhash64(F.col("doc_id"), i), F.lit(half)) + 1).cast("int")
        ),
    )
    return base.select(
        "doc_id", "is_target", "is_targetlike", F.concat_ws(" ", words).alias("text")
    )


def synth_vecs(spark, n_vecs: int, dim: int = 16, k: int = 12):
    """Cluster membership = id % k; cluster c's anchor is the axis
    vector with coordinate 100.0 at dim c (anchors mutually orthogonal,
    squared inter-anchor distance 2e4), plus deterministic per-dim
    jitter in [-0.5, 0.5] (intra-cluster squared distance <= dim)."""
    cluster = (F.col("id") % k).alias("cluster")
    jit = lambda i: (  # noqa: E731
        (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(1000)) - 500) / 1000.0
    )
    vec = F.array(
        *[
            (
                F.when((F.col("id") % k) == i, F.lit(100.0)).otherwise(F.lit(0.0))
                + jit(i)
            ).cast("double")
            for i in range(dim)
        ]
    )
    return spark.range(0, n_vecs, 1, 32).select(
        F.col("id").alias("vec_id"), cluster, vec.alias("embedding")
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    spark = get_spark("selection_scale_smoke")
    out: dict[str, object] = {"n_docs": n_docs, "n_vecs": n_vecs}

    # --- DSIR ---
    docs = synth_docs(spark, n_docs).persist()
    docs.count()
    # 1024 buckets: the smoke's separation assertion is per-DOC (every
    # target-like doc outscores every off-distribution doc), which
    # needs mostly-collision-free hashing of the 500-word vocab — at
    # the catalog default of 128 buckets nearly every bucket mixes
    # words from both halves and the per-doc min/max tails overlap
    # (the bucket DISTRIBUTIONS still separate; the assertion wouldn't).
    t0 = time.time()
    w = dsir_log_weights(docs, F.col("is_target"), buckets=1024)
    judged = w.join(docs.select("doc_id", "is_target", "is_targetlike"), "doc_id")
    agg = judged.groupBy().agg(
        F.min(F.when(F.col("is_targetlike"), F.col("log_weight"))).alias("min_like"),
        F.max(
            F.when(~F.col("is_target") & ~F.col("is_targetlike"), F.col("log_weight"))
        ).alias("max_off"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    out["dsir_s"] = round(time.time() - t0, 1)
    out["dsir_rows"] = agg["n"]
    out["dsir_separation_ok"] = bool(agg["min_like"] > agg["max_off"])
    out["dsir_margin"] = round(agg["min_like"] - agg["max_off"], 2)
    docs.unpersist()
    # Release DSIR's pinned per-(doc,bucket) checkpoint blocks before
    # timing the FPS phase (bench.quiesce: the ContextCleaner never
    # drains organically inside a short session, and 1M docs of pinned
    # blocks perturb the next phase's numbers).
    del w, judged, agg
    from bench import quiesce

    quiesce(spark, deep=True)

    # --- FPS + assignment ---
    vecs = synth_vecs(spark, n_vecs).persist()
    vecs.count()
    t0 = time.time()
    centers = farthest_point_sample(vecs, k=12, vectorized=True)
    out["fps_s"] = round(time.time() - t0, 1)
    center_clusters = sorted(cid % 12 for cid, _ in centers)
    out["fps_one_per_cluster"] = center_clusters == list(range(12))
    t0 = time.time()
    assign = assign_to_centers(vecs, centers, vectorized=True)
    bad = (
        assign.join(vecs.select("vec_id", "cluster"), "vec_id")
        .filter(F.col("center_id") % 12 != F.col("cluster"))
        .count()
    )
    out["assign_s"] = round(time.time() - t0, 1)
    out["assign_mismatches"] = bad
    print(json.dumps(out))


if __name__ == "__main__":
    main()
