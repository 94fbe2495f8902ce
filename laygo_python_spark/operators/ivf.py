"""IVF (inverted-file) approximate nearest neighbors — the
centroid-partitioned complement to SRP-LSH (operators/similarity.py).

Index build: k-means over the corpus (pyspark.ml, one training job);
every vector is assigned to its nearest centroid's cell. Search: score
a query only against the cells of its ``n_probe`` nearest centroids.

LSH vs IVF trade-off: LSH needs no training pass and its recall is
distribution-free; IVF adapts cells to the actual data distribution
(tighter candidate sets for clustered corpora) at the cost of a
training job and re-balancing as data drifts. At 100 TB the cell id
becomes a write-time partition column, so a probe touches only
``n_probe`` partitions of the corpus — classic partition pruning.

Assignments and scoring run in numpy over Arrow batches (one
(batch × dim) @ (dim × k) matmul per batch) — the same measured lesson
as minhash: wide per-row Column expressions never codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import artifact
from ..session import pin


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> np.ndarray:
    """K-means centroids as a (k × dim) numpy array (driver-side — k·dim
    doubles, tiny; it ships to executors inside the closure like a
    broadcast)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return np.array(model.clusterCenters(), dtype=np.float64)


def _assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    id_out: str,
    vec_out: str,
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
    rank_out: str | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, vec double[], cell) — one row per (vector, probed cell):
    corpus vectors get their single nearest cell, query vectors get
    their ``n_probe`` nearest (multi-probe search). ``rank_out`` adds
    the 1-based probe rank (1 = nearest cell) so a single assignment
    pass can serve every n_probe <= the requested one — the
    nprobe_recall_curve one-pass trick.

    ``passthrough``: DOUBLE input columns copied verbatim onto every
    emitted row (repeated across the n_probe expansion). Lets a caller
    hoist a per-vector JVM expression (the l2 norm) to run once per
    INPUT row instead of once per probed row — folding it after the
    expansion paid the fold n_probe times per query (r12 ADVICE)."""
    import pandas as pd

    cT = centroids.T  # (dim, k)
    c_norm2 = (centroids**2).sum(axis=1)[None, :]  # (1, k)
    n_probe = min(n_probe, len(centroids))  # over-probing == probe everything

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            # argmin ||x - c||² = argmin (||c||² - 2x·c) — skip ||x||²
            d2 = c_norm2 - 2.0 * (mat @ cT)  # (n, k)
            # stable: an exact d2 tie (possible after an empty-cluster
            # centroid collapse duplicates a centroid) must break to the
            # LOWEST cell id, matching the DuckDB oracle's
            # ORDER BY d2, cell — default quicksort is tie-unstable.
            order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]  # (n, n_probe)
            ids = np.repeat(pdf[id_col].to_numpy(), n_probe)
            vecs = [row for row in mat.tolist() for _ in range(n_probe)]
            out = {id_out: ids, vec_out: vecs, "cell": order.reshape(-1)}
            if rank_out:
                out[rank_out] = np.tile(np.arange(1, n_probe + 1), len(pdf))
            for extra in passthrough:
                out[extra] = np.repeat(pdf[extra].to_numpy(), n_probe)
            yield pd.DataFrame(out)

    schema = f"{id_out} long, {vec_out} array<double>, cell int"
    if rank_out:
        schema += f", {rank_out} int"
    for extra in passthrough:
        schema += f", {extra} double"
    return df.select(id_col, vec_col, *passthrough).mapInPandas(run, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k: each query is scored only against corpus
    vectors in its ``n_probe`` nearest cells. Returns
    (query_id, neighbor_id, sim, rank) like brute_force_topk. Pass
    ``centroids`` to search at FIXED pre-trained cells (the committed
    oracle artifact, or ``ivf_index_write``'s rebuild path) instead of
    paying a training job."""
    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col, seed)
    from laygo_python_spark.operators.similarity import (
        _score_topk,
        as_double_array,
        l2_norm,
    )

    c = _assign_cells(corpus, centroids, "neighbor_id", "cv", id_col, vec_col, n_probe=1)
    c = c.withColumn("nc", l2_norm(F.col("cv")))
    # nq folded ONCE per query row and carried through the multi-probe
    # expansion (r12 ADVICE: folding after _assign_cells paid the norm
    # n_probe times per query). Bit-identical: the fold runs over the
    # same float64 widening of the raw vector either way.
    q = _assign_cells(
        queries.withColumn("__pre_nq", l2_norm(as_double_array(vec_col))),
        centroids, "query_id", "qv", id_col, vec_col, n_probe=n_probe,
        passthrough=("__pre_nq",),
    ).withColumnRenamed("__pre_nq", "nq")

    candidates = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "qv", "cv", "nq", "nc")
    )
    return _score_topk(candidates, k)


def nprobe_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    grid: tuple[int, ...] = (1, 2, 4, 8, 16),
    k: int = 10,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Measured recall-vs-cost curve over the n_probe grid — the knob an
    IVF operator must set by MEASUREMENT before a 100 TB run, completing
    the tuning triptych with lsh_threshold_tuning (banding) and
    ann_index_rebuild_economics (retrain timing): raising n_probe scans
    more cells for more recall, and the right setting is read off the
    measured curve on the corpus itself, not the textbook estimate.

    Returns one row per grid value: (n_probe, n_queries, avg_scanned,
    recall_at_k) where avg_scanned = mean number of corpus vectors
    scored per query (the cells-scanned cost) and recall_at_k = fraction
    of exact brute-force top-k pairs the probed search recovers.

    One-pass shape: ONE ranked assignment of each query to ALL max(grid)
    nearest cells (probe rank attached — _assign_cells rank_out), one
    candidate join + cosine scoring, then the |grid|-row broadcast fold
    replays every threshold from the same scored frame (the
    lsh_threshold_tuning grid idiom) — never one search per grid point.
    Ground truth is the exact brute-force top-k (a gate-scale/sampled
    audit input at 100 TB, the same honesty posture as
    lsh_threshold_tuning's exact-Jaccard truth set)."""
    from laygo_python_spark.operators.similarity import (
        as_double_array,
        brute_force_topk,
        cosine_hoisted,
        l2_norm,
    )
    from ..session import local_rows_df

    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col, seed)
    spark = corpus.sparkSession
    gmax = min(max(grid), len(centroids))
    c = _assign_cells(corpus, centroids, "neighbor_id", "cv", id_col, vec_col, n_probe=1)
    c = c.withColumn("nc", l2_norm(F.col("cv")))
    # nq folded once per query row, pre-expansion — at gmax=16 the
    # post-expansion fold paid the norm 16x per query (r12 ADVICE).
    q = _assign_cells(
        queries.withColumn("__pre_nq", l2_norm(as_double_array(vec_col))),
        centroids, "query_id", "qv", id_col, vec_col,
        n_probe=gmax, rank_out="probe_rank", passthrough=("__pre_nq",),
    ).withColumnRenamed("__pre_nq", "nq")
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            cosine_hoisted(
                F.col("qv"), F.col("cv"), F.col("nq"), F.col("nc")
            ).alias("sim"),
        )
    )
    truth = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col).select(
        "query_id", "neighbor_id", F.lit(1).alias("__t")
    )
    grid_df = local_rows_df(spark, [(int(g),) for g in grid], "n_probe int")
    expanded = scored.join(
        F.broadcast(grid_df), F.col("probe_rank") <= F.col("n_probe")
    )
    w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    ranked = expanded.withColumn("__rnk", F.row_number().over(w)).join(
        F.broadcast(truth), ["query_id", "neighbor_id"], "left"
    )
    stats = ranked.groupBy("n_probe").agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("__n_scored"),
        F.sum(
            F.when((F.col("__rnk") <= k) & F.col("__t").isNotNull(), 1).otherwise(0)
        ).alias("__hits"),
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("__n_truth"))
    return (
        stats.crossJoin(F.broadcast(n_truth))
        .select(
            "n_probe",
            F.col("n_queries").cast("long").alias("n_queries"),
            F.round(
                F.col("__n_scored") / F.col("n_queries").cast("double"), 6
            ).alias("avg_scanned"),
            F.round(
                F.col("__hits") / F.col("__n_truth").cast("double"), 6
            ).alias(f"recall_at_{k}"),
        )
        .orderBy("n_probe")
    )


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> None:
    """Persist the IVF index the way the module docstring promises a
    100 TB deployment stores it: the corpus CELL-PARTITIONED on disk
    (``cells/cell=<i>/…`` — a probe later reads only its ``n_probe``
    directories via partition pruning) plus the trained centroids as a
    tiny parquet. Train once, search many — queries never pay the
    k-means job again and never scan unprobed cells. Pass ``centroids``
    to build at FIXED pre-trained centroids instead of training (the
    rebuild-for-comparison path of ``ivf_index_add``'s differential
    test, and the re-shard-without-retrain maintenance op)."""
    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col, seed)
    assigned = _assign_cells(corpus, centroids, "neighbor_id", "cv", id_col, vec_col, n_probe=1)
    artifact.write(path, "cells", assigned, partition_by="cell")
    artifact.write_matrix(corpus.sparkSession, path, "ivf", "centroids", centroids)


def ivf_search_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a stored IVF index. The probed cell ids are a
    bounded driver list (≤ n_centroids ints), turned into an ``isin``
    literal so Catalyst prunes unprobed ``cell=`` directories at the
    file-listing level — the corpus bytes of unprobed cells are never
    opened (plan-asserted in tests). Results match ``ivf_topk`` run
    with the same training params (pytest-pinned)."""
    centroids = artifact.read_matrix(spark, path, "ivf", "centroids")
    from laygo_python_spark.operators.similarity import (
        _score_topk,
        as_double_array,
        l2_norm,
    )

    # nq folded once per query row, pre-expansion (see ivf_topk note).
    q = _assign_cells(
        queries.withColumn("__pre_nq", l2_norm(as_double_array(vec_col))),
        centroids, "query_id", "qv", id_col, vec_col, n_probe=n_probe,
        passthrough=("__pre_nq",),
    ).withColumnRenamed("__pre_nq", "nq")
    q = pin(q)  # probed twice: cell list + the join
    probed = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    c = (
        artifact.read(spark, path, "ivf", "cells")
        .filter(F.col("cell").isin(probed))
        .withColumn("nc", l2_norm(F.col("cv")))
    )

    candidates = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "qv", "cv", "nq", "nc")
    )
    return _score_topk(candidates, k)


def ivf_index_add(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Grow a stored IVF index WITHOUT retraining: assign the new
    vectors to the FIXED stored centroids (one map-only matmul pass over
    the batch — the seen corpus is never read) and append them into the
    ``cells/cell=<i>/`` directories. Add-then-search ≡
    rebuild-at-fixed-centroids-then-search (pytest-pinned), because cell
    assignment depends only on (vector, centroids).

    **Retrain trigger**: fixed centroids drift from the data as the
    corpus grows — the observable symptom is CELL-SIZE SKEW
    (``ivf_index_stats``). Rule of thumb: retrain (full
    ``ivf_index_write``) when ``max_cell / mean_cell`` exceeds ~4 — a
    probe into a bloated cell scans that many times more candidates
    than the n_probe/n_centroids cost model assumes, and recall decays
    for queries near the drifted region. Appends themselves never
    degrade correctness of the ≡-fixed-centroid contract; skew only
    erodes the pruning economics.

    Returns the number of vectors appended."""
    centroids = artifact.read_matrix(spark, path, "ivf", "centroids")
    artifact.begin(spark, path)
    assigned = pin(_assign_cells(
        new_corpus, centroids, "neighbor_id", "cv", id_col, vec_col, n_probe=1
    ))  # one Python pass feeds both the append and the count
    artifact.append(spark, path, {"cells": assigned}, partition_by="cell")
    return assigned.count()


def ivf_index_compact(spark, path: str) -> dict:
    """Index maintenance after repeated ``ivf_index_add``: every append
    writes new file(s) into the ``cells/cell=<i>/`` directories it
    touches, so daily ingest accretes small files until probe-time
    listing/footer costs erode the pruned-scan economics the layout
    exists for. Rewrites each cell directory to ONE file (one hash
    shuffle, ``artifact.swap``), preserving the partition layout so
    ``ivf_search_indexed``'s pruning is untouched. Logical content is IDENTICAL — search before ≡ after
    (pytest-pinned). Centroids are not touched; this is the OPTIMIZE
    half of maintenance, ``ivf_index_write`` (retrain) is the other."""
    from ..sources.sinks import compact_partitioned

    artifact.begin(spark, path)
    return compact_partitioned(spark, f"{path}/cells", "cell")


def ivf_index_stats(spark, path: str) -> DataFrame:
    """(cell, n, skew) — per-cell population plus the index-wide
    ``max_cell / mean_cell`` ratio repeated on every row (one small
    aggregate; the frame is ≤ n_centroids rows). The maintenance
    dashboard for ``ivf_index_add``'s retrain trigger: alert when skew
    exceeds ~4 and schedule a retraining ``ivf_index_write``."""
    counts = (
        artifact.read(spark, path, "ivf", "cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.withColumn(
        "skew",
        F.max("n").over(Window.partitionBy(F.lit(1)))
        / F.avg("n").over(Window.partitionBy(F.lit(1))),
    )
