"""Diversity coreset via farthest-point sampling (k-center / Gonzalez
greedy, 2-approximation for the k-center objective) over an embedding
column — the diversity-selection complement of SemDeDup: where semantic
dedup REMOVES near-identical points, FPS KEEPS a maximally-spread
skeleton (coreset curation, active-learning seed pools, prototype
picking for evaluation suites).

Determinism contract (what makes this oracle-gatable): distances are
rounded to 6 decimals BEFORE they enter the running min, and every
argmax/argmin breaks ties on the id — so the selected centers and the
final assignment depend only on the rounded values, which both engines
compute identically (the embedding arithmetic is the same sequential
fold proven bit-exact against DuckDB by the cosine/ANN gates). No RNG
anywhere: the seed is the minimum id.

Scale shape: each of the k rounds is ONE distributed job — update the
running min-distance against the newly chosen center (map-only, the
center vector rides in the plan as a literal array) and take the
1-row argmax via TakeOrdered. Driver state is k (id, vector) pairs.
The frame localCheckpoints every few rounds so the plan/lineage stays
flat for large k. Total cost: k scans of (id, vector, mind) — the
classical FPS lower bound; no pairwise matrix ever materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .similarity import as_double_array


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean as the same sequential fold the cosine gates
    proved bit-identical to DuckDB's list kernels (zip -> square ->
    left-fold in index order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def farthest_point_sample(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_every: int = 4,
    vectorized: bool = False,
) -> list[tuple[int, list[float]]]:
    """Greedy k-center: seed = min id, then repeatedly pick the point
    with the LARGEST (rounded) distance to its nearest chosen center,
    id-ascending tiebreak. Returns the ordered [(id, vector)] list —
    driver state of size k, each vector a python list of doubles.

    ``vectorized=True`` swaps the JVM zip_with/aggregate fold (which is
    interpreted — higher-order functions never codegen) for numpy
    matmuls over Arrow batches, recomputing each round's min-distance
    against ALL chosen centers statelessly (n·k²/2 numpy flops total vs
    n·k interpreted fold steps — ~10x faster measured at 500k vectors,
    tools/selection_scale_smoke.py) with a per-batch partial argmax so
    only one candidate row per batch reaches the driver. Same greedy
    trajectory up to last-ulp summation order (distances round to 6
    before comparison either way); keep the default for the bit-exact
    oracle, use vectorized for scale."""
    if k < 1:
        raise ValueError("k must be >= 1")
    base = df.select(F.col(id_col).alias("__id"), as_double_array(vec_col).alias("__v"))

    seed = base.orderBy("__id").limit(1).collect()
    if not seed:
        return []
    centers: list[tuple[int, list[float]]] = [(seed[0]["__id"], list(seed[0]["__v"]))]
    if vectorized:
        return _fps_rounds_numpy(base, k, centers)

    state = base.withColumn(
        "__mind",
        F.round(
            _sq_dist(F.col("__v"), F.lit(centers[0][1]).cast("array<double>")), 6
        ),
    )
    for step in range(1, k):
        far = (
            state.orderBy(F.desc("__mind"), F.asc("__id")).limit(1).collect()
        )
        if not far or far[0]["__mind"] <= 0.0:
            break  # fewer than k distinct points — every residual is a dup
        centers.append((far[0]["__id"], list(far[0]["__v"])))
        if step == k - 1:
            break  # the last center needs no min-distance refresh
        state = state.withColumn(
            "__mind",
            F.least(
                F.col("__mind"),
                F.round(
                    _sq_dist(F.col("__v"), F.lit(centers[-1][1]).cast("array<double>")),
                    6,
                ),
            ),
        )
        if step % checkpoint_every == 0:
            # Lazy lineage truncation, not a pin: nothing is read twice.
            state = state.localCheckpoint(eager=False)
    return centers


def _fps_rounds_numpy(
    base: DataFrame, k: int, centers: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """Vectorized FPS rounds: per round, one mapInPandas pass computes
    each batch's (rounded) min squared distance to every chosen center
    via ||x||² - 2x·Cᵀ + ||c||² and emits only the batch-local argmax —
    the global argmax is a TakeOrdered over batch candidates. Stateless
    across rounds (no checkpoint lineage to manage)."""
    import numpy as np

    for _ in range(1, k):
        cmat = np.array([v for _, v in centers], dtype=np.float64)
        c_sq = (cmat**2).sum(axis=1)

        def run(batches, _c=cmat, _csq=c_sq):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.array(list(pdf["__v"]), dtype=np.float64)
                d = (mat**2).sum(axis=1)[:, None] - 2.0 * (mat @ _c.T) + _csq[None, :]
                mind = np.round(np.maximum(d.min(axis=1), 0.0), 6)
                ids = pdf["__id"].to_numpy()
                # batch-local argmax, id-asc tiebreak
                best = np.lexsort((ids, -mind))[0]
                yield pd.DataFrame({"__id": [int(ids[best])], "__mind": [float(mind[best])]})

        far = (
            base.mapInPandas(run, "__id long, __mind double")
            .orderBy(F.desc("__mind"), F.asc("__id"))
            .limit(1)
            .collect()
        )
        if not far or far[0]["__mind"] <= 0.0:
            break
        fid = far[0]["__id"]
        vec = base.filter(F.col("__id") == fid).collect()[0]["__v"]
        centers.append((fid, list(vec)))
    return centers


def assign_to_centers(
    df: DataFrame,
    centers: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = False,
) -> DataFrame:
    """Nearest-center assignment: (id_col, center_id, dist) with dist
    the ROUNDED squared euclidean used throughout (argmin tiebreak on
    center_id asc). The centers ride as one literal k-row struct array
    inlined in the plan — exploded per row, no join, no shuffle until
    the per-id argmin (a row_number window keyed by the id).

    ``vectorized=True``: one shuffle-FREE mapInPandas pass — the k
    centers ship in the closure, each Arrow batch scores via one numpy
    matmul and emits its rows' argmin directly (no explode, no window).
    Same assignment up to last-ulp summation order; the scale path."""
    if vectorized:
        return _assign_numpy(df, centers, id_col, vec_col)
    pairs = df.select(
        F.col(id_col), as_double_array(vec_col).alias("__v")
    ).select(
        id_col,
        "__v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cid).cast("long").alias("center_id"),
                        F.lit(vec).cast("array<double>").alias("cv"),
                    )
                    for cid, vec in centers
                ]
            )
        ).alias("c"),
    )
    scored = pairs.select(
        id_col,
        F.col("c.center_id").alias("center_id"),
        F.round(_sq_dist(F.col("__v"), F.col("c.cv")), 6).alias("dist"),
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("dist"), F.asc("center_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _assign_numpy(
    df: DataFrame,
    centers: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    import numpy as np

    cids = np.array([cid for cid, _ in centers], dtype=np.int64)
    cmat = np.array([v for _, v in centers], dtype=np.float64)
    c_sq = (cmat**2).sum(axis=1)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            d = np.round(
                np.maximum(
                    (mat**2).sum(axis=1)[:, None] - 2.0 * (mat @ cmat.T) + c_sq[None, :],
                    0.0,
                ),
                6,
            )
            # argmin with center-id-asc tiebreak: centers are scanned in
            # list order, argmin returns the FIRST minimum — sort center
            # columns by id once so "first" == "lowest id".
            order = np.argsort(cids, kind="stable")
            dd = d[:, order]
            pick = dd.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "center_id": cids[order][pick],
                    "dist": dd[np.arange(len(dd)), pick],
                }
            )

    base = df.select(id_col, vec_col)
    return base.mapInPandas(run, f"{id_col} long, center_id long, dist double")
