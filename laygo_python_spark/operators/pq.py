"""Product quantization (PQ) — compressed-domain ANN scoring.

Third leg of the ANN family: SRP-LSH (operators/similarity.py, no
training, distribution-free) and IVF (operators/ivf.py, partition
pruning) cut the CANDIDATE COUNT; PQ cuts the BYTES PER CANDIDATE. A
dim=64 float32 vector is 256 bytes; its PQ code at m=8 subspaces × 256
centroids is 8 bytes — 32×. At 100 TB of embeddings that is the
difference between scanning vectors and scanning codes: the corpus is
stored/shuffled as codes, and queries score candidates with per-subspace
lookup tables (ADC — asymmetric distance computation, Jégou et al. 2011)
instead of touching raw floats. Compose with IVF in production
(IVF cells → PQ codes within each cell); standalone here so each index's
recall is measurable in isolation.

Training is a bounded driver-side sample (same posture as IVF's k-means:
codebooks are m×ksub×dsub doubles — a few KB — shipped in task closures),
with an explicit size guard like brute_force_topk's. Encode and score
run in numpy over Arrow batches; nothing per-row, nothing JVM-interpreted.

Cosine note: vectors are L2-normalized before train/encode, so the
inner-product ADC score approximates cosine and ranks identically to the
exact operators' cosine for well-quantized vectors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import artifact
from ..session import local_rows_df, pin

_MAX_TRAIN = 200_000  # rows the driver may collect for codebook training


def _normalize(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return mat / n


def _kmeans_1sub(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Tiny seeded Lloyd's for one subspace (x: (n, dsub)) — numpy only,
    deterministic, good enough for codebooks (exact ML k-means is
    overkill for 8-dim subspaces)."""
    rng = np.random.RandomState(seed)
    k = min(k, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)].copy()
    x2 = (x**2).sum(axis=1)[:, None]  # (n, 1), constant across iters
    for _ in range(iters):
        # ||x-c||² = ||x||² - 2x·c + ||c||² as one (n,k) matmul — the
        # (n,k,dsub) broadcast tensor this replaces made training ~50×
        # slower at 50k rows × 32 subspaces.
        d2 = x2 - 2.0 * (x @ cent.T) + (cent**2).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        # Mean per cluster via weighted bincounts (C-speed; np.add.at's
        # scattered writes were the next bottleneck after the matmul fix).
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.stack(
            [np.bincount(assign, weights=x[:, d_], minlength=k) for d_ in range(x.shape[1])],
            axis=1,
        )
        nonempty = counts > 0
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]
    return cent


def train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 32,
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 10,
) -> np.ndarray:
    """(m × ksub × dsub) codebooks from a bounded corpus sample.

    Raises if the training collect would exceed the driver guard —
    sample upstream (``df.limit``/hash-sample) for bigger corpora; the
    codebooks only need a representative sample, not the corpus."""
    n = corpus.count()
    if n > _MAX_TRAIN:
        raise ValueError(
            f"train_codebooks: {n} rows exceeds the {_MAX_TRAIN} driver guard; "
            "train on a bounded sample (e.g. corpus.limit(100_000))"
        )
    mat = np.array(
        [r[0] for r in corpus.select(vec_col).collect()], dtype=np.float64
    )
    mat = _normalize(mat)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"train_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [
            _kmeans_1sub(mat[:, s * dsub : (s + 1) * dsub], ksub, iters, seed + s)
            for s in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_col: str | None = None,
) -> DataFrame:
    """(id, codes array<int>) — m small ints per vector; the form the
    corpus is STORED in (write once, scan codes forever). ``dist_col``
    additionally emits the TRUE per-vector quantization distortion
    Σ_s ||x_s − codebook[s, code_s]||² over the L2-normalized vector —
    free inside the same matmul pass (the argmin already computes the
    incomplete d2; only the per-subspace ||x_s||² fold is added), and
    the measurement pq_m_distortion_curve aggregates."""
    import pandas as pd

    m, _, dsub = codebooks.shape

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            codes = np.empty((len(mat), m), dtype=np.int32)
            dist = np.zeros(len(mat)) if dist_col else None
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]  # (n, dsub)
                cb = codebooks[s]  # (ksub, dsub)
                d2 = (cb**2).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
                codes[:, s] = d2.argmin(axis=1)
                if dist_col:
                    dist += d2[np.arange(len(mat)), codes[:, s]] + (sub**2).sum(axis=1)
            out = {id_col: pdf[id_col].to_numpy(), "codes": codes.tolist()}
            if dist_col:
                out[dist_col] = dist
            yield pd.DataFrame(out)

    schema = f"{id_col} long, codes array<int>"
    if dist_col:
        schema += f", {dist_col} double"
    return df.select(id_col, vec_col).mapInPandas(run, schema=schema)


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: each query builds an (m × ksub) inner-product lookup
    table against the codebooks, then every corpus CODE row is scored by
    m table lookups — no raw corpus floats anywhere. Queries ride in the
    task closure (bounded by the same guard as training); per-batch
    partial top-k keeps the shuffle at candidates × queries, and a final
    window takes the global top-k. Returns (query_id, neighbor_id, sim,
    rank) like the other ANN operators."""
    import pandas as pd

    m, ksub, dsub = codebooks.shape
    qrows = queries.select(id_col, vec_col).collect()
    if len(qrows) > 10_000:
        raise ValueError("pq_topk: query side exceeds 10k; batch your queries")
    qids = np.array([r[0] for r in qrows])
    qmat = _normalize(np.array([r[1] for r in qrows], dtype=np.float64))  # (q, dim)
    # (q, m, ksub): LUT[q, s, c] = <query_s, codebook[s, c]>
    lut = np.stack(
        [qmat[:, s * dsub : (s + 1) * dsub] @ codebooks[s].T for s in range(m)], axis=1
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            nids = pdf[id_col].to_numpy()
            # sims[q, n] = Σ_s LUT[q, s, codes[n, s]] — m column-gathers
            # of the (q, ksub) tables, no raw vectors anywhere.
            sims = np.zeros((len(qids), len(codes)))
            for s in range(m):
                sims += lut[:, s, :][:, codes[:, s]]
            # Drop self-matches BEFORE the partial top-k, or a batch
            # containing the query vector yields only k-1 real hits.
            sims[nids[None, :] == qids[:, None]] = -np.inf
            top = min(k, sims.shape[1])
            idx = np.argpartition(-sims, top - 1, axis=1)[:, :top]
            out_q = np.repeat(qids, top)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": nids[idx].reshape(-1),
                    "sim": np.take_along_axis(sims, idx, axis=1).reshape(-1),
                }
            )

    scored = corpus_codes.mapInPandas(run, schema="query_id long, neighbor_id long, sim double")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ — the production composition: IVF cells prune WHICH codes
    a query touches (partition pruning at write time), PQ/ADC prunes the
    BYTES per touched code. Candidates = the query's ``n_probe`` nearest
    cells, joined cell-to-cell; scoring = m table lookups per candidate
    code. Neither raw corpus floats nor out-of-cell codes are read.

    Standalone ``pq_topk`` scans every code (exhaustive-ADC); this scans
    ~n_probe/n_centroids of them — the knob that keeps query cost flat
    as the corpus grows, with the same recall trade-offs as IVF."""
    import pandas as pd

    from laygo_python_spark.operators.ivf import _assign_cells, train_centroids

    m, ksub, dsub = codebooks.shape
    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col, seed)
    # Corpus: one (id, codes, cell) row per vector, in ONE fused Arrow
    # pass (r13 — was pq_encode ⋈ _assign_cells joined on id: two
    # corpus scans, two Python passes and an id shuffle for columns
    # born from the same batch).
    corpus_cells = _assign_encode(corpus, centroids, codebooks, id_col, vec_col)
    return _adc_probe_topk(
        corpus_cells, queries, codebooks, centroids, k, n_probe, id_col, vec_col
    )


def _assign_encode(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, cell int) in ONE Arrow pass — the fused
    form of ``pq_encode(df) ⋈ _assign_cells(df, n_probe=1)``: both
    columns derive from the same vector batch, so building them as two
    separate mapInPandas passes paid the corpus scan and the Python
    boundary twice PLUS an id-keyed shuffle join to stitch columns that
    were born side by side (guide §2.4: remove shuffles outright).
    Values are identical by construction: the cell is the same
    stable-argsort nearest centroid over the RAW vector that
    ``_assign_cells`` computes, the codes the same per-subspace argmin
    over the L2-NORMALIZED vector that ``pq_encode`` computes."""
    import pandas as pd

    m, _, dsub = codebooks.shape
    cT = centroids.T
    c_norm2 = (centroids**2).sum(axis=1)[None, :]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.array(list(pdf[vec_col]), dtype=np.float64)
            # cell: argmin ||x - c||² with the stable lowest-id tiebreak
            # (same expression as _assign_cells, n_probe=1)
            d2c = c_norm2 - 2.0 * (raw @ cT)
            cell = np.argsort(d2c, axis=1, kind="stable")[:, 0]
            # codes: per-subspace argmin over the normalized vector
            # (same expression as pq_encode)
            mat = _normalize(raw)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                cb = codebooks[s]
                d2 = (cb**2).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": codes.tolist(), "cell": cell}
            )

    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} long, codes array<int>, cell int"
    )


def _assign_cells_driver(qrows, centroids: np.ndarray, n_probe: int) -> np.ndarray:
    """The query-side cell assignment computed ON THE DRIVER from the
    already-collected query rows — bit-identical numpy to
    ``_assign_cells`` (same d2 expression, same stable argsort). The
    query side of an IVF-PQ search is a bounded probe set (≤ 10k rows,
    enforced below) that the ADC scorer collects anyway for its LUT, so
    a distributed assignment pass spent a whole Arrow stage plus a
    distinct-collect job re-deriving ints the driver could compute in
    microseconds from data it already holds."""
    qmat_raw = np.array([r[1] for r in qrows], dtype=np.float64)
    cT = centroids.T
    c_norm2 = (centroids**2).sum(axis=1)[None, :]
    n_probe = min(n_probe, len(centroids))
    d2 = c_norm2 - 2.0 * (qmat_raw @ cT)
    return np.argsort(d2, axis=1, kind="stable")[:, :n_probe]


def _adc_probe_topk(
    corpus_cells: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    centroids: np.ndarray,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    qrows=None,
) -> DataFrame:
    """Shared IVF-PQ search tail: probe the query's ``n_probe`` cells,
    ADC-score the cell-local codes, global top-k. ``corpus_cells`` is
    the (id, codes, cell) frame — built live by ``ivfpq_topk``, scanned
    partition-pruned from parquet by ``ivfpq_search_indexed``. ONE
    definition so direct and stored-index searches (and their
    tie-breaks) cannot drift apart — the same discipline as
    similarity._score_topk."""
    import pandas as pd

    m, ksub, dsub = codebooks.shape
    if qrows is None:
        qrows = queries.select(id_col, vec_col).collect()
    if len(qrows) > 10_000:
        raise ValueError("ivfpq search: query side exceeds 10k; batch your queries")
    qids = np.array([r[0] for r in qrows])
    qmat = _normalize(np.array([r[1] for r in qrows], dtype=np.float64))
    lut = np.stack(
        [qmat[:, s * dsub : (s + 1) * dsub] @ codebooks[s].T for s in range(m)], axis=1
    )
    qpos = {int(q): i for i, q in enumerate(qids)}

    # Query cells assigned driver-side from the rows already collected
    # for the LUT (see _assign_cells_driver) — one local frame instead
    # of a distributed Arrow pass over ≤10k rows.
    order = _assign_cells_driver(qrows, centroids, n_probe)
    q_cells = local_rows_df(
        queries.sparkSession,
        [(int(q), int(c)) for q, row in zip(qids, order) for c in row],
        "query_id long, cell int",
    )
    cand = corpus_cells.join(F.broadcast(q_cells), "cell").filter(
        F.col("query_id") != F.col(id_col)
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qidx = pdf["query_id"].map(qpos).to_numpy()
            cmat = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            sims = np.zeros(len(pdf))
            for s in range(m):
                sims += lut[qidx, s, cmat[:, s]]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "sim": sims,
                }
            )

    scored = cand.select("query_id", id_col, "codes").mapInPandas(
        run, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_index_write(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist the PQ index: the encoded corpus (``codes/`` — m small
    ints per vector, the write-once-scan-codes-forever form) plus the
    codebooks flattened to a tiny parquet (``codebooks/``: one row per
    (subspace, code) centroid). Completes the stored-artifact ANN family
    next to the cell-partitioned IVF index and the LSH/SimHash tables:
    floats are read once at build; every later search scans codes."""
    codebooks = train_codebooks(corpus, m, ksub, vec_col, seed)
    codes = pq_encode(corpus, codebooks, id_col, vec_col).withColumnRenamed(id_col, "vec_id")
    artifact.write(path, "codes", codes)
    artifact.write_matrix(corpus.sparkSession, path, "pq", "codebooks", codebooks)


def pq_index_read(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """(corpus codes DataFrame with ids in ``vec_id``, codebooks ndarray)
    from a stored index."""
    codebooks = artifact.read_matrix(spark, path, "pq", "codebooks")
    return artifact.read(spark, path, "pq", "codes"), codebooks


def pq_index_compact(spark, path: str, target_mb: int = 128) -> dict:
    """Maintenance after repeated ``pq_encode_append``: ``codes/`` is a
    flat directory, so appends accrete files linearly in batch count;
    rewrite it to ⌈bytes/target_mb⌉ right-sized files via the generic
    in-place compactor (``sources.sinks.compact_files``). ADC
    search before ≡ after (pytest-pinned); codebooks untouched."""
    from ..sources.sinks import compact_files

    artifact.begin(spark, path)
    return compact_files(spark, f"{path}/codes", target_mb=target_mb)


def pq_encode_append(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Grow a stored PQ index WITHOUT retraining: encode the new vectors
    with the FIXED stored codebooks (one map-only pass — the seen codes
    are never read) and append them into ``codes/``. Encode-then-append ≡
    rebuild-encoding-at-fixed-codebooks (pytest-pinned): a code depends
    only on (vector, codebooks), so ADC search over the appended index
    equals search over a from-scratch encode of the union.

    **Retrain trigger** (same drift economics as ``ivf_index_add``):
    codebooks quantize well only near the distribution they were trained
    on — the observable symptom is rising quantization error on new
    batches. Monitor ``mean ||x - decode(encode(x))||²`` per appended
    batch (a by-product of the encode matmul); retrain
    (``pq_index_write``) when it sustains above ~1.5× the build-time
    error. Appends never break the ≡-fixed-codebook contract; drift only
    erodes ADC score fidelity.

    Returns the number of codes appended."""
    codebooks = artifact.read_matrix(spark, path, "pq", "codebooks")
    artifact.begin(spark, path)
    # one Python pass feeds both the append and the count
    codes = pin(pq_encode(new_corpus, codebooks, id_col=id_col, vec_col=vec_col))
    artifact.append(spark, path, {"codes": codes.withColumnRenamed(id_col, "vec_id")})
    return codes.count()


def ivfpq_index_write(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    codebooks: np.ndarray | None = None,
    centroids: np.ndarray | None = None,
) -> None:
    """Persist the COMPOSED production index — IVF cells × PQ codes:
    the corpus stored as cell-PARTITIONED code rows
    (``codes/cell=<i>/`` — a probe reads only its n_probe directories
    via partition pruning, and each pruned byte is an m-byte code, not
    a raw vector) plus the trained centroids and codebooks as tiny
    parquets. This is the shape the module docstring promises for
    100 TB: floats are read once at build; every later search scans
    only probed cells' codes. Pass ``codebooks``/``centroids`` to build
    at fixed pre-trained state (the committed oracle artifacts, or the
    rebuild path of the add≡rebuild differential test)."""
    from laygo_python_spark.operators.ivf import _assign_cells, train_centroids

    if codebooks is None:
        codebooks = train_codebooks(corpus, m, ksub, vec_col, seed)
    if centroids is None:
        centroids = train_centroids(corpus, n_centroids, vec_col, seed)
    rows = _assign_encode(corpus, centroids, codebooks, id_col, vec_col)
    artifact.write(path, "codes", rows.withColumnRenamed(id_col, "vec_id"), partition_by="cell")
    spark = corpus.sparkSession
    artifact.write_matrix(spark, path, "ivfpq", "centroids", centroids)
    artifact.write_matrix(spark, path, "ivfpq", "codebooks", codebooks)


def _ivfpq_index_params(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, codebooks) from a stored composed index."""
    return (
        artifact.read_matrix(spark, path, "ivfpq", "centroids"),
        artifact.read_matrix(spark, path, "ivfpq", "codebooks"),
    )


def ivfpq_search_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a stored IVF-PQ index. The probed cell ids become
    an ``isin`` literal so Catalyst prunes unprobed ``cell=``
    directories at file-listing time (plan-asserted in tests, same as
    ``ivf_search_indexed``) — and what the probe DOES read is m-byte
    codes, never raw vectors. Results match ``ivfpq_topk`` at the same
    trained state (pytest-pinned)."""
    centroids, codebooks = _ivfpq_index_params(spark, path)
    # Queries collected ONCE: the probed-cell list comes from the same
    # driver-side assignment the ADC tail reuses (r13 — was a
    # distributed _assign_cells pass + a distinct-collect job, then a
    # SECOND assignment pass inside the tail).
    qrows = queries.select(id_col, vec_col).collect()
    order = _assign_cells_driver(qrows, centroids, n_probe)
    probed = sorted({int(c) for c in order.reshape(-1)})
    corpus_cells = (
        artifact.read(spark, path, "ivfpq", "codes")
        .filter(F.col("cell").isin(probed))
        .withColumnRenamed("vec_id", id_col)
    )
    return _adc_probe_topk(
        corpus_cells, queries, codebooks, centroids, k, n_probe, id_col, vec_col,
        qrows=qrows,
    )


def ivfpq_index_add(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    count_rows: bool = True,
) -> int:
    """Grow a stored IVF-PQ index WITHOUT retraining: assign + encode
    the new vectors at the FIXED stored centroids/codebooks (map-only;
    the seen corpus is never read) and append into the
    ``codes/cell=<i>/`` directories touched. Add-then-search ≡
    rebuild-at-fixed-state-then-search (pytest-pinned) because both
    cell and code depend only on (vector, trained state). Retrain
    triggers: cell skew (``ivf_index_stats`` economics) and rising
    quantization error (``pq_encode_append`` docstring) — the composed
    index inherits both. Returns rows appended."""
    centroids, codebooks = _ivfpq_index_params(spark, path)
    artifact.begin(spark, path)
    rows = pin(_assign_encode(
        new_corpus, centroids, codebooks, id_col, vec_col
    ))  # one Python pass feeds both the append and the count
    artifact.append(
        spark, path, {"codes": rows.withColumnRenamed(id_col, "vec_id")}, partition_by="cell"
    )
    if not count_rows:
        return 0
    return rows.count()
