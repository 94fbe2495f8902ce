"""Similarity-search + multimodal queries over ``embeddings`` /
``documents`` (see operators/similarity.py and operators/multimodal.py).

The brute-force cosine top-k carries a full DuckDB oracle — empirically
the zip_with/aggregate double fold in Spark is bit-identical to DuckDB's
list_cosine_similarity over CAST(... AS DOUBLE[]), so raw sims rank
identically on both engines (deterministic neighbor_id tiebreak).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.operators import multimodal, similarity
from laygo_python_spark.queries import query
from laygo_python_spark.session import read_table as _t
from laygo_python_spark.session import pin


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a key-only projection up to cluster
    parallelism before a CPU-bound codec UDF stage.

    The synthetic-codec gates cost ~1 ms of pure-Python work per row,
    so stage parallelism — not I/O — decides wall clock. A small
    fixture arrives as ONE parquet split (a 5k-row file can't be split
    below row-group granularity), which would pin the whole encode/
    decode stage to a single core. Shuffling the 8-byte key column is
    ~free next to the UDF cost. Never coalesces: a source already
    wider than the cluster (the 100 TB layout) keeps its partitioning.
    """
    sc = df.sparkSession.sparkContext
    want = sc.defaultParallelism
    have = df.rdd.getNumPartitions()
    return df.repartition(want) if have < want else df


@query(
    "embedding_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.v, c.v) AS sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for query vectors vec_id < 5 —
    the brute-force ANN baseline. Scoring is JVM-side; the query set is
    broadcast so the corpus never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


@query(
    "embedding_cosine_topk_fast",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.v, c.v) AS sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, round(sim, 9) AS sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def embedding_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10, vectorized path: one numpy matmul per Arrow
    batch with per-batch partial top-k (similarity.py:92-132) — ~10×
    the fold path and the variant to run at scale. Exactness vs the fold
    path is asserted in tests/test_similarity.py (identical rankings;
    sims differ only in float SUMMATION ORDER, ~1e-15 rel). ORACLE-gated
    as of r4: sim rounded to 9 decimals absorbs the reduction-order ulps
    while ranks come from each engine's own raw ordering — a hash match
    therefore ALSO certifies that no ranking flip occurred, the stronger
    claim."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, vectorized=True)
    return out.select(
        "query_id", "neighbor_id", F.round("sim", 9).alias("sim"), F.col("rank").cast("int").alias("rank")
    )


def _srp_bucket_union(n_planes, n_tables, dim, seed):
    """The SRP bucket table as a UNION ALL over tables — hyperplane
    floats embedded as literals (deterministic Box-Muller-over-LCG,
    similarity._srp_planes). Shared by the near-dup and top-k oracles."""
    from laygo_python_spark.operators.similarity import _srp_planes

    tables = []
    for t in range(n_tables):
        planes = _srp_planes(dim, n_planes, seed + 1000 * t)
        bucket = " + ".join(
            "(CASE WHEN list_inner_product(v, [{lits}]) > 0 THEN {w} ELSE 0 END)".format(
                lits=", ".join(repr(x) for x in p), w=1 << i
            )
            for i, p in enumerate(planes)
        )
        tables.append(f"SELECT vec_id, v, {t} AS tbl, ({bucket}) AS bucket FROM e")
    return "\n      UNION ALL ".join(tables)



def _ann_lsh_oracle(k=10, n_planes=4, n_tables=8, dim=64, seed=42):
    union = _srp_bucket_union(n_planes, n_tables, dim, seed)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS (
      {union}),
    q AS (SELECT * FROM bk WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bk c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
       AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(x.v, y.v) AS sim
      FROM cand JOIN e x ON x.vec_id = cand.query_id
                JOIN e y ON y.vec_id = cand.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


@query("ann_lsh_topk", oracle=_ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-k for the same query set — the
    scale path (candidates limited to the query's bucket). Recall vs the
    brute-force baseline is asserted in tests/test_similarity.py.
    ORACLE-gated as of r4: "approximate" means approximate RELATIVE TO
    brute force, but the algorithm itself is deterministic — the
    generated SQL replays the seed-derived hyperplanes, bucketing,
    candidate set, scoring and ranking exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


@query("ann_srp_index_add", oracle=_ann_lsh_oracle())
def ann_srp_index_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-SRP-index GROWTH end-to-end: build the bucket-partitioned
    index from the even half of the corpus, ``srp_index_add`` the odd
    half (keyed with the STORED params, appended into its bucket
    directories — only the batch is hashed), then search against the
    grown artifact. The oracle is ``ann_lsh_topk``'s unchanged: the
    seed-derived hyperplanes make add ≡ rebuild exact, so the DuckDB
    replay over the FULL corpus must hash-match the search output —
    the differential-equivalence idiom applied to SRP index state."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.similarity import (
        srp_index_add,
        srp_index_write,
        srp_search_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="srp_idx_add_")
    try:
        srp_index_write(emb.filter(F.col("vec_id") % 2 == 0), path, n_planes=4, n_tables=8)
        srp_index_add(spark, path, emb.filter(F.col("vec_id") % 2 == 1))
        out = srp_search_indexed(spark, path, emb.filter(F.col("vec_id") < 5), k=10)
        return pin(out.select(
            "query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank")
        ))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _ann_key_ctes() -> str:
    """Shared oracle scaffolding for the trained-ANN family: the corpus
    as DOUBLE[] plus the exact-integer artifact key (count, signature —
    see tools/train_ann_artifacts.py for why every step is
    cross-engine-exact)."""
    return """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    key AS (SELECT count(*) AS nc, CAST(sum(floor(v[1]*1048576.0)) AS BIGINT) AS ks FROM e)"""


def _ivf_cell_ctes(k_cells: int, n_probe: int) -> str:
    """Cell assignment replay: d2 = ||c||² - 2 x·c (the operator skips
    ||x||² — it cancels in the argmin), corpus rows take their single
    nearest cell, queries their n_probe nearest; ties break to the
    lowest cell id like numpy's argsort."""
    from laygo_python_spark.operators.ann_artifacts import IVF_PATH

    return f"""cent AS (SELECT a.cell, a.centroid FROM read_parquet('{IVF_PATH}') a, key
             WHERE a.k = {k_cells} AND a.n_corpus = key.nc AND a.sig = key.ks),
    d AS (SELECT e.vec_id, c.cell,
                 list_dot_product(c.centroid, c.centroid)
                 - 2*list_dot_product(e.v, c.centroid) AS d2
          FROM e, cent c),
    assign AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM d) WHERE rn = 1),
    qprobe AS (SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM d WHERE vec_id < 5) WHERE rn <= {n_probe})"""


def _pq_code_ctes(m: int, ksub: int, dsub: int) -> str:
    """PQ replay: L2-normalize, slice into m subspaces, encode each
    corpus vector as its per-subspace nearest code (argmin ties to the
    lowest code like numpy); ``sub`` doubles as the query-side LUT
    input (ADC sim = Σ_s q_sub · codebook[s, code])."""
    from laygo_python_spark.operators.ann_artifacts import PQ_PATH

    return f"""nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
    en AS (SELECT vec_id,
                  list_transform(v, x -> x / (CASE WHEN nv = 0 THEN 1.0 ELSE nv END)) AS vn
           FROM nrm),
    cb AS (SELECT a.s, a.code, a.centroid FROM read_parquet('{PQ_PATH}') a, key
           WHERE a.m = {m} AND a.ksub = {ksub} AND a.n_corpus = key.nc AND a.sig = key.ks),
    sub AS (SELECT vec_id, sp.i AS s, vn[sp.i*{dsub}+1 : sp.i*{dsub}+{dsub}] AS xs
            FROM en, (SELECT unnest(range({m})) AS i) sp),
    enc AS (SELECT vec_id, s, code FROM (
        SELECT u.vec_id, u.s, c.code,
               row_number() OVER (PARTITION BY u.vec_id, u.s ORDER BY
                 list_dot_product(c.centroid, c.centroid)
                 - 2*list_dot_product(u.xs, c.centroid), c.code) AS rn
        FROM sub u JOIN cb c ON c.s = u.s) WHERE rn = 1)"""


_ANN_RANK_TAIL = """SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= 10"""


def _ivf_oracle(k_cells: int = 16, n_probe: int = 2) -> str:
    return f"""WITH {_ann_key_ctes()},
    {_ivf_cell_ctes(k_cells, n_probe)},
    cand AS (SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
             FROM qprobe q JOIN assign a USING (cell)
             WHERE a.vec_id <> q.query_id),
    scored AS (SELECT c.query_id, c.neighbor_id, list_cosine_similarity(x.v, y.v) AS sim
               FROM cand c JOIN e x ON x.vec_id = c.query_id
                           JOIN e y ON y.vec_id = c.neighbor_id)
    {_ANN_RANK_TAIL}"""


def _pq_oracle(m: int = 32, ksub: int = 64, dsub: int = 2) -> str:
    return f"""WITH {_ann_key_ctes()},
    {_pq_code_ctes(m, ksub, dsub)},
    scored AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                      sum(list_dot_product(q.xs, c.centroid)) AS sim
               FROM enc n JOIN cb c ON c.s = n.s AND c.code = n.code
               JOIN sub q ON q.s = n.s
               WHERE q.vec_id < 5 AND q.vec_id <> n.vec_id
               GROUP BY 1, 2)
    {_ANN_RANK_TAIL}"""


def _ivfpq_oracle(k_cells: int = 8, n_probe: int = 4, m: int = 32, ksub: int = 64, dsub: int = 2) -> str:
    return f"""WITH {_ann_key_ctes()},
    {_ivf_cell_ctes(k_cells, n_probe)},
    {_pq_code_ctes(m, ksub, dsub)},
    cand AS (SELECT q.query_id, a.vec_id AS neighbor_id
             FROM qprobe q JOIN assign a USING (cell)
             WHERE a.vec_id <> q.query_id),
    scored AS (SELECT c.query_id, c.neighbor_id,
                      sum(list_dot_product(qs.xs, cbk.centroid)) AS sim
               FROM cand c
               JOIN enc n ON n.vec_id = c.neighbor_id
               JOIN cb cbk ON cbk.s = n.s AND cbk.code = n.code
               JOIN sub qs ON qs.vec_id = c.query_id AND qs.s = n.s
               GROUP BY 1, 2)
    {_ANN_RANK_TAIL}"""


@query("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (operators/ivf.py): k-means cells + 2-probe
    search — the trained-index complement to the SRP-LSH path. Searches
    at the COMMITTED centroid artifact (artifacts/ann/, trained once by
    tools/train_ann_artifacts.py), which is what makes a trained index
    oracle-gateable: DuckDB reads the same centroids and replays
    assignment, probing and cosine scoring — the reference's
    cross-implementation equivalence idiom
    (performance_test.py:516-539) applied to trained state. Corpora
    without a committed artifact train live (rows-only semantics);
    recall vs brute force stays asserted in tests/test_ivf.py."""
    from laygo_python_spark.operators.ann_artifacts import load_ivf_centroids
    from laygo_python_spark.operators.ivf import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cent = load_ivf_centroids(sf_dir, k=16)
    out = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_centroids=16, n_probe=2, centroids=cent
    )
    return out.select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


@query("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-k (operators/pq.py): the
    corpus is scored as m-byte codes via ADC lookup tables — the
    compressed-domain complement to LSH (candidate pruning) and IVF
    (partition pruning). Encodes against the COMMITTED codebook artifact
    (see ann_ivf_topk) so DuckDB can replay normalize → encode → ADC
    scoring end-to-end; recall vs brute force stays asserted in
    tests/test_pq.py."""
    from laygo_python_spark.operators.ann_artifacts import load_pq_codebooks
    from laygo_python_spark.operators.pq import pq_encode, pq_topk, train_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    cb = load_pq_codebooks(sf_dir, m=32, ksub=64)
    if cb is None:
        cb = train_codebooks(emb, m=32, ksub=64)
    out = pq_topk(pq_encode(emb, cb), emb.filter(F.col("vec_id") < 5), cb, k=10)
    return out.select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed approximate top-k (operators/pq.ivfpq_topk): cell
    pruning × compressed-code scoring — the production index shape, at
    the committed centroid (k=8) + codebook artifacts so the full
    composition (assign → probe → encode → ADC) replays in SQL. Recall
    and pruning are pinned in tests/test_pq.py."""
    from laygo_python_spark.operators.ann_artifacts import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from laygo_python_spark.operators.pq import ivfpq_topk, train_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    cb = load_pq_codebooks(sf_dir, m=32, ksub=64)
    if cb is None:
        cb = train_codebooks(emb, m=32, ksub=64)
    cent = load_ivf_centroids(sf_dir, k=8)
    out = ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5), cb, k=10, n_centroids=8, n_probe=4, centroids=cent
    )
    return out.select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))


def _near_dups_oracle(threshold=0.35, n_planes=8, n_tables=4, dim=64, seed=42):
    """Generated oracle replaying the SRP bucketing EXACTLY: the
    hyperplanes are deterministic Box-Muller-over-LCG floats
    (similarity._srp_planes — pure Python, engine-neutral), shipped
    into the SQL as literals; DuckDB recomputes every projection sign,
    every table's bucket, the bucket-local pair set, and the cosine
    scores (bit-identical to Spark's fold, per the exact-topk gate).
    The one cross-engine risk is a projection within ~1 ulp of zero
    flipping a bucket bit — probability ~1e-8 on this corpus, and the
    hash match demonstrates it doesn't occur."""
    union = _srp_bucket_union(n_planes, n_tables, dim, seed)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bk AS (
      {union}),
    pairs AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    sims AS (
      SELECT p.vec_id_a, p.vec_id_b, list_cosine_similarity(x.v, y.v) AS sim
      FROM pairs p JOIN e x ON x.vec_id = p.vec_id_a JOIN e y ON y.vec_id = p.vec_id_b)
    SELECT vec_id_a, vec_id_b, sim FROM sims WHERE sim >= {threshold}
    """


@query("embedding_near_dups", oracle=_near_dups_oracle())
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim >= 0.35) discovered
    within SRP buckets. The fixture embeddings are near-orthogonal
    (max pairwise sim ≈ 0.51) so the threshold is set where pairs exist.
    ORACLE-gated as of r4 — the generated SQL replays the deterministic
    hyperplanes, bucketing, and scoring (see _near_dups_oracle)."""
    return similarity.embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.35)


@query(
    "multimodal_payload_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: utf-8 payload attach + metadata extraction
    without decoding (the pattern for opaque image/audio payloads)."""
    mm = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return mm.select("media_id", "n_bytes")


_DECODE_FEATURES_ORACLE = """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
           {feats}
    FROM documents
    """.format(
    feats=",\n           ".join(
        f"CAST((octet_length(encode(text)) + ascii(substr(text,1,1))*{i + 1}) % 251 AS DOUBLE) AS f{i}"
        for i in range(8)
    )
)


@query("multimodal_decode_features", oracle=_DECODE_FEATURES_ORACLE)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract through mapInPandas: REAL PNG-IHDR/JPEG-SOF
    header parsing for dimensions (zero-dep struct unpacking) AND real
    pixel decode for non-interlaced 8-bit PNGs (zlib inflate + numpy
    unfilter, operators/multimodal.py::png_decode_pixels) feeding an
    8-wide pixel-stat feature; deterministic byte-stat fallback for
    payloads needing a codec (JPEG entropy, palette/16-bit PNGs —
    the remaining honest stub).

    ORACLE-gated as of r4 over the text fixture (opaque utf-8
    payloads take the byte-stat path): features exploded to SCALAR
    columns f0..f7 — the driver canonicalizer can't hash array
    columns — and DuckDB recomputes dims and every slot from
    octet_length + the first byte (``ascii(substr(text,1,1))`` ==
    first utf-8 byte; the fixture's first chars are ASCII, verified
    a-z). The real-PNG pixel path stays pinned by its own
    byte-identical round-trip pytest."""
    mm = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"))
    feat = multimodal.decode_features(mm)
    return feat.select(
        "media_id",
        "width",
        "height",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(8)],
    )


@query(
    "embedding_label_centroids",
    oracle="""
    WITH pos AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS pos,
             unnest(embedding) AS x
      FROM embeddings)
    SELECT label, CAST(pos AS INT) AS pos,
           round(avg(x), 6) AS centroid,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM pos GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, positionally — the
    class-prototype computation behind nearest-centroid classification,
    cluster drift monitoring, and IVF coarse-quantizer seeding
    (operators/ivf.py trains its cells from exactly this shape).

    posexplode multiplies rows by the dimension count, but the partial
    aggregation combines map-side, so the shuffle carries at most
    labels × dims rows per partition — the reduce-first discipline in
    vector form. float32 inputs are exactly representable in the double
    accumulators of both engines; round(6) absorbs summation order."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "x"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.round(F.avg("x"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding,
             round(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127.0, 9) AS scale
      FROM embeddings),
    q AS (SELECT vec_id, scale,
                 unnest([CAST(trunc(CAST(x AS DOUBLE) / scale) AS INT) for x in embedding]) AS qv,
                 unnest(range(1, len(embedding) + 1)) AS pos
          FROM m)
    SELECT vec_id, CAST(pos AS INT) AS pos, qv, scale
    FROM q WHERE pos <= 8
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    serving/storage prep that shrinks a float32 vector store 4x (and
    the scalar sibling of the PQ codebook path in operators/pq.py):
    per-vector scale = max|x|/127, code = trunc(x/scale) ∈ [-127, 127].

    Engine-exactness choices: the scale is rounded before use (rounding
    rule), and codes use TRUNCATION toward zero, not round() — Spark's
    double→int cast truncates while DuckDB's rounds, so trunc is the
    one conversion both engines define identically (float32 inputs are
    double-exact, making x/scale bit-identical). Map-only per vector;
    the output projects the first 8 positions per the driver's
    hashable-scalar contract (minhash_signature_sample precedent)."""
    emb = _t(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        "embedding",
        F.round(
            F.expr("array_max(transform(embedding, x -> abs(cast(x as double))))") / 127.0, 9
        ).alias("scale"),
    )
    return (
        m.select("vec_id", "scale", F.posexplode("embedding").alias("pos0", "x"))
        .withColumn("pos", (F.col("pos0") + 1).cast("int"))
        .filter(F.col("pos") <= 8)
        .select(
            "vec_id",
            "pos",
            (F.col("x").cast("double") / F.col("scale")).cast("int").alias("qv"),
            "scale",
        )
    )


@query(
    "multimodal_decode_dims",
    oracle="""
    WITH b AS (SELECT doc_id AS media_id,
                      octet_length(encode(text)) AS ln,
                      ascii(substring(text, 1, 1)) AS f
               FROM documents)
    SELECT media_id,
           CAST(ln % 640 + 1 AS INT) AS width,
           CAST(ln % 480 + 1 AS INT) AS height,
           round(CAST((ln + f * 1) % 251 AS DOUBLE) + CAST((ln + f * 2) % 251 AS DOUBLE) + CAST((ln + f * 3) % 251 AS DOUBLE) + CAST((ln + f * 4) % 251 AS DOUBLE) + CAST((ln + f * 5) % 251 AS DOUBLE) + CAST((ln + f * 6) % 251 AS DOUBLE) + CAST((ln + f * 7) % 251 AS DOUBLE) + CAST((ln + f * 8) % 251 AS DOUBLE), 1) AS feature_sum
    FROM b
""",
)
def multimodal_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DETERMINISTIC half of the decode stage, oracle-gated: for
    non-image payloads the byte-stat dimensions and feature vector are
    pure functions of (byte length, first byte), which the oracle
    reproduces in SQL over the same utf-8 payload bytes (the fixture
    corpus is ASCII, so first char codepoint == first byte). This pins
    the mapInPandas plumbing — schema, batching, the exact fallback
    formulas — while the pixel decode itself stays an honest stub
    (multimodal_decode_features, rows-only). The array column is
    collapsed to its sum per the driver's hashable-scalar contract."""
    mm = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"))
    feats = multimodal.decode_features(mm)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda acc, v: acc + v), 1
        ).alias("feature_sum"),
    )


@query("ann_ivfpq_index_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED stored index end-to-end with GROWTH: build the
    cell-partitioned code index (pq.ivfpq_index_write) from the even
    half of the corpus at the committed centroid(k=8)+codebook
    artifacts, fold in the odd half via ``ivfpq_index_add`` (assign +
    encode only the batch — map-only, the seen codes are never read),
    then search. The oracle is ``ann_ivfpq_topk``'s unchanged — DuckDB
    replays assign → probe → encode → ADC over the FULL corpus from the
    same artifacts — so a hash match certifies add ≡ rebuild through
    the composed search path, the strongest differential in the ANN
    family (stored state + growth + partition-pruned probe in one
    gate)."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.ann_artifacts import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from laygo_python_spark.operators.pq import (
        ivfpq_index_add,
        ivfpq_index_write,
        ivfpq_search_indexed,
        train_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = load_pq_codebooks(sf_dir, m=32, ksub=64)
    if cb is None:
        cb = train_codebooks(emb, m=32, ksub=64)
    cent = load_ivf_centroids(sf_dir, k=8)
    path = tempfile.mkdtemp(prefix="ivfpq_idx_")
    try:
        ivfpq_index_write(
            emb.filter(F.col("vec_id") % 2 == 0), path, codebooks=cb, centroids=cent
        )
        # count_rows=False: this query discards the appended-row count,
        # so the count job would be pure scheduling floor (r13).
        ivfpq_index_add(spark, path, emb.filter(F.col("vec_id") % 2 == 1), count_rows=False)
        out = ivfpq_search_indexed(
            spark, path, emb.filter(F.col("vec_id") < 5), k=10, n_probe=4
        )
        return pin(out.select(
            "query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank")
        ))
    finally:
        shutil.rmtree(path, ignore_errors=True)


@query(
    "multimodal_resize_stats",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id % 13 + 5 AS h0, doc_id % 11 + 6 AS w0 FROM documents),
    px AS (
      SELECT g.doc_id,
             ((g.doc_id*31 + 7*((y.i*g.h0)//4) + 13*((x.i*g.w0)//4)) % 256) AS v
      FROM g, (SELECT unnest(range(4)) AS i) y, (SELECT unnest(range(4)) AS i) x)
    SELECT doc_id, round(avg(v), 6) AS mean_px,
           CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px
    FROM px GROUP BY doc_id
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode + RESIZE, oracle-gated end-to-end: each doc_id
    deterministically synthesizes a gray gradient image
    (pixel(y,x) = (doc_id·31 + 7y + 13x) mod 256, dims keyed off
    doc_id), PNG-ENCODES it (multimodal.png_encode), DECODES it back
    (png_decode_pixels — the real zlib+unfilter path), resizes to 4×4
    nearest-neighbor (resize_pixels, exact integer source indices) and
    emits pixel stats. The DuckDB oracle never touches PNG bytes: it
    recomputes the same stats from the pixel formula + the same integer
    resize arithmetic — so a hash match certifies that
    encode→decode→resize is the IDENTITY on pixels, across engines, for
    every document-derived image in the corpus. Any drift in the codec
    (filters, chunk layout, zlib framing) or in the resize index math
    breaks the gate. All map-only (one Arrow pass, no shuffle)."""
    import numpy as np
    import pandas as pd

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def run(batches):
        for pdf in batches:
            ids, means, mns, mxs = [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                h0, w0 = d % 13 + 5, d % 11 + 6
                pixels = (
                    (d * 31 + 7 * np.arange(h0)[:, None] + 13 * np.arange(w0)[None, :]) % 256
                ).astype(np.uint8)
                px = multimodal.png_decode_pixels(multimodal.png_encode(pixels))
                if px is None:  # codec broke — the gate must fail loudly
                    raise ValueError(f"round-trip decode failed for doc_id={d}")
                rz = multimodal.resize_pixels(px, 4, 4)[:, :, 0].astype(np.int64)
                ids.append(d)
                means.append(round(float(rz.sum()) / 16.0, 6))
                mns.append(int(rz.min()))
                mxs.append(int(rz.max()))
            yield pd.DataFrame(
                {"doc_id": ids, "mean_px": means, "min_px": mns, "max_px": mxs}
            )

    return docs.mapInPandas(run, schema="doc_id long, mean_px double, min_px int, max_px int")


@query(
    "multimodal_audio_stats",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents),
    s AS (SELECT g.doc_id, g.n,
                 ((g.doc_id*7919 + i.i*31 + c.c*17) % 65536) - 32768 AS v
          FROM g, (SELECT unnest(range(60)) AS i) i, (SELECT unnest(range(2)) AS c) c
          WHERE i.i < g.n)
    SELECT doc_id,
           round(CAST(sum(v) AS DOUBLE) / count(*) / 32768.0, 6) AS mean_s,
           min(v) / 32768.0 AS min_s,
           max(v) / 32768.0 AS max_s,
           CAST(any_value(n) AS INT) AS n_frames
    FROM s GROUP BY doc_id
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of multimodal_resize_stats, oracle-gated end-to-end:
    each doc_id synthesizes deterministic stereo int16 PCM
    (sample(i,c) = ((doc_id·7919 + 31i + 17c) mod 2^16) − 2^15, frame
    count keyed off doc_id), WAV-ENCODES it (multimodal.wav_encode),
    DECODES it back (wav_decode_samples — the real RIFF walk + PCM
    normalize) and emits sample stats. The oracle recomputes the stats
    from the sample formula alone (int16 PCM round-trips exactly;
    v/32768 is a dyadic-exact double on both engines; the mean is
    sum/count in ONE division with explicit half-away-from-zero
    rounding, since Python's round() is banker's while DuckDB rounds
    away and the dyadic means can tie exactly at the 6th decimal), so
    a hash match certifies encode→decode is the identity on samples
    across engines. Map-only, no shuffle."""
    import math

    import numpy as np
    import pandas as pd

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def run(batches):
        for pdf in batches:
            ids, means, mns, mxs, nf = [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 50 + 10
                samples = (
                    (d * 7919 + 31 * np.arange(n)[:, None] + 17 * np.arange(2)[None, :])
                    % 65536
                ) - 32768
                x = multimodal.wav_decode_samples(
                    multimodal.wav_encode(samples.astype(np.int16))
                )
                if x is None or x.shape != (n, 2):  # codec broke — fail loudly
                    raise ValueError(f"wav round-trip failed for doc_id={d}")
                ids.append(d)
                # one division (sum/count) then exact /2^15, half-away
                # rounding — bit-compatible with the oracle's arithmetic
                mean = float(samples.sum()) / (2 * n) / 32768.0
                means.append(math.copysign(math.floor(abs(mean) * 1e6 + 0.5), mean) / 1e6)
                mns.append(float(samples.min()) / 32768.0)
                mxs.append(float(samples.max()) / 32768.0)
                nf.append(n)
            yield pd.DataFrame(
                {"doc_id": ids, "mean_s": means, "min_s": mns, "max_s": mxs, "n_frames": nf}
            )

    return docs.mapInPandas(
        run, schema="doc_id long, mean_s double, min_s double, max_s double, n_frames int"
    )


@query(
    "multimodal_video_stats",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id % 4 + 2 AS n, doc_id % 5 + 3 AS h0,
                      doc_id % 6 + 3 AS w0 FROM documents),
    px AS (SELECT g.doc_id, g.n, g.h0, g.w0,
                  ((g.doc_id*37 + f.i*11 + y.i*7 + x.i*13 + c.i*29) % 256) AS v
           FROM g,
                (SELECT unnest(range(6)) AS i) f,
                (SELECT unnest(range(8)) AS i) y,
                (SELECT unnest(range(9)) AS i) x,
                (SELECT unnest(range(3)) AS i) c
           WHERE f.i < g.n AND y.i < g.h0 AND x.i < g.w0)
    SELECT doc_id,
           round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_px,
           CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px,
           CAST(any_value(n) AS INT) AS n_frames,
           CAST(count(*) / (any_value(n) * 3) AS INT) AS frame_px
    FROM px GROUP BY doc_id
    """,
)
def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video twin of the resize/audio identity gates: each doc_id
    synthesizes a deterministic RGB frame stack
    (pixel(f,y,x,c) = (37·doc_id + 11f + 7y + 13x + 29c) mod 256, dims
    and frame count keyed off doc_id), AVI-ENCODES it
    (multimodal.avi_encode — raw-DIB '00db' frames, bottom-up BGR rows,
    stride padding), DECODES it back (avi_decode_frames — the real RIFF
    walk + DIB unpack) and emits frame-stack stats. The oracle
    recomputes them from the pixel formula alone (uncompressed DIB
    round-trips exactly), so a hash match certifies the container
    encode→decode is the identity on pixels across engines — row flip,
    channel order and stride padding included. Half-away mean rounding
    as in multimodal_audio_stats. Map-only, no shuffle."""
    import math

    import numpy as np
    import pandas as pd

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def run(batches):
        for pdf in batches:
            ids, means, mns, mxs, nf, fp = [], [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n, h0, w0 = d % 4 + 2, d % 5 + 3, d % 6 + 3
                frames = (
                    (
                        d * 37
                        + 11 * np.arange(n)[:, None, None, None]
                        + 7 * np.arange(h0)[None, :, None, None]
                        + 13 * np.arange(w0)[None, None, :, None]
                        + 29 * np.arange(3)[None, None, None, :]
                    )
                    % 256
                ).astype(np.uint8)
                got = multimodal.avi_decode_frames(multimodal.avi_encode(frames))
                if got is None or got.shape != frames.shape:  # codec broke — fail loudly
                    raise ValueError(f"avi round-trip failed for doc_id={d}")
                flat = got.astype(np.int64)
                total, cnt = int(flat.sum()), flat.size
                mean = float(total) / cnt
                ids.append(d)
                means.append(math.copysign(math.floor(abs(mean) * 1e6 + 0.5), mean) / 1e6)
                mns.append(int(flat.min()))
                mxs.append(int(flat.max()))
                nf.append(n)
                fp.append(h0 * w0)
            yield pd.DataFrame(
                {
                    "doc_id": ids, "mean_px": means, "min_px": mns, "max_px": mxs,
                    "n_frames": nf, "frame_px": fp,
                }
            )

    return docs.mapInPandas(
        run,
        schema="doc_id long, mean_px double, min_px int, max_px int, n_frames int, frame_px int",
    )


@query(
    "multimodal_g711_stats",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id % 40 + 8 AS n FROM documents),
    s AS (SELECT g.doc_id, g.n,
                 ((g.doc_id*7919 + i.i*31) % 65536) - 32768 AS v
          FROM g, (SELECT unnest(range(48)) AS i) i WHERE i.i < g.n),
    e AS (SELECT doc_id, n,
                 CASE WHEN v < 0 THEN 1 ELSE 0 END AS neg,
                 LEAST(ABS(v), 32635) + 132 AS mag FROM s),
    x AS (SELECT doc_id, n, neg, mag,
                 CASE WHEN mag >= 16384 THEN 7 WHEN mag >= 8192 THEN 6
                      WHEN mag >= 4096 THEN 5 WHEN mag >= 2048 THEN 4
                      WHEN mag >= 1024 THEN 3 WHEN mag >= 512 THEN 2
                      WHEN mag >= 256 THEN 1 ELSE 0 END AS e1 FROM e),
    d AS (SELECT doc_id, n,
                 CASE WHEN neg = 1
                      THEN 132 - (((((mag >> (e1+3)) & 15)*8)+132) * (1 << e1))
                      ELSE (((((mag >> (e1+3)) & 15)*8)+132) * (1 << e1)) - 132
                 END AS dec
          FROM x)
    SELECT doc_id, CAST(sum(dec) AS BIGINT) AS sum_dec,
           CAST(min(dec) AS INT) AS min_dec, CAST(max(dec) AS INT) AS max_dec,
           CAST(any_value(n) AS INT) AS n_frames
    FROM d GROUP BY doc_id
    """,
)
def multimodal_g711_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-audio twin of the codec identity gates: each doc_id
    synthesizes deterministic mono int16 PCM
    (sample(i) = ((doc_id*7919 + 31i) mod 2^16) - 2^15, frame count
    keyed off doc_id), G.711 mu-law WAV-ENCODES it
    (multimodal.wav_encode_g711 -> format tag 7), DECODES it back
    through the real RIFF walk + audio_codecs.mulaw_decode dispatch,
    and emits INTEGER sample stats of the companded round trip. The
    DuckDB oracle never touches WAV bytes: it replays the mu-law
    encode∘decode arithmetic itself (clamp 32635, bias 0x84, CASE
    segment ladder, mantissa truncate, expansion) in pure integer SQL —
    so a hash match certifies the compression codec's arithmetic,
    bit-for-bit, across engines. Integer outputs: no float-rounding
    caveats at all. Map-only, no shuffle."""
    import numpy as np
    import pandas as pd

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def run(batches):
        for pdf in batches:
            ids, sums, mns, mxs, nf = [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 40 + 8
                v = (((d * 7919 + 31 * np.arange(n)) % 65536) - 32768).astype(np.int16)
                out = multimodal.wav_decode_samples(
                    multimodal.wav_encode_g711(v, 8000, "mulaw")
                )
                if out is None or out.shape != (n, 1):  # codec broke — fail loudly
                    raise ValueError(f"g711 round-trip failed for doc_id={d}")
                dec = np.rint(out[:, 0] * 32768.0).astype(np.int64)  # exact: int16-scaled
                ids.append(d)
                sums.append(int(dec.sum()))
                mns.append(int(dec.min()))
                mxs.append(int(dec.max()))
                nf.append(n)
            yield pd.DataFrame(
                {"doc_id": ids, "sum_dec": sums, "min_dec": mns, "max_dec": mxs, "n_frames": nf}
            )

    return docs.mapInPandas(
        run, schema="doc_id long, sum_dec long, min_dec int, max_dec int, n_frames int"
    )


@query(
    "multimodal_mjpg_stats",
    oracle="""
    WITH g AS (SELECT doc_id, doc_id % 4 + 2 AS n, doc_id % 9 + 8 AS h0,
                      doc_id % 7 + 9 AS w0 FROM documents),
    f AS (SELECT g.doc_id, g.n, g.h0, g.w0,
                 ((g.doc_id*41 + i.i*23) % 256) AS v
          FROM g, (SELECT unnest(range(6)) AS i) i WHERE i.i < g.n)
    SELECT doc_id,
           CAST(sum(CAST(v AS BIGINT) * h0 * w0 * 3) AS BIGINT) AS sum_px,
           CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px,
           CAST(any_value(n) AS INT) AS n_frames,
           CAST(any_value(h0) * any_value(w0) AS INT) AS frame_px
    FROM f GROUP BY doc_id
    """,
)
def multimodal_mjpg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion-JPEG twin of the codec identity gates: each doc_id
    synthesizes n uniform-gray frames (value (41*doc_id + 23f) mod 256,
    dims keyed off doc_id and deliberately NOT multiples of 8 so MCU
    edge padding is exercised), JPEG-encodes each (operators/jpeg.py
    jpeg_encode — all-ones quant, so a uniform frame is a DC-only block
    set that round-trips EXACTLY through the lossy pipeline), wraps
    them in an MJPG AVI (avi_encode_mjpg), decodes the container back
    (avi_decode_frames -> per-chunk Huffman DCT decode) and emits
    integer pixel stats. The DuckDB oracle recomputes them from the
    value formula alone, so a hash match certifies the full
    container+entropy-codec path is the identity on uniform frames
    across engines. The UDF raises if any decoded frame deviates —
    non-uniform drift cannot silently average out. Map-only."""
    import numpy as np
    import pandas as pd

    from laygo_python_spark.operators import jpeg as J

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def run(batches):
        for pdf in batches:
            ids, sums, mns, mxs, nf, fp = [], [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n, h0, w0 = d % 4 + 2, d % 9 + 8, d % 7 + 9
                vals = [(d * 41 + 23 * f) % 256 for f in range(n)]
                blobs = [
                    J.jpeg_encode(np.full((h0, w0, 1), v, dtype=np.uint8)) for v in vals
                ]
                got = multimodal.avi_decode_frames(
                    multimodal.avi_encode_mjpg(blobs, w0, h0)
                )
                if got is None or got.shape != (n, h0, w0, 3):
                    raise ValueError(f"mjpg round-trip failed for doc_id={d}")
                for f, v in enumerate(vals):  # exact identity, frame by frame
                    if not (got[f] == v).all():
                        raise ValueError(f"mjpg drift doc_id={d} frame={f}")
                ids.append(d)
                sums.append(int(np.asarray(got, dtype=np.int64).sum()))
                mns.append(int(min(vals)))
                mxs.append(int(max(vals)))
                nf.append(n)
                fp.append(h0 * w0)
            yield pd.DataFrame(
                {"doc_id": ids, "sum_px": sums, "min_px": mns, "max_px": mxs,
                 "n_frames": nf, "frame_px": fp}
            )

    return docs.mapInPandas(
        run,
        schema="doc_id long, sum_px long, min_px int, max_px int, n_frames int, frame_px int",
    )


def _semdedup_oracle(k_cells: int = 16, threshold: float = 0.35) -> str:
    # reuses the trained-IVF assignment replay (_ivf_cell_ctes; its
    # qprobe CTE goes unused here) — a vector is dropped iff a lower-id
    # vector in its cell clears the cosine threshold
    return f"""WITH {_ann_key_ctes()},
    {_ivf_cell_ctes(k_cells, 1)},
    dup AS (SELECT DISTINCT ay.vec_id AS dup_id
            FROM assign ax JOIN assign ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
            JOIN e x ON x.vec_id = ax.vec_id
            JOIN e y ON y.vec_id = ay.vec_id
            WHERE list_cosine_similarity(x.v, y.v) >= {threshold})
    SELECT a.vec_id, CAST(a.cell AS INT) AS cell, (d.dup_id IS NULL) AS keep
    FROM assign a LEFT JOIN dup d ON d.dup_id = a.vec_id"""


@query("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/semdedup.py): k-means
    cells from the COMMITTED IVF centroid artifact (the trained-state
    gating idiom from ann_ivf_topk), then within-cell cosine pruning
    with the deterministic lowest-id-wins keep rule. Completes the
    dedup ladder at the meaning level: exact -> MinHash/SimHash ->
    SRP near-dup -> semantic. The DuckDB oracle replays assignment and
    the pairwise threshold join against the same centroids parquet —
    cosine sims are bit-identical across engines (proven by
    embedding_cosine_topk / embedding_near_dups), so keep flags match
    exactly. Threshold 0.35 sits where the near-orthogonal fixture has
    real duplicate pairs (max pairwise sim ~0.51)."""
    from laygo_python_spark.operators.ann_artifacts import load_ivf_centroids
    from laygo_python_spark.operators.semdedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    cent = load_ivf_centroids(sf_dir, k=16)
    return semantic_dedup(emb, threshold=0.35, n_clusters=16, centroids=cent)


@query(
    "embedding_prototypicality",
    oracle=f"""WITH {_ann_key_ctes()},
    {_ivf_cell_ctes(16, 1)},
    scored AS (SELECT a.vec_id, a.cell,
                      list_cosine_similarity(e.v, c.centroid) AS proto
               FROM assign a JOIN e ON e.vec_id = a.vec_id
                             JOIN cent c ON c.cell = a.cell)
    SELECT vec_id, CAST(cell AS INT) AS cell, proto,
           CAST(row_number() OVER (PARTITION BY cell ORDER BY proto DESC, vec_id) AS INT)
             AS proto_rank
    FROM scored""",
)
def embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality scoring for diversity-aware curation (the
    SemDeDup/D4-family signal, public): each vector's cosine similarity
    to its own k-means centroid, ranked within the cluster. High
    proto_rank tail = prototypical/redundant mass (candidates for
    downsampling); low = diverse/outlier mass (upweight or inspect).
    Runs at the COMMITTED IVF centroid artifact so DuckDB replays
    assignment + scoring + ranking exactly. Map-side matmul assignment,
    one shuffle on cell for the rank window. Composes with
    dedup_semantic: dedup prunes near-copies, prototypicality then
    shapes what remains."""
    from laygo_python_spark.operators.ann_artifacts import load_ivf_centroids
    from laygo_python_spark.operators.ivf import _assign_cells
    from laygo_python_spark.operators.similarity import cosine_hoisted, l2_norm
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    cent = load_ivf_centroids(sf_dir, k=16)
    if cent is None:
        from laygo_python_spark.operators.ivf import train_centroids

        cent = train_centroids(emb, 16)
    a = _assign_cells(emb, cent, "vec_id", "v", "vec_id", "embedding", n_probe=1)
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)]
    cdf = spark.createDataFrame(cent_rows, "cell int, centroid array<double>").select(
        "cell", "centroid", l2_norm(F.col("centroid")).alias("ncent")
    )
    w = Window.partitionBy("cell").orderBy(F.desc("proto"), F.asc("vec_id"))
    return (
        a.join(F.broadcast(cdf), "cell")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            cosine_hoisted(
                F.col("v"), F.col("centroid"), l2_norm(F.col("v")), F.col("ncent")
            ).alias("proto"),
        )
        .withColumn("proto_rank", F.row_number().over(w).cast("int"))
    )


@query(
    "multimodal_mp3_meta",
    oracle="""
    WITH g AS (SELECT doc_id,
                      doc_id % 2 AS isv1,
                      doc_id % 13 + 1 AS br_idx,
                      doc_id % 3 AS sr_idx,
                      doc_id % 4 AS md,
                      doc_id % 6 + 2 AS nf
               FROM documents),
    t AS (SELECT doc_id, nf,
                 CASE WHEN isv1 = 1
                   THEN [32,40,48,56,64,80,96,112,128,160,192,224,256][br_idx]
                   ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144][br_idx]
                 END AS kbps,
                 CASE WHEN isv1 = 1
                   THEN [44100,48000,32000][sr_idx + 1]
                   ELSE [22050,24000,16000][sr_idx + 1]
                 END AS rate,
                 CASE WHEN md = 3 THEN 1 ELSE 2 END AS channels,
                 CASE WHEN isv1 = 1 THEN 144 ELSE 72 END AS factor
          FROM g)
    SELECT doc_id,
           CAST(rate AS INT) AS sample_rate,
           CAST(channels AS INT) AS channels,
           CAST(kbps AS INT) AS bitrate_kbps,
           round(CAST((factor * kbps * 1000 // rate) * nf * 8 AS DOUBLE)
                 / (kbps * 1000), 6) AS duration_s
    FROM t
    """,
)
def multimodal_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 twin of the codec identity gates (r6 verdict ask #8): each
    doc_id synthesizes a deterministic MPEG Layer III stream — version/
    bitrate/samplerate/mode/frame-count all keyed off doc_id, an ID3v2
    tag in front (exercising the syncsafe skip), every frame carrying
    its TRUE computed length so the parser's second-frame continuation
    check holds — and ``multimodal.mp3_meta`` parses it back. The
    oracle recomputes (rate, channels, kbps, CBR duration) from the
    ISO 11172-3 tables alone, so a hash match certifies the header
    parser end-to-end: sync scan, ID3 skip, version/bitrate/rate/mode
    decode and the frame-length arithmetic. Duration is ONE float64
    division on both engines (body_bytes·8 / bps) with half-away
    rounding at 6 decimals (same discipline as multimodal_audio_stats).
    Map-only, no shuffle."""
    import math

    import pandas as pd

    docs = _spread(_t(spark, sf_dir, "documents").select("doc_id"))

    def run(batches):
        for pdf in batches:
            ids, rates, chs, kbpss, durs = [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                isv1 = d % 2 == 1
                ver_bits = 3 if isv1 else 2
                br_idx = d % 13 + 1
                sr_idx = d % 3
                mode = d % 4
                nf = d % 6 + 2
                hdr = bytes(
                    [
                        0xFF,
                        0xE0 | (ver_bits << 3) | (1 << 1),
                        (br_idx << 4) | (sr_idx << 2),
                        mode << 6,
                    ]
                )
                kbps = (
                    multimodal._MP3_BITRATE_V1 if isv1 else multimodal._MP3_BITRATE_V2
                )[br_idx]
                rate = multimodal._MP3_RATES[ver_bits][sr_idx]
                factor = 144 if isv1 else 72
                flen = factor * kbps * 1000 // rate
                body = (hdr + b"\x00" * (flen - 4)) * nf
                tag = b"\x00" * 64
                blob = b"ID3\x03\x00\x00" + bytes(
                    [(len(tag) >> 21) & 0x7F, (len(tag) >> 14) & 0x7F,
                     (len(tag) >> 7) & 0x7F, len(tag) & 0x7F]
                ) + tag + body
                got = multimodal.mp3_meta(blob)
                if got is None:  # parser broke — the gate must fail loudly
                    raise ValueError(f"mp3_meta failed for doc_id={d}")
                r, c, k, dur = got
                ids.append(d)
                rates.append(r)
                chs.append(c)
                kbpss.append(k)
                durs.append(math.copysign(math.floor(abs(dur) * 1e6 + 0.5), dur) / 1e6)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "sample_rate": rates,
                    "channels": chs,
                    "bitrate_kbps": kbpss,
                    "duration_s": durs,
                }
            )

    return docs.mapInPandas(
        run,
        schema="doc_id long, sample_rate int, channels int, bitrate_kbps int, duration_s double",
    )


def _pca_oracle(k: int = 8) -> str:
    from laygo_python_spark.operators.ann_artifacts import PCA_PATH

    return f"""WITH {_ann_key_ctes()},
    pc AS (SELECT comp, mean, component
           FROM read_parquet('{PCA_PATH}') p, key
           WHERE p.k = {k} AND p.n_corpus = key.nc AND p.sig = key.ks),
    proj AS (SELECT e.vec_id, p.comp,
                    list_dot_product(
                        list_transform(range(1, len(e.v) + 1), i -> e.v[i] - p.mean[i]),
                        p.component) AS val
             FROM e, pc p)
    SELECT vec_id, CAST(comp AS BIGINT) AS comp, val FROM proj"""


@query("embedding_pca_project", oracle=_pca_oracle())
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection to 8 components at the COMMITTED principal-axes
    artifact (tools/train_ann_artifacts.py — the trained-state gating
    idiom of ann_ivf_topk): the dimensionality-reduction / whitening
    front half a production vector pipeline runs before PQ or IVF
    indexing, and the third trained-artifact family after centroids and
    codebooks. Spark side is pure Column algebra — centered sequential-
    fold dot products inside whole-stage codegen, zero Python, zero
    shuffle (operators/similarity.pca_project); the DuckDB oracle
    replays (x − mean) · component from the same parquet, so the
    projection doubles are bit-identical and the value hash is exact.
    Output is EXPLODED scalar rows (vec_id, comp, val) — the driver's
    pandas canonicalizer cannot sort array cells (CORRECTNESS_r07 err),
    so oracle queries must emit scalar columns only (lint enforced in
    tools/gen_catalog.py). Falls back to live distributed-moments
    training (train_pca — one map-only pass emitting O(d²) state per
    partition) on corpora with no committed row."""
    from laygo_python_spark.operators.ann_artifacts import load_pca_projection
    from laygo_python_spark.operators.similarity import pca_project, train_pca

    emb = _t(spark, sf_dir, "embeddings")
    loaded = load_pca_projection(sf_dir, k=8)
    if loaded is None:
        mean, comps = train_pca(emb, 8)
    else:
        mean, comps = loaded
    proj = pca_project(emb, mean, comps)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("comp", "val")
    ).withColumn("comp", F.col("comp").cast("long"))


def _pca_topk_oracle(k: int = 8) -> str:
    from laygo_python_spark.operators.ann_artifacts import PCA_PATH

    return f"""WITH {_ann_key_ctes()},
    pc AS (SELECT comp, mean, component
           FROM read_parquet('{PCA_PATH}') p, key
           WHERE p.k = {k} AND p.n_corpus = key.nc AND p.sig = key.ks),
    proj AS (SELECT e.vec_id, p.comp,
                    list_dot_product(
                        list_transform(range(1, len(e.v) + 1), i -> e.v[i] - p.mean[i]),
                        p.component) AS val
             FROM e, pc p),
    pv AS (SELECT vec_id, list(val ORDER BY comp) AS v FROM proj GROUP BY vec_id),
    scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                      list_cosine_similarity(q.v, c.v) AS sim
               FROM pv q JOIN pv c ON c.vec_id <> q.vec_id
               WHERE q.vec_id < 5)
    {_ANN_RANK_TAIL}"""


@query("embedding_pca_topk", oracle=_pca_topk_oracle())
def embedding_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k in the PCA-REDUCED space (8 of 64 dims) at the
    committed principal-axes artifact — the project→search composition
    a reduced-dimension retrieval pipeline runs: 8× less score
    arithmetic and 8× smaller vectors in memory for a controlled,
    variance-ranked approximation (vs the hash/cell pruning of
    LSH/IVF). Both sides of the gate project with identical arithmetic
    (bit-exact, proven by embedding_pca_project) and score with the
    sequential-fold cosine, so ranks match exactly."""
    from laygo_python_spark.operators.ann_artifacts import load_pca_projection
    from laygo_python_spark.operators.similarity import (
        brute_force_topk,
        pca_project,
        train_pca,
    )

    emb = _t(spark, sf_dir, "embeddings")
    loaded = load_pca_projection(sf_dir, k=8)
    mean, comps = loaded if loaded is not None else train_pca(emb, 8)
    pv = pca_project(emb, mean, comps)
    return brute_force_topk(pv, pv.filter(F.col("vec_id") < 5), k=10, vec_col="proj")


@query(
    "embedding_binary_quantize",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT vec_id, unnest(range(1, len(v) + 1)) AS i, v FROM e)
    SELECT vec_id, CAST((i - 1) // 32 AS INT) AS word,
           CAST(sum(CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << CAST((i - 1) % 32 AS INT))
                    ELSE 0 END) AS BIGINT) AS code
    FROM p GROUP BY vec_id, (i - 1) // 32
    """,
)
def embedding_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization of the embedding column
    (operators/similarity.binary_quantize): bit (i-1)%32 of word
    (i-1)//32 is set iff dimension i > 0 — a 32× smaller binary
    vector store whose Hamming distances approximate angular distance
    (the production shortlist for binary-embedding retrieval; the
    search composition is ann_binary_rerank_topk). 32-bit words keep
    every code inside non-negative BIGINT range, so the packing is
    bit-replayable in any engine — DuckDB rebuilds each word as a sum
    of shifted sign bits and every (vec_id, word, code) row must match
    exactly. Map-only: the packing is a per-word JVM fold, no shuffle,
    no Python."""
    from laygo_python_spark.operators.similarity import binary_quantize

    emb = _t(spark, sf_dir, "embeddings")
    return binary_quantize(emb, dim=64)


_BINARY_RERANK_ORACLE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 5),
    h AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(len(list_filter(range(1, 65),
                          i -> (q.v[i] > 0) <> (c.v[i] > 0))) AS INT) AS hamming
          FROM q JOIN e c ON c.vec_id <> q.vec_id),
    short AS (SELECT query_id, neighbor_id, hamming,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY hamming, neighbor_id) AS srank
              FROM h),
    rr AS (SELECT s.query_id, s.neighbor_id, s.hamming,
                  list_cosine_similarity(q.v, c.v) AS sim
           FROM short s
           JOIN q ON q.vec_id = s.query_id
           JOIN e c ON c.vec_id = s.neighbor_id
           WHERE s.srank <= 64),
    ranked AS (SELECT query_id, neighbor_id, hamming, sim,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, neighbor_id) AS rank
               FROM rr)
    SELECT query_id, neighbor_id, hamming, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
"""


@query("ann_binary_rerank_topk", oracle=_BINARY_RERANK_ORACLE)
def ann_binary_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval end-to-end
    (operators/similarity.binary_hamming_topk): Hamming shortlist of
    the 64 nearest sign codes per query (XOR + popcount over two
    packed words, all JVM codegen, corpus vectors untouched), then
    exact-cosine rerank of the shortlist only. Integer Hamming makes
    the shortlist engine-exact; the rerank reuses the sequential-fold
    cosine already proven bit-identical to DuckDB's
    list_cosine_similarity (embedding_cosine_topk), so ranks match
    exactly. Scale: stage 1 shuffles 3-scalar candidate rows; stage 2
    broadcast-joins the (queries × 64)-row survivor set back onto the
    corpus — only those vectors are ever read twice."""
    from laygo_python_spark.operators.similarity import binary_hamming_topk

    emb = _t(spark, sf_dir, "embeddings")
    return binary_hamming_topk(emb, emb.filter(F.col("vec_id") < 5), dim=64, k=10, shortlist=64)


@query(
    "embedding_matryoshka_recall",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    fulls AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                           c.vec_id) AS rank
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5)
      WHERE rank <= 10),
    t AS (SELECT vec_id, v[1:16] AS v FROM e),
    trunc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                           c.vec_id) AS rank
        FROM t q JOIN t c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5)
      WHERE rank <= 10)
    SELECT f.query_id, CAST(count(tr.neighbor_id) AS INT) AS hits,
           round(count(tr.neighbor_id) / 10.0, 6) AS recall_at_10
    FROM fulls f LEFT JOIN trunc tr
      ON f.query_id = tr.query_id AND f.neighbor_id = tr.neighbor_id
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality check (Kusupati et al. 2022): how
    much of the full-dimension cosine top-10 survives when vectors are
    truncated to their first 16 of 64 dims — the measurement that
    decides whether a vector store can ship prefix embeddings (4× less
    memory and bandwidth) for the shortlist stage. Recall@10 per query
    vector (vec_id < 5); prefix ranking needs no renormalization (a
    per-vector scalar never reorders cosine).

    Scale shape: both rankings are the intentional broadcast-query
    exact scan (embedding_cosine_topk's posture); the truncated leg
    scans 4x fewer bytes — exactly the saving being measured. The
    overlap join runs over two 10-row-per-query heads. Oracle replays
    both rankings (list slice + bit-exact cosine) and the overlap
    count."""
    emb = _t(spark, sf_dir, "embeddings")
    t = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    fulls = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10).select(
        "query_id", "neighbor_id"
    )
    trunc = similarity.brute_force_topk(t, t.filter(F.col("vec_id") < 5), k=10).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    return (
        fulls.join(
            trunc,
            (F.col("query_id") == F.col("tq")) & (F.col("neighbor_id") == F.col("tn")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("tn").cast("int").alias("hits"),
            F.round(F.count("tn") / 10.0, 6).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


def _rebuild_econ_oracle(k_cells: int = 16) -> str:
    """Replay of ann_index_rebuild_economics: assignment ties order by
    the operator's d2a = ||c||²−2x·c (||x||² cancels in the argmin);
    the distortion uses the TRUE squared distance."""
    from laygo_python_spark.operators.ann_artifacts import IVF_PATH

    return f"""WITH {_ann_key_ctes()},
    cent AS (SELECT a.cell, a.centroid FROM read_parquet('{IVF_PATH}') a, key
             WHERE a.k = {k_cells} AND a.n_corpus = key.nc AND a.sig = key.ks),
    d AS (SELECT e.vec_id, c.cell,
                 list_dot_product(c.centroid, c.centroid)
                 - 2*list_dot_product(e.v, c.centroid) AS d2a,
                 list_dot_product(e.v, e.v)
                 - 2*list_dot_product(e.v, c.centroid)
                 + list_dot_product(c.centroid, c.centroid) AS d2
          FROM e, cent c),
    assign AS (SELECT vec_id, cell, d2 FROM (
        SELECT vec_id, cell, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2a, cell) AS rn
        FROM d) WHERE rn = 1),
    g AS (SELECT cell,
                 CAST(sum(CASE WHEN vec_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                 CAST(sum(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_appended,
                 avg(CASE WHEN vec_id % 3 <> 0 THEN d2 END) AS base_d2,
                 avg(CASE WHEN vec_id % 3 = 0 THEN d2 END) AS app_d2
          FROM assign GROUP BY cell),
    r AS (SELECT CAST(cell AS INT) AS cell, n_base, n_appended,
                 round(CAST(n_appended AS DOUBLE) / (n_base + n_appended), 6) AS appended_frac,
                 round(base_d2, 6) AS base_d2_mean,
                 round(app_d2, 6) AS app_d2_mean,
                 round(app_d2 / base_d2, 6) AS distortion_ratio
          FROM g)
    SELECT *, coalesce(appended_frac > 0.5, FALSE)
              OR coalesce(distortion_ratio > 1.25, FALSE) AS retrain
    FROM r ORDER BY cell"""


@query("ann_index_rebuild_economics", oracle=_rebuild_econ_oracle())
def ann_index_rebuild_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-IVF rebuild economics — WHEN does append-degradation
    justify a retrain (r10 verdict stretch #8b; pairs with
    operators/ivf.ivf_index_stats' skew alert): centroids were trained
    at a snapshot, the corpus keeps growing via ivf_index_add-style
    appends (simulated deterministically: vec_id % 3 == 0 is the
    appended batch), and each appended vector is quantized to the
    NEAREST EXISTING cell — so cell balance and quantization distortion
    only degrade between retrains. Emits the per-cell decision inputs a
    maintenance scheduler reads: base/appended populations, appended
    fraction, mean true quantization distortion ||x−c||² per class, the
    appended/base distortion inflation ratio, and the derived retrain
    flag (appended_frac > 0.5 — the index no longer represents its
    training snapshot — OR distortion_ratio > 1.25 — appends land
    measurably farther from the frozen centroids than the data they
    were trained on).

    Scale shape: one Arrow-batched assignment pass (a (batch×dim)@
    (dim×k) matmul per batch — the ivf_topk path), a broadcast join
    against the k-row centroid frame for the distance expression, one
    partial+final aggregation to k rows. No all-pairs anything; at
    100 TB the assignment pass is the same map-only scan an
    ivf_index_add pays, so the audit rides a scheduled append for free.
    Searches at the COMMITTED centroid artifact (artifacts/ann/), which
    is what makes the trained state oracle-replayable (ann_ivf_topk's
    idiom); corpora without an artifact train live (rows-only
    semantics)."""
    from laygo_python_spark.operators.ann_artifacts import load_ivf_centroids
    from laygo_python_spark.operators.ivf import _assign_cells, train_centroids
    from laygo_python_spark.session import local_rows_df

    emb = _t(spark, sf_dir, "embeddings")
    cent = load_ivf_centroids(sf_dir, k=16)
    if cent is None:
        cent = train_centroids(emb, 16)
    assign = _assign_cells(emb, cent, "vec_id", "v", "vec_id", "embedding", n_probe=1)
    cent_df = local_rows_df(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)],
        "cell int, centroid array<double>",
    )

    from laygo_python_spark.operators.similarity import dot as _dot

    def dot(a: str, b: str):
        return _dot(F.col(a), F.col(b))

    # dot(centroid, centroid) hoisted to the k-row centroid frame (one
    # fold per CENTROID, not per corpus row); d2 sums in the same order.
    cent_df = cent_df.select("cell", "centroid", dot("centroid", "centroid").alias("cc"))
    rows = assign.join(F.broadcast(cent_df), "cell").select(
        "cell",
        "vec_id",
        (dot("v", "v") - 2 * dot("v", "centroid") + F.col("cc")).alias("d2"),
    )
    g = rows.groupBy("cell").agg(
        F.sum(F.when(F.col("vec_id") % 3 != 0, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum(F.when(F.col("vec_id") % 3 == 0, 1).otherwise(0)).cast("long").alias("n_appended"),
        F.avg(F.when(F.col("vec_id") % 3 != 0, F.col("d2"))).alias("base_d2"),
        F.avg(F.when(F.col("vec_id") % 3 == 0, F.col("d2"))).alias("app_d2"),
    )
    r = g.select(
        "cell",
        "n_base",
        "n_appended",
        F.round(
            F.col("n_appended").cast("double") / (F.col("n_base") + F.col("n_appended")), 6
        ).alias("appended_frac"),
        F.round("base_d2", 6).alias("base_d2_mean"),
        F.round("app_d2", 6).alias("app_d2_mean"),
        F.round(F.col("app_d2") / F.col("base_d2"), 6).alias("distortion_ratio"),
    )
    return r.withColumn(
        "retrain",
        F.coalesce(F.col("appended_frac") > F.lit(0.5), F.lit(False))
        | F.coalesce(F.col("distortion_ratio") > F.lit(1.25), F.lit(False)),
    ).orderBy("cell")


def _cell_drift_oracle(k_cells: int = 16) -> str:
    """Replay of embedding_cell_drift: committed-centroid assignment
    (operator tie-break order), per-cell base/appended counts, then the
    EPS-floored PSI/JSD fold (operators/drift.drift_from_counts)."""
    from laygo_python_spark.operators.ann_artifacts import IVF_PATH

    return f"""WITH {_ann_key_ctes()},
    cent AS (SELECT a.cell, a.centroid FROM read_parquet('{IVF_PATH}') a, key
             WHERE a.k = {k_cells} AND a.n_corpus = key.nc AND a.sig = key.ks),
    d AS (SELECT e.vec_id, c.cell,
                 list_dot_product(c.centroid, c.centroid)
                 - 2*list_dot_product(e.v, c.centroid) AS d2a
          FROM e, cent c),
    assign AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2a, cell) AS rn
        FROM d) WHERE rn = 1),
    h AS (SELECT cell,
                 sum(CASE WHEN vec_id % 3 <> 0 THEN 1 ELSE 0 END) AS cr,
                 sum(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END) AS cc
          FROM assign GROUP BY cell),
    t AS (SELECT CAST(sum(cr) AS BIGINT) AS n_ref,
                 CAST(sum(cc) AS BIGINT) AS n_cur FROM h),
    terms AS (SELECT greatest(CAST(cr AS DOUBLE) / t.n_ref, 1e-6) AS p,
                     greatest(CAST(cc AS DOUBLE) / t.n_cur, 1e-6) AS q,
                     t.n_ref, t.n_cur
              FROM h, t)
    SELECT round(sum((q - p) * ln(q / p)), 6) AS psi,
           round(sum(0.5 * p * ln(p / ((p + q) / 2))
                   + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS jsd,
           n_ref, n_cur
    FROM terms GROUP BY n_ref, n_cur"""


@query("embedding_cell_drift", oracle=_cell_drift_oracle())
def embedding_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING distribution drift over IVF cells — the monitor that
    pairs with ann_index_rebuild_economics' distortion audit: the
    committed centroids induce a fixed 16-way partition of embedding
    space, so the base corpus (vec_id % 3 != 0) and an appended batch
    (% 3 == 0) each reduce to a 16-bin cell histogram, and PSI/JSD over
    those histograms (operators/drift.drift_from_counts — the same fold
    psi_value_drift runs on scalar bins) quantify WHERE the new data
    lives relative to the index's training snapshot. PSI > 0.25 on cell
    occupancy is the canonical "the embedding distribution moved —
    retrain the index / re-examine the crawl" alarm, and it catches
    drift the distortion ratio alone can miss (a batch can quantize
    tightly while concentrating in two cells).

    Scale shape: one Arrow-batched assignment pass per side (rides a
    scheduled append's scan), two ≤k-row histograms, one fold. The cell
    histograms are additive partials, so the reference side can be a
    stored artifact new batches merge into — the sketch mergeability
    contract."""
    from laygo_python_spark.operators.ann_artifacts import load_ivf_centroids
    from laygo_python_spark.operators.drift import drift_from_counts
    from laygo_python_spark.operators.ivf import _assign_cells, train_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cent = load_ivf_centroids(sf_dir, k=16)
    if cent is None:
        cent = train_centroids(emb, 16)
    assign = _assign_cells(emb, cent, "vec_id", "v", "vec_id", "embedding", n_probe=1)
    hist = (
        assign.groupBy((F.col("vec_id") % 3 == 0).alias("is_app"), F.col("cell").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    base_h = hist.filter(~F.col("is_app")).select("bin", "cnt")
    cur_h = hist.filter(F.col("is_app")).select("bin", "cnt")
    return drift_from_counts(base_h, cur_h, keys=[])


def _nprobe_curve_oracle(
    k_cells: int = 16, n_queries: int = 20, k: int = 10,
    grid: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> str:
    from laygo_python_spark.operators.ann_artifacts import IVF_PATH

    grid_sql = ", ".join(str(g) for g in grid)
    return f"""WITH {_ann_key_ctes()},
    cent AS (SELECT a.cell, a.centroid
             FROM read_parquet('{IVF_PATH}') a, key
             WHERE a.k = {k_cells} AND a.n_corpus = key.nc AND a.sig = key.ks),
    d AS (SELECT e.vec_id, c.cell,
                 list_dot_product(c.centroid, c.centroid)
                 - 2*list_dot_product(e.v, c.centroid) AS d2
          FROM e, cent c),
    assign AS (SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM d) WHERE rn = 1),
    qrank AS (SELECT vec_id AS query_id, cell, rn AS probe_rank FROM (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        FROM d WHERE vec_id < {n_queries}) WHERE rn <= {max(grid)}),
    scored AS (SELECT q.query_id, a.vec_id AS neighbor_id, q.probe_rank,
                      list_cosine_similarity(x.v, y.v) AS sim
               FROM qrank q JOIN assign a USING (cell)
               JOIN e x ON x.vec_id = q.query_id
               JOIN e y ON y.vec_id = a.vec_id
               WHERE a.vec_id <> q.query_id),
    truth AS (SELECT query_id, neighbor_id FROM (
        SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY list_cosine_similarity(x.v, y.v) DESC, y.vec_id) AS rn
        FROM e x JOIN e y ON y.vec_id <> x.vec_id
        WHERE x.vec_id < {n_queries}) WHERE rn <= {k}),
    tt AS (SELECT count(*) AS n_truth FROM truth),
    grid AS (SELECT unnest([{grid_sql}]) AS n_probe),
    ex AS (SELECT g.n_probe, s.query_id, s.neighbor_id, s.sim,
                  row_number() OVER (PARTITION BY g.n_probe, s.query_id
                      ORDER BY s.sim DESC, s.neighbor_id) AS rnk
           FROM grid g JOIN scored s ON s.probe_rank <= g.n_probe),
    st AS (SELECT ex.n_probe,
                  count(DISTINCT ex.query_id) AS n_queries,
                  count(*) AS n_scored,
                  sum(CASE WHEN ex.rnk <= {k} AND t.query_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS hits
           FROM ex LEFT JOIN truth t
             ON t.query_id = ex.query_id AND t.neighbor_id = ex.neighbor_id
           GROUP BY ex.n_probe)
    SELECT CAST(st.n_probe AS INT) AS n_probe,
           CAST(st.n_queries AS BIGINT) AS n_queries,
           round(st.n_scored / CAST(st.n_queries AS DOUBLE), 6) AS avg_scanned,
           round(st.hits / CAST(tt.n_truth AS DOUBLE), 6) AS recall_at_{k}
    FROM st, tt ORDER BY n_probe"""


@query("ivf_nprobe_recall_curve", oracle=_nprobe_curve_oracle())
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10-vs-cost curve for the committed IVF index at
    n_probe in {1, 2, 4, 8, 16} (operators/ivf.nprobe_recall_curve) —
    completing the ANN tuning triptych: lsh_threshold_tuning measures
    the banding knob, ann_index_rebuild_economics measures WHEN to
    retrain, and this measures the search-time n_probe knob against
    exact brute-force ground truth on the corpus itself. One ranked
    cell assignment + one scoring pass serves every grid point (the
    probe_rank <= n_probe fold); searches at the COMMITTED k=16
    centroid artifact (artifacts/ann/) so DuckDB replays assignment,
    probe ranking, scoring, the exact-truth join and the grid fold
    end-to-end. At 16 cells the n_probe=16 row must read recall 1.0 —
    the curve's built-in sanity anchor."""
    from laygo_python_spark.operators.ann_artifacts import load_ivf_centroids
    from laygo_python_spark.operators.ivf import nprobe_recall_curve, train_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cent = load_ivf_centroids(sf_dir, k=16)
    if cent is None:
        cent = train_centroids(emb, 16)
    return nprobe_recall_curve(
        emb, emb.filter(F.col("vec_id") < 20), grid=(1, 2, 4, 8, 16), k=10,
        centroids=cent,
    )


def _jpeg_arith_dir() -> str:
    import os

    from laygo_python_spark.operators.ann_artifacts import ARTIFACT_DIR

    return os.path.join(os.path.dirname(ARTIFACT_DIR), "jpeg_arith")


@query(
    "multimodal_jpeg_arith_stats",
    oracle=f"""
    SELECT d.doc_id, e.name,
           CAST(e.n_components AS INT) AS n_components,
           e.n_blocks, e.dc_sum, e.coef_abs_sum, e.coef_l0
    FROM documents d
    JOIN read_parquet('{_jpeg_arith_dir()}/expected.parquet') e
      ON e.ord = d.doc_id % 8
    """,
)
def multimodal_jpeg_arith_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic-coded JPEG (SOF9/SOF10) decode certification — closes
    the codec family's last image stub (operators/jpeg_arith.py, the
    T.81 QM-coder). The committed payloads (artifacts/jpeg_arith/,
    tools/gen_arith_jpeg_fixtures.py) were encoded by the SYSTEM
    libjpeg-turbo, and the committed expected stats are integer
    aggregates of LIBJPEG'S OWN quantized-coefficient dump — never this
    repo's decoder — so the hash match certifies the repo's QM decode
    reproduces an independent codec coefficient-exactly, across both
    sequential and progressive modes, 4:2:0 subsampling and restart
    intervals. A single wrong arithmetic decision desynchronizes the
    whole stream and fails loudly (the UDF raises on decode failure).

    Scale shape: the 8 payloads decode ONCE in one Arrow batch (the
    heavy work is O(payloads), not O(corpus)); per-doc attachment is a
    broadcast join on the 8-row stats frame — decode-once-attach-
    everywhere, the codebook idiom."""
    import pandas as pd

    from laygo_python_spark.operators.jpeg import jpeg_decode_coefficients

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 8).cast("int").alias("ord")
    )
    pay = spark.read.parquet(f"{_jpeg_arith_dir()}/payloads.parquet")

    def run(batches):
        for pdf in batches:
            rows = []
            for ordi, name, payload in zip(pdf["ord"], pdf["name"], pdf["payload"]):
                coefs = jpeg_decode_coefficients(bytes(payload))
                if coefs is None:  # codec broke — fail loudly, never skew stats
                    raise ValueError(f"arithmetic decode failed for {name}")
                dc = abs_sum = l0 = blocks = 0
                for arr in coefs.values():
                    flat = arr.reshape(-1, 64).astype("int64")
                    blocks += flat.shape[0]
                    dc += int(flat[:, 0].sum())
                    abs_sum += int(abs(flat).sum())
                    l0 += int((flat != 0).sum())
                rows.append((int(ordi), str(name), len(coefs), blocks, dc, abs_sum, l0))
            yield pd.DataFrame(
                rows,
                columns=["ord", "name", "n_components", "n_blocks", "dc_sum",
                         "coef_abs_sum", "coef_l0"],
            )

    stats = pay.mapInPandas(
        run,
        schema="ord int, name string, n_components int, n_blocks long, "
        "dc_sum long, coef_abs_sum long, coef_l0 long",
    )
    return docs.join(F.broadcast(stats), "ord").select(
        "doc_id", "name", "n_components", "n_blocks", "dc_sum",
        "coef_abs_sum", "coef_l0",
    )


def _pq_curve_oracle(ms=(8, 16, 32), ksub: int = 64, n_queries: int = 20, k: int = 10) -> str:
    """Per-m replay of normalize → encode → distortion AND normalize →
    ADC top-k → recall, all against the committed codebooks; truth is
    the exact cosine ranking, shared across the grid."""
    from laygo_python_spark.operators.ann_artifacts import PQ_PATH

    parts = [f"""WITH {_ann_key_ctes()},
    nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
    en AS (SELECT vec_id,
                  list_transform(v, x -> x / (CASE WHEN nv = 0 THEN 1.0 ELSE nv END)) AS vn
           FROM nrm),
    truth AS (SELECT query_id, neighbor_id FROM (
        SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY x.vec_id
                   ORDER BY list_cosine_similarity(x.v, y.v) DESC, y.vec_id) AS rn
        FROM e x JOIN e y ON y.vec_id <> x.vec_id
        WHERE x.vec_id < {n_queries}) WHERE rn <= {k}),
    tt AS (SELECT count(*) AS n_truth FROM truth)"""]
    selects = []
    for m in ms:
        dsub = 64 // m
        parts.append(f""",
    cb{m} AS (SELECT a.s, a.code, a.centroid FROM read_parquet('{PQ_PATH}') a, key
           WHERE a.m = {m} AND a.ksub = {ksub} AND a.n_corpus = key.nc AND a.sig = key.ks),
    sub{m} AS (SELECT vec_id, sp.i AS s, vn[sp.i*{dsub}+1 : sp.i*{dsub}+{dsub}] AS xs
            FROM en, (SELECT unnest(range({m})) AS i) sp),
    enc{m} AS (SELECT vec_id, s, code, d2, xx FROM (
        SELECT u.vec_id, u.s, c.code,
               list_dot_product(c.centroid, c.centroid)
               - 2*list_dot_product(u.xs, c.centroid) AS d2,
               list_dot_product(u.xs, u.xs) AS xx,
               row_number() OVER (PARTITION BY u.vec_id, u.s ORDER BY
                 list_dot_product(c.centroid, c.centroid)
                 - 2*list_dot_product(u.xs, c.centroid), c.code) AS rn
        FROM sub{m} u JOIN cb{m} c ON c.s = u.s) WHERE rn = 1),
    dist{m} AS (SELECT avg(vd) AS avg_distortion FROM (
        SELECT vec_id, sum(d2 + xx) AS vd FROM enc{m} GROUP BY vec_id)),
    ranked{m} AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   sum(list_dot_product(q.xs, c.centroid)) DESC, n.vec_id) AS rn
        FROM enc{m} n JOIN cb{m} c ON c.s = n.s AND c.code = n.code
        JOIN sub{m} q ON q.s = n.s
        WHERE q.vec_id < {n_queries} AND q.vec_id <> n.vec_id
        GROUP BY q.vec_id, n.vec_id) WHERE rn <= {k}),
    hits{m} AS (SELECT count(*) AS hits FROM ranked{m} r
                JOIN truth t ON t.query_id = r.query_id
                           AND t.neighbor_id = r.neighbor_id)""")
        selects.append(
            f"""SELECT {m} AS m, {m} AS bytes_per_vec,
           round(d.avg_distortion, 6) AS avg_distortion,
           round(h.hits / CAST(tt.n_truth AS DOUBLE), 6) AS recall_at_{k}
    FROM dist{m} d, hits{m} h, tt"""
        )
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(selects) + "\n    ORDER BY m"


@query("pq_m_distortion_curve", oracle=_pq_curve_oracle())
def pq_m_distortion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code-size tuning curve — the compressed-domain knob next to
    ivf_nprobe_recall_curve's probe-depth knob: for m in {8, 16, 32}
    bytes per vector (committed codebooks, ksub=64), the measured
    (avg quantization distortion, recall@10 vs exact brute force) —
    what a 100 TB operator reads before choosing how small the stored
    codes can go. Distortion rides the encode pass itself
    (pq_encode(dist_col=...) — the argmin matmul already computes it);
    recall reuses the production pq_topk ADC path per grid point; the
    exact ground truth is the same gate-scale/sampled audit input as
    the other tuning curves. DuckDB replays encode, distortion, ADC
    ranking, the truth join and the fold per m from the same committed
    artifact."""
    from functools import reduce as _reduce

    from laygo_python_spark.operators.ann_artifacts import load_pq_codebooks
    from laygo_python_spark.operators.pq import pq_encode, pq_topk, train_codebooks
    from laygo_python_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    truth = pin(brute_force_topk(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("__t")
    ))  # feeds every grid point + the denominator
    nt = truth.agg(F.count(F.lit(1)).alias("__n_truth"))
    parts = []
    for m in (8, 16, 32):
        cb = load_pq_codebooks(sf_dir, m=m, ksub=64)
        if cb is None:
            cb = train_codebooks(emb, m=m, ksub=64)
        enc = pq_encode(emb, cb, dist_col="__dist")
        davg = enc.agg(F.avg("__dist").alias("__avg_dist"))
        hits = (
            pq_topk(enc.drop("__dist"), queries_df, cb, k=10)
            .join(F.broadcast(truth), ["query_id", "neighbor_id"], "left")
            .agg(F.sum(F.coalesce(F.col("__t"), F.lit(0))).alias("__hits"))
        )
        parts.append(
            davg.crossJoin(F.broadcast(hits)).select(
                F.lit(m).alias("m"),
                F.lit(m).alias("bytes_per_vec"),
                F.round("__avg_dist", 6).alias("avg_distortion"),
                F.col("__hits"),
            )
        )
    out = _reduce(lambda a, b: a.unionByName(b), parts)
    return (
        out.crossJoin(F.broadcast(nt))
        .select(
            "m",
            "bytes_per_vec",
            "avg_distortion",
            F.round(
                F.col("__hits") / F.col("__n_truth").cast("double"), 6
            ).alias("recall_at_10"),
        )
        .orderBy("m")
    )
