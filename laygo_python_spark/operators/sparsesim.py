"""Sparse-vector similarity over hashed TF-IDF document vectors — the
classical IR retrieval plan, complementing the dense-embedding family:
when no trained embeddings exist (or the vector space is the vocabulary
itself), documents are sparse vectors and the scalable cosine is an
INVERTED-INDEX join — postings pair only where both sides share a
bucket, so the cost is sum_bucket(|q postings| x |c postings|), never a
dense scan of vectors that would be absurd to materialize at
vocab-sized dimensionality.

Feature hashing (md5-prefix mod ``buckets``) keeps the vector space
fixed-width and engine-replayable (Weinberger et al. 2009, "Feature
Hashing for Large Scale Multitask Learning"); TF-IDF weighting is the
smoothed ln((N+1)/(df+1))+1 form. Scale shape: tokenize/hash is
map-local; TF collapses to per-(doc, bucket) counts before any shuffle;
DF and N are bucket-count aggregates broadcast back; the dot-product
join shuffles only (doc, bucket, weight) postings. A stop-bucket guard
(``max_df_frac``) drops buckets present in more than that fraction of
documents — the same quadratic-bomb valve as the n-gram containment
join's max_df: a bucket every document touches would pair
|queries| x |corpus| rows through one hot key.

Reference-parity note: the reference engine (laygo) has no similarity
operators; this extends the SURVEY.md §2.6 uplift family alongside
operators/similarity.py (dense) and operators/dedup.py (set-based).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import md5_long


def _bucket(col: Column, buckets: int) -> Column:
    return F.pmod(md5_long(col, 8), F.lit(buckets))


def hashed_tfidf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """(id_col, bucket, w) sparse TF-IDF vectors.

    One token pass collapsed immediately to per-(doc, bucket) term
    counts (map-side partials; the shuffle never carries raw tokens);
    document frequency and the corpus size are bucket-level aggregates
    that ride back as a broadcast. ``max_df_frac`` < 1 drops buckets
    whose DF exceeds that fraction of the corpus — the stop-bucket
    valve for the downstream inverted join."""
    tok = docs.select(
        id_col, F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("tok")
    )
    tf = tok.select(id_col, _bucket(F.col("tok"), buckets).alias("bucket")).groupBy(
        id_col, "bucket"
    ).agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("bucket").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    lim = df_.crossJoin(F.broadcast(n)).filter(
        F.col("df") <= F.col("n") * max_df_frac
    )
    return (
        tf.join(F.broadcast(lim), "bucket")
        .select(
            id_col,
            "bucket",
            (
                F.col("tf").cast("double")
                * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + F.lit(1.0))
            ).alias("w"),
        )
    )


def sparse_cosine_topk(
    vecs: DataFrame,
    query_ids: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact cosine top-k over sparse (id, bucket, w) vectors via the
    inverted-index join: postings equi-join on bucket pairs only
    co-occurring buckets, partial products sum per (query, neighbor),
    norms ride as per-doc scalars. Similarities round to 6 decimals
    BEFORE ranking (round-then-rank, id tiebreak) so last-ulp
    summation-order drift can't flip a rank cross-engine.

    ``query_ids``: one-column frame of ids (broadcast — the probe set
    is small; for all-pairs similarity use the dedup/LSH family, not a
    top-k scan per document)."""
    norms = vecs.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")
    )
    q = (
        vecs.join(F.broadcast(query_ids), id_col)
        .select(F.col(id_col).alias("query_id"), "bucket", F.col("w").alias("qw"))
    )
    dots = (
        vecs.select(F.col(id_col).alias("neighbor_id"), "bucket", F.col("w").alias("cw"))
        .join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qw") * F.col("cw")).alias("dot"))
    )
    qn = norms.select(F.col(id_col).alias("query_id"), F.col("norm").alias("qnorm"))
    cn = norms.select(F.col(id_col).alias("neighbor_id"), F.col("norm").alias("cnorm"))
    scored = (
        dots.join(F.broadcast(qn), "query_id")
        .join(cn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("qnorm") * F.col("cnorm")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
