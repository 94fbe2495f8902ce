"""Deterministic sampling & dataset-mixing operators — training-data
pipeline staples. Everything is hash-based (md5, available in both
engines) rather than rand(): splits must be REPRODUCIBLE across runs,
engines, and partitionings — `df.sample()`'s seeded RNG changes with the
partitioning, a silent foot-gun for train/eval contamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.functions import md5_long
from laygo_python_spark.queries import query
from laygo_python_spark.session import read_table as _t


def hash_bucket(key: F.Column, buckets: int = 100) -> F.Column:
    """Stable bucket in [0, buckets) from the md5 of the key — identical
    in any engine with md5, independent of partitioning/run/engine."""
    return F.pmod(md5_long(key.cast("string"), 6), F.lit(buckets))


@query(
    "hash_split_train_eval",
    oracle="""
    SELECT CASE WHEN (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100) < 90
                THEN 'train' ELSE 'eval' END AS split,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split
    """,
)
def hash_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/10 train/eval split assigned by content-stable hash — the split
    of a document never changes when the corpus is re-partitioned,
    re-sharded, or grown (new docs hash independently)."""
    docs = _t(spark, sf_dir, "documents")
    split = F.when(hash_bucket(F.col("doc_id")) < 90, "train").otherwise("eval")
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").cast("long").alias("total_chars")
    )


@query(
    "training_mix_weights",
    oracle="""
    WITH bucketed AS (
      SELECT source,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100) AS b
      FROM documents)
    SELECT source, count(*) AS n_sampled
    FROM bucketed
    WHERE (source IN ('src0', 'src1') AND b < 80) OR (source NOT IN ('src0', 'src1') AND b < 20)
    GROUP BY source
    """,
)
def training_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: keep 80% of high-quality sources, 20% of
    the rest — the mixture-reweighting step of a pretraining data
    pipeline, with hash-deterministic membership (re-runs produce the
    exact same mix)."""
    docs = _t(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    hi = F.col("source").isin("src0", "src1")
    keep = (hi & (b < 80)) | (~hi & (b < 20))
    return docs.filter(keep).groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))


@query(
    "temperature_mix_weights",
    oracle="""
    WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
    p AS (SELECT source, n, n / t.total AS raw_share,
                 pow(n / t.total, 0.5) AS scaled
          FROM c, t),
    z AS (SELECT CAST(sum(scaled) AS DOUBLE) AS z FROM p)
    SELECT p.source, CAST(p.n AS BIGINT) AS n_docs,
           round(p.raw_share, 6) AS raw_share,
           round(p.scaled / z.z, 6) AS temp_share,
           round((p.scaled / z.z) / p.raw_share, 6) AS upsample_factor
    FROM p, z
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (alpha = 0.5): sampling shares
    proportional to p_s^alpha renormalized — the standard upweighting
    of small/rare sources in multilingual and multi-domain pretraining
    (alpha=1 keeps natural proportions, alpha→0 approaches uniform).
    Complements training_mix_weights' fixed keep-ratios with the
    principled curve; upsample_factor is the per-doc repetition rate a
    sampler would apply.

    One count aggregation; the two corpus scalars are 1-row cross
    joins, and the power/normalize arithmetic is written with the same
    association order in both engines (rounding rule on outputs only —
    inputs are exact integer counts)."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    p = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        (F.col("n") / F.col("total")).alias("raw_share"),
        F.pow(F.col("n") / F.col("total"), 0.5).alias("scaled"),
    )
    z = p.agg(F.sum("scaled").cast("double").alias("z"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round("raw_share", 6).alias("raw_share"),
        F.round(F.col("scaled") / F.col("z"), 6).alias("temp_share"),
        F.round((F.col("scaled") / F.col("z")) / F.col("raw_share"), 6).alias("upsample_factor"),
    )


@query(
    "leakage_safe_split",
    oracle="""
    WITH RECURSIVE tok AS (SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS g
                 FROM documents),
    grams AS (SELECT doc_id, g,
                     count(*) OVER (PARTITION BY doc_id) AS n_grams
              FROM tok),
    prs AS (
      SELECT a.doc_id AS pa, b.doc_id AS pb
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING CAST(count(*) AS DOUBLE)
             / (any_value(a.n_grams) + any_value(b.n_grams) - count(*)) >= 0.95),
    edges AS (SELECT pa AS s, pb AS d FROM prs UNION ALL SELECT pb, pa FROM prs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.d, r.label FROM edges e JOIN reach r ON r.node = e.s),
    cl AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node)
    SELECT d.doc_id,
           CAST(COALESCE(cl.cluster, d.doc_id) AS BIGINT) AS cluster,
           CASE WHEN (('0x' || substring(md5(CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR)), 1, 6))::BIGINT % 100) < 90
                THEN 'train' ELSE 'eval' END AS split
    FROM documents d LEFT JOIN cl ON cl.node = d.doc_id
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-proof 90/10 split (operators/dedup.cluster_split):
    near-duplicate documents (exact-Jaccard >= 0.95 pairs → connected
    components) are split as ATOMIC clusters keyed by the cluster
    label, so an eval document can never have a near-copy in train —
    the leak a per-document hash split (hash_split_train_eval) permits
    by construction. The oracle replays pair discovery, transitive
    closure (recursive CTE), the singleton fallback, and the identical
    md5 bucket per CLUSTER — every (doc_id, cluster, split) row is
    hash-gated, which proves both the clustering and that members
    co-locate (a split mismatch anywhere would flip a row)."""
    from laygo_python_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.95)
    return dedup.cluster_split(docs, pairs)
