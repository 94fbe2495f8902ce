"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
feature distribution looks like a small high-quality TARGET corpus.

The published recipe, re-expressed relationally:

1. Hash every token into ``buckets`` bins (here the repo's md5-prefix
   convention — engine-portable and partitioning-independent, where the
   paper uses a rolling hash; any uniform hash works).
2. Fit two bag-of-hashed-ngrams multinomials with add-1 smoothing:
   ``p_target[b]`` over the target slice, ``p_raw[b]`` over the full
   corpus.
3. Score each document with its log importance weight
   ``sum_tokens log p_target[h(tok)] - log p_raw[h(tok)]`` and keep the
   top slice (the paper resamples with Gumbel noise; the deterministic
   top-k variant is used here so reruns and engines agree exactly —
   seeded Gumbel keys could be layered with the weighted_sample_topk
   machinery).

Scale shape: the token explode is map-local; the two model fits
aggregate into ``buckets`` rows (a broadcast-sized table no matter the
corpus size); the only data-sized shuffle carries (doc_id, bucket,
count) partial rows — bounded by docs x buckets, far smaller than the
token stream; the final per-doc fold is a partial+final agg and the
top slice plans as TakeOrderedAndProject (no global sort). No Python in
the hot path.

Reference-parity note: the reference engine (laygo) has no data-
selection operators; this extends the §2.6 scalar/agg family the same
way the dedup/ANN modules do (SURVEY.md uplift mandate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import md5_long
from ..session import pin


def hashed_token_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 128,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, bucket) rows with token multiplicity — whitespace tokens
    hashed through the md5-prefix 32-bit convention mod ``buckets``
    (identical in any md5-capable engine, independent of partitioning).
    """
    tok = df.select(
        id_col,
        *extra_cols,
        F.explode(F.split(F.trim(F.col(text_col)), " ")).alias("tok"),
    )
    b = F.pmod(md5_long(F.col("tok"), 8), F.lit(buckets))
    return tok.select(id_col, *extra_cols, b.alias("bucket"))


def dsir_log_weights(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 128,
) -> DataFrame:
    """Per-document DSIR log importance weight.

    Returns (id_col, n_tokens, log_weight) for EVERY document —
    ``log_weight`` rounded to 6 decimals (the repo's round-then-rank
    convention: downstream ordering compares the rounded value with an
    id tiebreak, so a last-ulp double-summation difference between
    engines cannot flip a selection).

    ``is_target`` is a boolean Column over ``docs`` marking the
    high-quality slice the selection should imitate (e.g.
    ``F.col("source") == "src0"``). The raw model is fit on the FULL
    corpus, matching the paper's raw-pool formulation.
    """
    tb = hashed_token_buckets(
        docs.withColumn("__is_target", is_target),
        text_col=text_col,
        id_col=id_col,
        buckets=buckets,
        extra_cols=("__is_target",),
    )

    # ONE pass over the token stream: collapse to per-(doc, bucket)
    # counts immediately (map-side partials make the shuffle carry at
    # most docs x buckets rows, never the raw tokens), and pin the
    # result — the two model fits AND the per-doc fold all derive from
    # this compact frame, so without the pin each would re-run the
    # explode + md5 over the full corpus (measured 3x the token pass at
    # 1M docs / 30M tokens in tools/selection_scale_smoke.py).
    db = pin(
        tb.groupBy(id_col, "__is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    # Model fits: bucket histograms (<= `buckets` rows each) + scalar
    # token totals. Smoothed log-ratio per bucket; raw covers every
    # bucket any document touches, so a left join from raw is total.
    raw = db.groupBy("bucket").agg(F.sum("cnt").alias("c_raw"))
    tgt = (
        db.filter(F.col("__is_target"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("c_tgt"))
    )
    n_raw = raw.agg(F.sum("c_raw").cast("double").alias("n_raw"))
    n_tgt = tgt.agg(
        F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("double").alias("n_tgt")
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(n_raw))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                    / (F.col("n_tgt") + F.lit(float(buckets)))
                )
                - F.log((F.col("c_raw") + 1) / (F.col("n_raw") + F.lit(float(buckets))))
            ).alias("lw"),
        )
    )

    # Per-doc bucket counts -> one broadcast join against the tiny
    # log-ratio table -> per-doc fold.
    return (
        db.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("cnt") * F.col("lw")), 6).alias("log_weight"),
        )
    )


def dsir_select_topk(
    docs: DataFrame,
    is_target: Column,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 128,
) -> DataFrame:
    """The selection step: rank all documents by (rounded) log weight
    desc with id tiebreak and keep the top ``k``. Plans as
    TakeOrderedAndProject — no global sort materializes."""
    w = dsir_log_weights(docs, is_target, text_col, id_col, buckets)
    # limit first (TakeOrderedAndProject over the full set), then number
    # the k survivors — the window runs over k rows, never the corpus.
    ranked = w.orderBy(F.desc("log_weight"), F.asc(id_col)).limit(k)
    num = Window.orderBy(F.desc("log_weight"), F.asc(id_col))
    return ranked.select(
        id_col,
        "n_tokens",
        "log_weight",
        F.row_number().over(num).cast("int").alias("rank"),
    )
