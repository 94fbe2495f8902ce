"""Trained text-quality classifier — the fastText/CCNet-style model
filter rung of a pretraining-data pipeline, done with the repo's
trained-state gating idiom.

Production corpora are filtered by a learned quality model (a linear
classifier over hashed bag-of-words features), not just hand rules:
hand heuristics (quality.py) seed LABELS, a distributed trainer fits a
model, and the fitted weights — not the rule — score every document.
This module implements that loop Spark-first:

* **Features**: hashed bag-of-words. Each token buckets to
  ``md5_31(token) % dim`` — the same 31-bit md5 fold the dedup family
  proved cross-engine (operators/dedup.py ``_shingle_hasher``),
  so DuckDB can replay feature extraction exactly.
* **Training** (``tools/train_quality_clf.py``): pyspark.ml
  ``LogisticRegression`` over the hashed count vectors — distributed
  treeAggregate LBFGS, the same "train with the cluster, commit the
  state" posture as the IVF centroids (operators/ivf.py). The seed
  labels come from an EXACT integer rule (``quality_label_expr``), so
  label replay never touches a float threshold.
* **Quantization**: fitted float weights are committed as FIXED-POINT
  int64 (``round(w * 2^20)``). Scoring then sums integers — the logit
  is bit-exact across engines and across summation orders, the same
  trick the g711/audio gates use for sample stats. A float logit would
  hash-mismatch on reduction order alone.
* **Scoring** (``score_quality``): pure Column algebra — tokenize,
  bucket, ``aggregate`` over a weight-map LITERAL (the model is a few
  hundred bytes; it rides the plan, no join, no shuffle, map-only).
  At 100 TB this is the ideal shape: whole-stage-codegen scan→project
  with zero Python.

Reference analog: the reference pipeline's map/filter stages
(laygo/transformers/transformer.py) compose hand predicates only; a
trained model filter is part of this repo's LLM-pipeline uplift.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_long

ARTIFACT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "artifacts",
    "textclf",
)
LR_PATH = f"{ARTIFACT_DIR}/quality_lr.parquet"

FP_SCALE = 1048576  # 2^20 — fixed-point scale for committed weights
DIM = 128  # hashed-feature dimensionality
TOKEN_SPLIT = "[^a-z0-9]+"  # lower-alnum tokenizer, RE2/Java-identical
STOPWORDS = ("the", "a")  # label-rule stop set (fixture function words)
# label = 1 (keep) iff 1000*stop_count <= THRESH_PERMILLE*total_count.
# Integer cross-multiplication: no float ratio ever compared, so Spark,
# DuckDB and the trainer agree on every label bit-for-bit.
THRESH_PERMILLE = 60


def tokens_col(text: Column) -> Column:
    """lower-alnum token array; empty strings from edge separators
    dropped (both engines' regex splits emit them)."""
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != F.lit(""))


def bucket_col(tok: Column, dim: int = DIM) -> Column:
    """md5_31(token) % dim — first 4 md5 bytes folded to 31 bits then
    bucketed, the dedup family's oracle-proven hash (``dedup._shingle_hasher``).
    DuckDB replay: ``('0x'||substr(md5(t),1,8))::BIGINT % 2147483648 %
    {dim}``."""
    h31 = md5_long(tok.cast("binary"), 8) % F.lit(2147483648)
    return h31 % F.lit(dim)


def quality_label_expr(text: Column) -> Column:
    """The exact-integer seed-label rule: 1 iff the stopword share is
    at most THRESH_PERMILLE/1000 of the tokens. Linear in token counts
    (sign(60*n - 1000*s)), so a linear model CAN represent it — what
    the trained classifier recovers, modulo hash collisions, is
    measured by ``quality_clf_eval``'s confusion matrix."""
    toks = tokens_col(text)
    stop = F.lit(list(STOPWORDS))
    s = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n = F.size(toks)
    return (s * 1000 <= n * THRESH_PERMILLE).cast("int")


def corpus_signature(sf_dir: str) -> tuple[int, int] | None:
    """(count, sum(n_chars)) of the documents fixture — the artifact
    key, exact integers both engines recompute trivially. None when the
    table isn't a plain local parquet file (callers then fall back to
    live training)."""
    path = f"{sf_dir}/documents.parquet"
    if not os.path.isfile(path):
        return None
    import pyarrow.parquet as pq_

    t = pq_.read_table(path, columns=["n_chars"])
    col = t.column("n_chars")
    import pyarrow.compute as pc

    return t.num_rows, int(pc.sum(col).as_py())


def load_weights(sf_dir: str, dim: int = DIM) -> tuple[dict[int, int], int] | None:
    """({bucket: w_fp}, intercept_fp) committed for this corpus, or
    None. Driver-side pyarrow read — the model is tiny; no Spark job."""
    key = corpus_signature(sf_dir)
    if key is None or not os.path.isfile(LR_PATH):
        return None
    import pyarrow.parquet as pq_

    rows = [
        r
        for r in pq_.read_table(LR_PATH).to_pylist()
        if (r["n_corpus"], r["sig"]) == key and r["dim"] == dim
    ]
    if not rows:
        return None
    w = {r["bucket"]: r["w_fp"] for r in rows if r["bucket"] >= 0}
    b = next(r["w_fp"] for r in rows if r["bucket"] == -1)
    return w, b


def score_quality(
    df: DataFrame,
    weights: dict[int, int],
    intercept_fp: int,
    text_col: str = "text",
    dim: int = DIM,
) -> DataFrame:
    """Append ``logit_fp`` (exact int64 fixed-point logit) and ``pred``
    (logit > 0) columns. Pure Column algebra: the weight map rides the
    plan as a literal (a linear text model is O(vocab) ints — smaller
    than the closure a broadcast would ship), the token fold runs in
    codegen, nothing shuffles, no Python on the hot path. mapside-only
    at any corpus size."""
    if not weights:  # degenerate model: intercept decides everything
        logit = F.lit(int(intercept_fp))
    else:
        pairs: list[Column] = []
        for k in sorted(weights):
            pairs += [F.lit(k).cast("long"), F.lit(int(weights[k])).cast("long")]
        wmap = F.create_map(*pairs)
        logit = F.aggregate(
            tokens_col(F.col(text_col)),
            F.lit(int(intercept_fp)).cast("long"),
            lambda acc, t: acc + F.coalesce(wmap[bucket_col(t, dim)], F.lit(0).cast("long")),
        )
    return df.withColumn("logit_fp", logit.cast("long")).withColumn(
        "pred", (F.col("logit_fp") > 0).cast("int")
    )
