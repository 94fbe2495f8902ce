"""Scale smoke for the text-hygiene ops (repetition scoring + eval-set
decontamination) on a synthesized corpus ≈40× sf0.1, with PLANTED
contamination: every 20th-plus-5 doc is an exact copy of an eval doc, so
every planted doc must be flagged. Random 4-gram collisions over the
500-word vocab are ~0.0006%/gram — reported separately as noise.

Usage: python tools/text_scale_smoke.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from laygo_python_spark.session import get_spark
from tools.scale_smoke import VOCAB


def synth_docs(spark, n_docs: int, words_per_doc: int = 40):
    """Eval split = doc_id % 20 == 0. Planted contamination: doc_id % 20
    == 5 copies the text of the eval doc at doc_id - 5."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = spark.range(0, n_docs, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 == 5, F.col("id") - 5).otherwise(F.col("id")).alias("seed"),
        F.when(F.col("id") % 20 == 0, "eval").otherwise("train").alias("split"),
    )
    words = F.transform(
        F.sequence(F.lit(1), F.lit(words_per_doc)),
        lambda i: F.element_at(vocab, (F.pmod(F.xxhash64(F.col("seed"), i), F.lit(len(VOCAB))) + 1).cast("int")),
    )
    return base.select("doc_id", "split", F.concat_ws(" ", words).alias("text"))


def grams(df, n: int):
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return df.select("doc_id", "split", F.explode(starts).alias("i"), toks.alias("toks")).select(
        "doc_id", "split", F.concat_ws(" ", F.slice("toks", F.col("i"), n)).alias("g")
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("text_scale_smoke")
    docs = synth_docs(spark, n_docs).persist()
    n = docs.count()
    planted = docs.filter((F.col("doc_id") % 20 == 5)).count()

    # Scale path: xxhash64 the gram string before the join — the
    # broadcast ships int64s, not strings (measured 12.4s vs 16.7s raw
    # strings vs 22.5s hashing the token array directly, which falls out
    # of codegen). 64-bit collisions only ADD flags (conservative).
    t0 = time.time()
    g = grams(docs, 4).select("doc_id", "split", F.xxhash64("g").alias("h"))
    eval_grams = g.filter(F.col("split") == "eval").select("h").distinct()
    flagged = (
        g.filter(F.col("split") == "train")
        .join(F.broadcast(eval_grams), "h")
        .select("doc_id")
        .distinct()
        .persist()
    )
    n_flagged = flagged.count()
    t_decon = time.time() - t0
    planted_found = flagged.filter(F.col("doc_id") % 20 == 5).count()

    t0 = time.time()
    bigrams = grams(docs, 2).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    rep = bigrams.groupBy("doc_id").agg(
        (F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / F.sum("c")).alias("frac")
    )
    n_rep = rep.count()
    t_rep = time.time() - t0

    print(json.dumps({
        "n_docs": n,
        "planted_contaminated": planted,
        "planted_found": planted_found,
        "flagged_total": n_flagged,
        "noise_flags": n_flagged - planted_found,
        "decontaminate_s": round(t_decon, 1),
        "repetition_docs_scored": n_rep,
        "repetition_s": round(t_rep, 1),
    }))
    assert planted_found == planted, f"missed {planted - planted_found} planted contaminated docs"


if __name__ == "__main__":
    main()
