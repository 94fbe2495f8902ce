"""Grouped sequence-packing scale smoke: pack_sequences_grouped at 10^6
docs (default) across 256 md5-routed groups, asserting the packing
invariants hold at scale and the cost stays linear:

- conservation: every doc lands in exactly one bin (sum n_docs) and no
  token is lost (sum total_tokens == sum input tokens);
- budget: no multi-doc bin exceeds the budget (single oversized docs
  get a bin of their own by contract);
- fill: first-fit-decreasing packs multi-doc bins near the budget
  (mean fill of multi-doc bins > 85% on a lognormal-ish length mix);
- scaling: wall at n vs n/8 is ~linear (groups are the parallel unit,
  in-group cost is O(docs x max_open)).

Usage: python tools/packing_scale_smoke.py [n_docs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from laygo_python_spark.operators.packing import pack_sequences_grouped
from laygo_python_spark.session import get_spark

BUDGET = 2048


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 — an independent uniform word PER id, so the
    synthetic corpus is a pure function of doc_id (batch/partition
    layout cannot change it, unlike seeding one Generator from the
    whole batch's id array)."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def synth_docs(spark, n: int):
    """Deterministic per-row lognormal-ish token counts (each doc's
    length is a function of its id alone) — the long-tailed doc-length
    mix packing exists for."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            # Box-Muller from two per-id SplitMix64 uniforms -> one
            # standard normal per id, then exp(5 + 1*z) lognormal.
            u1 = (_splitmix64(ids) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            u2 = (_splitmix64(ids + n) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            z = np.sqrt(-2.0 * np.log(u1 + 1e-300)) * np.cos(2.0 * np.pi * u2)
            toks = np.minimum(np.exp(5.0 + z).astype(np.int64) + 1, 8192)
            yield pd.DataFrame({"doc_id": ids, "n_tokens": toks})

    return spark.range(0, n, 1, 32).mapInPandas(gen, schema="doc_id long, n_tokens long")


def run(spark, n: int) -> dict:
    docs = synth_docs(spark, n).persist()
    totals = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok")
    ).collect()[0]
    t0 = time.perf_counter()
    bins = pack_sequences_grouped(docs, budget=BUDGET, n_groups=256).persist()
    stats = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("docs_packed"),
        F.sum("total_tokens").alias("tok_packed"),
        F.sum(F.when((F.col("n_docs") > 1) & (F.col("total_tokens") > BUDGET), 1).otherwise(0)).alias(
            "over_budget_multi"
        ),
        F.avg(
            F.when(F.col("n_docs") > 1, F.col("total_tokens") / float(BUDGET))
        ).alias("multi_fill"),
    ).collect()[0]
    sec = round(time.perf_counter() - t0, 2)
    bins.unpersist()
    docs.unpersist()
    assert stats.docs_packed == totals.n, (stats.docs_packed, totals.n)
    assert stats.tok_packed == totals.tok, (stats.tok_packed, totals.tok)
    assert stats.over_budget_multi == 0
    assert stats.multi_fill > 0.85, stats.multi_fill
    return {
        "n_docs": n,
        "n_bins": stats.n_bins,
        "multi_fill": round(float(stats.multi_fill), 4),
        "sec": sec,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("packing_scale")
    spark.range(0, 1000, 1, 32).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    small = run(spark, n // 8)
    big = run(spark, n)
    print(
        json.dumps(
            {
                "small": small,
                "big": big,
                "scaling_ratio": round(big["sec"] / max(small["sec"], 1e-9), 2),
            }
        )
    )


if __name__ == "__main__":
    main()
