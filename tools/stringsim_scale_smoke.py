"""Scale smoke for the PassJoin edit-distance join: 500k random strings
with planted distance-1 partners — all planted pairs must be found, and
the candidate count (not n²) is what gets verified.

Usage: python tools/stringsim_scale_smoke.py [n]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from laygo_python_spark.operators.stringsim import edit_distance_pairs  # noqa: E402
from laygo_python_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 500_000
    n_planted = 1000
    spark = get_spark("stringsim_scale_smoke")

    # Base corpus: 12-char strings from xxhash64 hex — effectively random,
    # so natural distance-1 collisions are negligible.
    base = spark.range(0, n).select(
        F.col("id"),
        F.substring(F.lower(F.hex(F.xxhash64("id"))), 1, 12).alias("s"),
    )
    # Planted partners: ids n..n+999 copy string of id 0..999 with ONE
    # char substituted ('z' never occurs in lowercase hex).
    planted = (
        base.filter(F.col("id") < n_planted)
        .select(
            (F.col("id") + n).alias("id"),
            F.concat(F.lit("z"), F.substring("s", 2, 11)).alias("s"),
        )
    )
    corpus = base.unionByName(planted)

    t0 = time.perf_counter()
    pairs = edit_distance_pairs(corpus, id_col="id", str_col="s", max_dist=1)
    found = pairs.filter(
        (F.col("id_b") - F.col("id_a") == n) & (F.col("id_a") < n_planted)
    ).count()
    total = pairs.count()
    dt = time.perf_counter() - t0
    assert found == n_planted, (found, n_planted)
    print(
        f"edit_distance_pairs n={n + n_planted:,}: all {n_planted} planted dist-1 "
        f"pairs found, {total} total pairs, {dt:.1f}s (brute force would be "
        f"{(n + n_planted) ** 2 // 2:,} levenshtein calls)"
    )


if __name__ == "__main__":
    main()
