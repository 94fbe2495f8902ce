"""Scale smoke for the warehouse/id operators at 10M+ rows.

Checks the properties that small fixtures can't: snapshot_diff classifies
10M-key snapshots without moving payloads, and assign_sequential_ids
produces a dense 0..n-1 numbering without a single-partition funnel.

Usage: python tools/warehouse_scale_smoke.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from laygo_python_spark.operators.ids import assign_sequential_ids  # noqa: E402
from laygo_python_spark.operators.warehouse import snapshot_diff  # noqa: E402
from laygo_python_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark("warehouse_scale_smoke")

    # snapshot_diff: old = [0, n), new = [n/10, n + n/10) with every 100th
    # overlapping row's payload changed.
    t0 = time.perf_counter()
    tenth = n // 10
    old = spark.range(0, n).select(
        F.col("id").alias("k"), F.concat(F.lit("payload-"), F.col("id")).alias("v")
    )
    new = spark.range(tenth, n + tenth).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 == 0, F.concat(F.lit("changed-"), F.col("id")))
        .otherwise(F.concat(F.lit("payload-"), F.col("id")))
        .alias("v"),
    )
    counts = {
        r["change_type"]: r["n"]
        for r in snapshot_diff(old, new, on=["k"]).groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    dt = time.perf_counter() - t0
    overlap_changed = sum(1 for k in range(tenth, n) if k % 100 == 0)
    assert counts["removed"] == tenth, counts
    assert counts["added"] == tenth, counts
    assert counts["changed"] == overlap_changed, (counts, overlap_changed)
    print(f"snapshot_diff {n:,} keys: {counts} in {dt:.1f}s")

    # assign_sequential_ids: dense numbering of n shuffled rows.
    t0 = time.perf_counter()
    df = spark.range(0, n).select((F.col("id") * 2654435761 % n).alias("k"))
    out = assign_sequential_ids(df, order_by=["k"], num_partitions=64)
    out.write.format("noop").mode("overwrite").save()
    dt_op = time.perf_counter() - t0

    t0 = time.perf_counter()
    stats = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.count_distinct("seq_id").alias("distinct_ids"),
    ).collect()[0]
    dt_check = time.perf_counter() - t0
    assert stats["rows"] == n and stats["lo"] == 0 and stats["hi"] == n - 1
    assert stats["distinct_ids"] == n
    print(
        f"assign_sequential_ids {n:,} rows: dense 0..{stats['hi']:,} "
        f"op {dt_op:.1f}s (+{dt_check:.1f}s exactness check)"
    )


if __name__ == "__main__":
    main()
