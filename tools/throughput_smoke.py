"""Throughput smoke: the reference's 4-op scalar workload at 1B rows.

The reference's own benchmark (BASELINE.md; reference
performance_test.py:409-416) is 1M rows single-core at ~11M rows/s. This
runs the identical semantics at 1,000× that volume through one
whole-stage-codegen'd range scan and reports engine throughput — the
"would it still work at scale" evidence for the flagship comparison.

Usage: python tools/throughput_smoke.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from laygo_python_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(float(sys.argv[1])) if len(sys.argv) > 1 else 1_000_000_000
    spark = get_spark("throughput_smoke")
    parts = max(2, min(256, n // 250_000))

    def workload():
        return (
            spark.range(0, n, 1, parts)
            .filter(F.col("id") % 2 == 0)
            .select((F.col("id") * 2).alias("value"))
            .filter(F.col("value") > 100)
            .select((F.col("value") + 1).alias("value"))
        )

    # warm-up (JIT)
    workload().write.format("noop").mode("overwrite").save()
    best = min(
        (lambda t0=time.perf_counter(): (
            workload().write.format("noop").mode("overwrite").save(),
            time.perf_counter() - t0,
        )[1])()
        for _ in range(3)
    )
    rows_per_s = n / best
    print(
        f"rows={n:,} tasks={parts} best={best:.2f}s "
        f"throughput={rows_per_s/1e6:.0f}M rows/s "
        f"(reference single-core ~11M rows/s → {rows_per_s/11e6:.0f}x)"
    )


if __name__ == "__main__":
    main()
