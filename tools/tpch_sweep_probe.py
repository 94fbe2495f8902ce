"""Focused TPC-H sweep probe for A/B bisection across checkouts.

r10 left one unresolved anomaly: the 22-shape relational sweep read
~30% slower than r9 even judge-isolated on a quiet box, with ZERO
relational code changed between the rounds. This probe runs JUST the
sweep — same materialize/quiesce protocol as bench.py — from an
arbitrary repo root, so two checkouts can be timed back-to-back in the
same process-adjacent conditions (same box, same page cache, minutes
apart):

    python tools/tpch_sweep_probe.py . 6
    python tools/tpch_sweep_probe.py path/to/other/checkout 6

Each invocation is its own JVM (fresh SparkSession) — cross-checkout
state can't leak. Prints one JSON line with min/all pass times, the
calibration probe, and load averages.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 6
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

sys.path.insert(0, REPO)

import bench  # noqa: E402 — the checkout's own bench machinery
from laygo_python_spark.session import get_spark  # noqa: E402

assert bench.__file__.startswith(REPO), bench.__file__

import __spark_entry__ as entrymod  # noqa: E402

assert os.path.abspath(entrymod.__file__).startswith(REPO), entrymod.__file__


def main() -> None:
    qs = entrymod.queries()
    sweep = [n for n in bench.TPCH_SWEEP if n in qs]
    spark = get_spark("tpch-sweep-probe")
    bench.materialize(qs["q1_pricing_summary"](spark, SF_DIR))  # warm-up
    try:
        load0 = round(os.getloadavg()[0], 2)
    except OSError:
        load0 = -1.0
    times = []
    bench.quiesce(spark, deep=True)  # once; light between passes (see bench.py)
    for i in range(RUNS):
        if i:
            bench.quiesce(spark)
        t0 = time.perf_counter()
        for n in sweep:
            bench.materialize(qs[n](spark, SF_DIR))
        times.append(round(time.perf_counter() - t0, 3))
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    calib = bench.calibration_probe(spark) if hasattr(bench, "calibration_probe") else {}
    print(
        json.dumps(
            {
                "repo": REPO,
                "n_shapes": len(sweep),
                "min": min(times),
                "times": times,
                "load1": [load0, load1],
                "calibration": calib,
                "sf_dir": SF_DIR,
            }
        )
    )


if __name__ == "__main__":
    main()
