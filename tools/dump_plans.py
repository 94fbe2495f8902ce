"""Generate PLANS.md: the formatted physical plan of every bench
headliner, for plan-level review without running anything.

Usage: python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from laygo_python_spark.plans import formatted_plan  # noqa: E402
from laygo_python_spark.queries import QUERIES, load_all  # noqa: E402
from laygo_python_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    load_all()
    spark = get_spark("dump_plans")
    print("# PLANS — formatted physical plans of the bench headliners")
    print()
    print(
        "Generated by tools/dump_plans.py at sf0.001 (plan shape is "
        "scale-independent; AQE runtime re-planning not shown). Read for: "
        "PushedFilters reaching scans, ReadSchema pruning, broadcast vs "
        "shuffle joins, partial+final aggregation, WholeStageCodegen spans."
    )
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        print(f"\n## {name}\n")
        doc = " ".join(line.strip() for line in (fn.__doc__ or "").strip().splitlines())
        first = doc.split(". ")[0]
        if first:
            print(f"{first}.\n")
        print("```")
        try:
            print(formatted_plan(fn(spark, SF_DIR)).rstrip())
        except Exception as exc:  # noqa: BLE001
            print(f"(plan unavailable: {type(exc).__name__}: {exc})")
        print("```")


if __name__ == "__main__":
    main()
