"""Full-catalog plan audit: one row per registered query with the
plan-shape facts the 100 TB posture cares about — exchange count,
broadcast-join use, Python-eval (UDF) stages, single-partition
exchanges, and window nodes. The compact complement to PLANS.md (full
formatted plans, headliners only): PLANS.md is for reading one plan,
this is for sweeping all of them for regressions.

Single-partition exchanges and windows are HAZARD FLAGS, not errors —
a top-k output sort over an already-aggregated frame is fine; a window
over a fact table is not. The audit prints the flag so a human (or the
next round's builder) reviews the hit list instead of grepping 210
plans. Known-benign hits are listed in _EXPECTED with the reason.

Usage: python tools/plan_audit.py [sf_dir] > PLAN_AUDIT.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from laygo_python_spark.plans import physical_plan  # noqa: E402
from laygo_python_spark.queries import QUERIES, load_all  # noqa: E402
from laygo_python_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def audit_one(name: str, fn, spark) -> dict | None:
    try:
        plan = physical_plan(fn(spark, SF_DIR))
    except Exception as exc:  # noqa: BLE001 — a build error is a row, not a crash
        return {"name": name, "error": f"{type(exc).__name__}: {exc}"[:120]}
    return {
        "name": name,
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobinPartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "single_partition": plan.count("Exchange SinglePartition"),
        "windows": plan.count("Window"),
    }


def main() -> None:
    global SF_DIR
    if len(sys.argv) > 1:
        SF_DIR = sys.argv[1]
    load_all()
    spark = get_spark("plan_audit")
    print("# PLAN_AUDIT — plan-shape sweep of every registered query")
    print()
    print(
        f"Generated by tools/plan_audit.py at {SF_DIR} (plan shape is "
        "scale-independent; AQE runtime re-planning not shown). "
        "single_partition / windows are hazard FLAGS to review, not "
        "errors — output-side sorts and bounded-group windows are fine."
    )
    print()
    print(
        "r11 triage of the single-partition hits (r10 classes re-checked; "
        "two new hits, both class (a): lsh_threshold_tuning's single "
        "partition receives the SIX-row min-bands grid fold and the "
        "1-row recall denominator; embedding_cell_drift's receives the "
        "merged ≤2·16-row cell histograms for the global PSI/JSD fold): "
        "every flagged query "
        "falls in one of two benign classes — (a) a global SCALAR "
        "aggregate's final stage (count/avg/corpus constants: bm25's "
        "n_docs+avgdl, tfidf's N, the 1-row certificates), where the "
        "single partition receives one partial row per task; or (b) "
        "ngram_jaccard_pairs' bitmask strategy, whose global "
        "row_number window is gated by an explicit n_vocab <= 64 probe "
        "(operators/dedup.py) — 64 rows max through the single task. "
        "No flagged plan funnels fact-table-sized data through one "
        "partition."
    )
    print()
    print("| query | exch | bcast | py | 1-part | window |")
    print("|---|---|---|---|---|---|")
    hazards = []
    for name in sorted(QUERIES):
        row = audit_one(name, QUERIES[name], spark)
        if row is None:
            continue
        if "error" in row:
            print(f"| {name} | ERROR: {row['error']} | | | | |")
            continue
        print(
            f"| {name} | {row['exchanges']} | {row['broadcasts']} "
            f"| {row['python_stages']} | {row['single_partition']} "
            f"| {row['windows']} |"
        )
        if row["single_partition"]:
            hazards.append(name)
    print()
    print(f"single-partition hits ({len(hazards)}): {', '.join(hazards)}")


if __name__ == "__main__":
    main()
