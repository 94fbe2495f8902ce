"""Generate CATALOG.md from the live query registry: every registered
query, its oracle status, and the first line of its docstring.

Usage: python tools/gen_catalog.py > CATALOG.md
"""

from __future__ import annotations

import glob
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from laygo_python_spark.queries import ORACLES, QUERIES, load_all  # noqa: E402


def _driver_checked() -> set[str]:
    """Names with a row in any driver CORRECTNESS artifact — the only
    queries the DRIVER itself has gated; everything else is checked by
    the builder's mimic of the gate (tools/verify_oracle.py)."""
    seen: set[str] = set()
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        try:
            seen |= set(json.load(open(path)))
        except Exception:  # noqa: BLE001 — a malformed artifact shouldn't kill the catalog
            pass
    return seen


def main() -> None:
    load_all()
    driver = _driver_checked() & set(QUERIES)
    print("# CATALOG — registered queries (generated by tools/gen_catalog.py)")
    print()
    print(
        f"{len(QUERIES)} queries: {len(ORACLES)} carry a DuckDB oracle and "
        f"{len(QUERIES) - len(ORACLES)} are rows-only (imperative/"
        "approximate-by-design — each cross-validated in pytest instead). "
        f"Driver-gated so far: {len(driver)} of {len(QUERIES)} have appeared "
        "in a CORRECTNESS_r*.json rotation; the full catalog is verified "
        "every round by the builder's faithful mimic of the same gate "
        "(tools/verify_oracle.py, run logs committed as ORACLE_FULL_r*.txt)."
    )
    print()
    print(
        "**Output-schema constraint**: oracle-gated queries emit SCALAR "
        "columns only — the driver's pandas canonicalizer crashes sorting "
        "array/map cells (CORRECTNESS_r07 embedding_pca_project). Enforced "
        "by tests/test_plan_sweep.py::test_no_scale_killers and mirrored in "
        "tools/verify_oracle.py; emit exploded (id, pos, val) rows instead. "
        "The two `embedding_pca_*` queries and the `ann_*` stored-index "
        "family depend on committed trained artifacts (artifacts/ann/*, "
        "regenerated deterministically by tools/train_ann_artifacts.py)."
    )
    print()
    print("| Query | Oracle | What it does |")
    print("|---|---|---|")
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        doc = " ".join(line.strip() for line in (fn.__doc__ or "").strip().splitlines())
        first = doc.split(". ")[0].rstrip(".").replace("|", "\\|")
        if len(first) > 160:
            first = first[:157] + "..."
        mod = fn.__module__.rsplit(".", 1)[-1]
        kind = "SQL" if name in ORACLES else "rows-only"
        print(f"| `{name}` ({mod}) | {kind} | {first}. |")


if __name__ == "__main__":
    main()
