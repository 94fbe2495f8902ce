"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.01; compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from laygo_python_spark.session import TABLES, get_spark  # noqa: E402


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:  # NaN
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if "/" not in a)

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    spark = get_spark("verify_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            # Fetch through pandas like the driver's canonicalizer does on
            # BOTH sides: a nullable Spark bigint renders float64 here just
            # as DuckDB's does, so int-vs-float render drift only appears
            # where it would for the driver (e.g. a bare HUGEINT sum).
            spdf = sdf.toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
            scols = list(spdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            # Fetch through pandas, NOT fetchall(): the driver's gate
            # canonicalizes pandas frames, where DuckDB HUGEINT/DECIMAL
            # render as float64 while fetchall() yields Python ints —
            # fetchall() masked the CORRECTNESS_r08 embedding_binary_quantize
            # red (float '6.0' vs int '6' hash differently downstream).
            ddf = rel.df()
            drows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
            dcols = list(ddf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            failures += 1
            continue
        problems = []
        # Dtype-kind divergence: an integer Spark column vs a float-rendered
        # DuckDB column (HUGEINT sum promotion) is a guaranteed driver hash
        # mismatch even when values are equal.
        for c in scols:
            if c in ddf.columns:
                sk, dk = spdf[c].dtype.kind, ddf[c].dtype.kind
                if {sk, dk} == {"i", "f"}:
                    problems.append(
                        f"dtype kind divergence on {c!r}: spark {spdf[c].dtype} vs duckdb {ddf[c].dtype}"
                    )
        # Driver-canonicalizer contract: oracle queries must emit scalar
        # columns only (pandas sort_values crashes on array/map cells —
        # CORRECTNESS_r07 embedding_pca_project). Mirror of the
        # test_plan_sweep lint, but this one also covers run-to-completion
        # queries that the plan sweep skips.
        from pyspark.sql.types import ArrayType, MapType

        nonscalar = [
            f.name for f in sdf.schema.fields if isinstance(f.dataType, (ArrayType, MapType))
        ]
        if nonscalar:
            problems.append(f"array/map-typed output columns {nonscalar}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if not problems:
            sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
            if sh != dh:
                problems.append(f"value hash {sh} != {dh}")
                sset = set("|".join(_norm(v) for v in sorted(r, key=str)) for r in srows)
                dset = set("|".join(_norm(v) for v in sorted(r, key=str)) for r in drows)
                s_only, d_only = list(sset - dset)[:3], list(dset - sset)[:3]
                if s_only:
                    problems.append(f"spark-only e.g. {s_only}")
                if d_only:
                    problems.append(f"duck-only e.g. {d_only}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
