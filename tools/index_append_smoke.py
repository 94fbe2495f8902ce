"""End-to-end incremental-pipeline scale smoke (r4 verdict ask #8):
build the stored LSH index over a large SEEN corpus once, then ingest
N batches with APPEND + MATCH against the growing artifact — asserting
the production property the append path exists for:

* per-batch cost is O(batch), not O(corpus): each append+match shingles
  only the batch, so its wall must be a small fraction of the build
  wall (which DID shingle the whole corpus) and must not grow as the
  index absorbs batches;
* matches are found against both the original corpus and PREVIOUS
  batches' accepted docs (the index grows — each batch plants one
  near-dup of a doc accepted in the previous batch);
* the artifact stays integer-only and its on-disk growth is
  proportional to the appended rows.

Usage: python tools/index_append_smoke.py [n_seen] [n_batches] [batch]
Defaults 10_000_000 / 10 / 100_000. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from laygo_python_spark.operators.dedup import (  # noqa: E402
    minhash_index,
    minhash_index_append,
    minhash_index_write,
    minhash_match_incremental,
)
from laygo_python_spark.session import get_spark  # noqa: E402


def synth_docs(spark, start: int, n: int, twin_of: int | None = None):
    """n docs with 12 id-derived pseudo-words each; doc `start` is a
    near-dup TWIN of doc `twin_of` (same words + 1 extra token) when
    given — the planted cross-batch match."""
    base = spark.range(start, start + n)
    words = F.concat_ws(
        " ",
        *[
            F.concat(F.lit(f"w{k}_"), F.conv(F.hex(F.xxhash64("id", F.lit(k))), 16, 10))
            for k in range(12)
        ],
    )
    docs = base.select(F.col("id").alias("doc_id"), words.alias("text"))
    if twin_of is not None:
        # lit() makes an int32; the original words hashed the int64 id
        # column and xxhash64 is type-sensitive — cast, or the "twin"
        # shares zero words with its original
        twin_words = F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{k}_"),
                    F.conv(F.hex(F.xxhash64(F.lit(twin_of).cast("long"), F.lit(k))), 16, 10),
                )
                for k in range(12)
            ],
            F.lit("extra"),
        )
        docs = docs.withColumn(
            "text", F.when(F.col("doc_id") == start, twin_words).otherwise(F.col("text"))
        )
    return docs


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    n_seen = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    batch = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    spark = get_spark("index_append_smoke")
    path = tempfile.mkdtemp(prefix="idx_append_smoke_")
    try:
        t0 = time.perf_counter()
        minhash_index_write(minhash_index(synth_docs(spark, 0, n_seen)), path)
        build_wall = time.perf_counter() - t0
        size_after_build = du(path)

        batch_walls, match_rows = [], []
        cursor = n_seen
        prev_accepted_head = None
        for b in range(n_batches):
            # each batch's first doc is a near-dup twin of the PREVIOUS
            # batch's first doc (already appended) — matched only if
            # the index actually grew
            twin = prev_accepted_head
            docs_b = synth_docs(spark, cursor, batch, twin_of=twin)
            t0 = time.perf_counter()
            m = minhash_match_incremental(docs_b, index_read(spark, path), mode="rep")
            n_matches = m.count()
            minhash_index_append(spark, path, docs_b, batch_id=b)
            batch_walls.append(round(time.perf_counter() - t0, 2))
            match_rows.append(n_matches)
            # plant the NEXT twin against a doc whose text was NOT
            # overridden (doc `cursor` may itself be a twin — its text
            # differs from the id-derived formula the twin generator
            # replays)
            prev_accepted_head = cursor + 1
            cursor += batch

        size_final = du(path)
        avg_batch = sum(batch_walls) / len(batch_walls)
        # planted cross-batch twins found from batch 1 on → the index grew
        grew = all(r >= 1 for r in match_rows[1:])
        # O(batch): a re-shingling implementation would cost ~build_wall
        # per batch; require an order of magnitude under it, and no
        # monotone blowup across batches
        obatch = avg_batch < build_wall * 0.2 and max(batch_walls[-3:]) < 3 * max(
            batch_walls[0], 1e-9
        )
        print(
            json.dumps(
                {
                    "n_seen": n_seen,
                    "n_batches": n_batches,
                    "batch": batch,
                    "build_wall_s": round(build_wall, 1),
                    "batch_walls_s": batch_walls,
                    "avg_batch_s": round(avg_batch, 2),
                    "match_rows": match_rows,
                    "index_bytes_after_build": size_after_build,
                    "index_bytes_final": size_final,
                    "growth_bytes_per_appended_doc": round(
                        (size_final - size_after_build) / (n_batches * batch), 1
                    ),
                    "cross_batch_matches_found": grew,
                    "per_batch_is_o_batch": obatch,
                    "ok": bool(grew and obatch),
                }
            )
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def index_read(spark, path):
    from laygo_python_spark.operators.dedup import minhash_index_read

    return minhash_index_read(spark, path)


if __name__ == "__main__":
    main()
