"""Scale smoke for exact substring-span dedup (operators/dedup.
substring_span_pairs) on a synthesized corpus with PLANTED spans: every
40th-plus-7 doc carries an exact 30-token passage copied from the doc at
doc_id - 7, injected at a doc-dependent offset — so every planted pair
must surface as a span of EXACTLY 30 tokens at EXACTLY the planted
offsets. Background text is per-doc pseudo-random over a 500-word vocab,
so incidental >= 16-token exact matches between non-planted docs are
astronomically unlikely (~500^-16 per alignment) — any extra span is a
hard failure, making this a precision AND recall check.

Also exercises the max_df stop-gram valve: a corpus-wide 20-token
boilerplate header is prepended to EVERY doc; with max_df set below the
corpus size the header's k-grams are dropped before the self-join (the
O(d^2) fan-out the valve exists to prevent), so the header must NOT
appear as spans while the planted passages still must.

Usage: python tools/substring_scale_smoke.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from laygo_python_spark.operators.dedup import substring_span_pairs
from laygo_python_spark.session import get_spark
from tools.scale_smoke import VOCAB

HEADER_TOKENS = 20
PLANT_LEN = 30
WORDS_PER_DOC = 80
K = 8
MIN_LEN = 16


def synth_docs(spark, n_docs: int):
    """doc_id % 40 == 7 copies tokens [10, 10+PLANT_LEN) of the doc at
    doc_id - 7 into its own positions [25, 25+PLANT_LEN) (offsets counted
    AFTER the shared header). Every doc gets the same HEADER_TOKENS-token
    boilerplate prefix."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])

    def word_at(seed_col, i):
        return F.element_at(
            vocab, (F.pmod(F.xxhash64(seed_col, i), F.lit(len(VOCAB))) + 1).cast("int")
        )

    base = spark.range(0, n_docs, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 40 == 7, F.col("id") - 7)
        .otherwise(F.lit(None))
        .alias("donor"),
    )
    # Body position i (1-based): planted docs read donor positions
    # 10+1..10+PLANT_LEN at their own positions 25+1..25+PLANT_LEN.
    body = F.transform(
        F.sequence(F.lit(1), F.lit(WORDS_PER_DOC)),
        lambda i: F.when(
            F.col("donor").isNotNull() & (i > 25) & (i <= 25 + PLANT_LEN),
            word_at(F.col("donor"), i - 25 + 10),
        ).otherwise(word_at(F.col("doc_id"), i)),
    )
    header = F.transform(
        F.sequence(F.lit(1), F.lit(HEADER_TOKENS)),
        lambda i: word_at(F.lit(-1), i),
    )
    return base.select(
        "doc_id",
        F.concat_ws(" ", F.concat(header, body)).alias("text"),
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("substring_scale_smoke")
    docs = synth_docs(spark, n_docs).persist()
    docs.count()
    n_planted = n_docs // 40  # ids 7, 47, 87, ... < n_docs

    t0 = time.time()
    # max_df: planted pairs put each planted k-gram at exactly 2 corpus
    # positions; the header grams sit at n_docs positions. Any cutoff in
    # between keeps the signal and drops the boilerplate — 64 leaves
    # margin for vocab collisions.
    spans = substring_span_pairs(docs, k=K, min_len=MIN_LEN, max_df=64).persist()
    rows = spans.collect()
    elapsed = time.time() - t0

    # A planted span can genuinely extend by a token or two when the
    # pseudo-random background word ADJACENT to the plant happens to
    # match the donor's adjacent word (2 boundaries x 1/|vocab| per
    # pair; ~5 expected at 200k docs) — the operator reporting the
    # longer span is CORRECT maximality, so the check accepts any span
    # that covers the planted one on the planted diagonal with <= 3
    # tokens of slack per side. Anything else is a hard failure.
    planted_a, planted_b = 10 + HEADER_TOKENS, 25 + HEADER_TOKENS
    expected_pairs = {(d - 7, d) for d in range(7, n_docs, 40)}
    got_pairs: dict[tuple, tuple] = {}
    extra = []
    for r in rows:
        key = (r.doc_id_a, r.doc_id_b)
        covers_plant = (
            key in expected_pairs
            and r.start_a - r.start_b == planted_a - planted_b
            and planted_a - 3 <= r.start_a <= planted_a
            and planted_a + PLANT_LEN
            <= r.start_a + r.span_len
            <= planted_a + PLANT_LEN + 3
            and key not in got_pairs
        )
        if covers_plant:
            got_pairs[key] = (r.start_a, r.start_b, r.span_len)
        else:
            extra.append((r.doc_id_a, r.doc_id_b, r.start_a, r.start_b, r.span_len))
    missing = expected_pairs - set(got_pairs)
    ok = not missing and not extra and len(rows) == n_planted
    print(
        json.dumps(
            {
                "smoke": "substring_span_dedup",
                "n_docs": n_docs,
                "planted": n_planted,
                "spans_found": len(rows),
                "missing": len(missing),
                "extra": len(extra),
                "elapsed_sec": round(elapsed, 1),
                "pass": ok,
            }
        )
    )
    if missing:
        print("MISSING sample:", sorted(missing)[:5])
    if extra:
        print("EXTRA sample:", sorted(extra)[:5])
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
