"""Scalar function surface.

The reference has no function library — users write arbitrary Python
lambdas (SURVEY.md §2.6). Here the 600+ built-ins in
``pyspark.sql.functions`` are the primary surface (JVM-side, codegen'd);
this module re-exports them plus engine-specific helpers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.functions import *  # noqa: F401,F403 — deliberate re-export


def revenue(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """discounted revenue — the idiom every TPC-H-ish query repeats."""
    return F.col(price) * (1 - F.col(discount))


def normalized_text(col: str = "text") -> Column:
    """Whitespace-collapsed, lowercased text — the dedup normal form."""
    return F.lower(F.regexp_replace(F.col(col), r"\s+", " "))


def token_array(col: str = "text") -> Column:
    """Whitespace tokenizer (BPE-ish regex variant: split on non-word)."""
    return F.split(F.trim(F.col(col)), r"\s+")


def md5_long(col: Column, hex_chars: int, offset: int = 0) -> Column:
    """The key hash: ``hex_chars`` hex digits of ``md5(col)`` from
    ``offset`` on, as a long. It is the one hash DuckDB computes too
    (``('0x'||substr(md5(k), offset+1, hex_chars))::BIGINT``), so an
    oracle can replay every bucket, signature and register built on it."""
    return F.conv(F.substring(F.md5(col), offset + 1, hex_chars), 16, 10).cast("long")


def require_md5(what: str, *families: str | None) -> None:
    """The hash-family guard for stored sketches and index params: keys
    hash only with md5 (``md5_long``), so anything labelled otherwise —
    crc32, xxhash64, or no label at all (None) — was built by an older
    release, can never match a new key, and must be rebuilt."""
    bad = sorted({repr(f) for f in families if f != "md5"})
    if bad:
        raise ValueError(f"{what}: built with hash_fn {', '.join(bad)}; keys hash with md5 only — rebuild it")


def sketch_constants(sketch: DataFrame, what: str, *cols: str) -> list[Row]:
    """The distinct values of a sketch's constant columns (one tiny
    driver action), after ``require_md5`` on its ``hash_fn`` labels; a
    sketch without that column is unlabelled."""
    has_hf = "hash_fn" in sketch.columns
    rows = sketch.select(*cols, *(["hash_fn"] if has_hf else [])).distinct().collect()
    require_md5(what, *([r["hash_fn"] for r in rows] if has_hf else [None]))
    return rows


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed
    JVM-side with higher-order functions — no Python in the loop."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)
