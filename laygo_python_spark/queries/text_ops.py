"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (language-ID heuristic, quality scoring,
token counting, document fingerprinting).

Everything here is pure Column expressions — JVM-side, codegen'd, no
Python in the hot path — so it runs at 100 TB exactly as written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.functions import md5_long
from laygo_python_spark.queries import query
from laygo_python_spark.session import read_table as _t


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenizer → token count."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )


@query(
    "doc_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS avg_token_len,
           round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
                 / length(text), 4) AS space_ratio
    FROM documents
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/shape-based quality features — the cheap pre-filter stage of
    an LLM data pipeline (drop too-short / degenerate docs downstream)."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = F.size(F.split(F.trim(text), r"\s+")).cast("long")
    no_space_len = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(no_space_len.cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.round((F.length(text) - no_space_len).cast("double") / F.length(text), 4).alias("space_ratio"),
    )


@query(
    "lang_id_heuristic",
    oracle="""
    SELECT doc_id,
           CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5
                AS BIGINT) AS en_stopword_hits,
           CASE WHEN (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 >= 1
                THEN 'en' ELSE 'unknown' END AS lang_guess
    FROM documents
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic (count ' the ' hits).
    Deliberately simple and SQL-mirrorable; a production version widens
    the stopword table per language — still pure Column algebra.

    NOTE: replace-based counting does not see overlapping occurrences
    ('the the the' counts 2 with padding) — the oracle applies the
    identical transform so both sides agree by construction."""
    docs = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = (
        (F.length(padded) - F.length(F.replace(padded, F.lit(" the "), F.lit("")))) / 5
    ).cast("long")
    return docs.select(
        "doc_id",
        hits.alias("en_stopword_hits"),
        F.when(hits >= 1, "en").otherwise("unknown").alias("lang_guess"),
    )


@query(
    "regex_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenizer: split on non-alphanumeric runs, drop
    empty boundary tokens — the pre-tokenization pass of byte-pair
    encoders, as pure Column algebra."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), "[^a-zA-Z0-9]+")
    nonempty = F.filter(toks, lambda x: x != "")
    return docs.select("doc_id", F.size(nonempty).cast("long").alias("n_tokens"))


_STOPWORDS = ["the", "a", "is", "and", "of", "to", "in"]


@query(
    "stopword_ratio",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(trim(text), ' '),
                    t -> list_contains({_STOPWORDS!r}, t))) AS DOUBLE)
             / len(string_split(trim(text), ' ')) AS ratio
    FROM documents
    """.replace("'", "'"),
)
def stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density quality signal: fraction of tokens in a fixed
    stopword list. Integer count / integer count → the double is
    bit-identical on both engines, no rounding needed."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return docs.select(
        "doc_id", (n_stop.cast("double") / F.size(toks)).alias("ratio")
    )


@query(
    "doc_chunks",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 19, 1), 10)) AS start
      FROM tok)
    SELECT doc_id,
           CAST((start - 1) / 10 AS BIGINT) AS chunk_idx,
           array_to_string(toks[start : start + 19], ' ') AS chunk_text
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (20-token windows, stride 10) —
    the embedding-prep step of a RAG/retrieval pipeline. Pure Column
    algebra: sequence of window starts → explode → slice+join. Each
    output chunk carries (doc_id, chunk_idx) so embeddings map back to
    their source span."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - 19, F.lit(1)), F.lit(10))
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / 10).cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.slice("toks", F.col("start"), 20)).alias("chunk_text"),
        )
    )


@query(
    "unigram_logprob_score",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                 FROM documents),
    freqs AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    total AS (SELECT sum(c) AS t FROM freqs)
    SELECT doc_id,
           round(avg(ln(CAST(c AS DOUBLE) / t)), 6) AS avg_logprob,
           count(*) AS n_tokens
    FROM tok JOIN freqs USING (w) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram language model → per-doc mean token
    log-probability — the cheap perplexity-style quality filter of a
    pretraining pipeline (gibberish scores low, common prose high).
    Two passes: (1) token frequencies (groupBy, partial-agg), broadcast
    back; (2) score each token occurrence and average per doc. At 100 TB
    the frequency table is capped to a top-K vocabulary with an OOV
    bucket — same plan shape."""
    docs = _t(spark, sf_dir, "documents")
    # single-space split to mirror the oracle's string_split exactly
    tok = docs.select("doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("w"))
    freqs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freqs.agg(F.sum("c").alias("t"))
    return (
        tok.join(F.broadcast(freqs), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("c").cast("double") / F.col("t"))), 6).alias("avg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@query(
    "quality_gate",
    oracle="""
    WITH feats AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(trim(text), ' '),
                      t -> list_contains(['the','a','is','and','of','to','in'], t))) AS DOUBLE)
               / len(string_split(trim(text), ' ')) AS stop_ratio
      FROM documents)
    SELECT doc_id,
           CASE WHEN n_tokens >= 10 AND n_chars >= 50 AND stop_ratio >= 0.01 THEN 'keep'
                WHEN n_tokens < 10 THEN 'drop_short'
                WHEN n_chars < 50 THEN 'drop_tiny'
                ELSE 'drop_no_stopwords' END AS verdict
    FROM feats
    """,
)
def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate — the keep/drop decision a pretraining
    pipeline applies per document, combining length and stopword-density
    signals with a labeled drop reason (reasons drive the data-quality
    dashboard; at scale verdicts become a partition column so downstream
    reads prune the drops for free)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("double") / F.size(toks)
    verdict = (
        F.when((n_tokens >= 10) & (F.col("n_chars") >= 50) & (stop_ratio >= 0.01), "keep")
        .when(n_tokens < 10, "drop_short")
        .when(F.col("n_chars") < 50, "drop_tiny")
        .otherwise("drop_no_stopwords")
    )
    return docs.select("doc_id", verdict.alias("verdict"))


@query(
    "rolling_hash_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               [(('0x'||substr(md5(t),1,8))::BIGINT % 2147483648) % 2147483647
                FOR t IN regexp_split_to_array(trim(text), '\\s+')]),
             (acc, hv) -> (acc*1000003 + hv) % 2147483647) AS rolling_fp
    FROM documents
    """,
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the token stream (Karp-Rabin style):
    h = (h*B + hash(token)) mod P, folded JVM-side with aggregate() —
    an order-sensitive fingerprint (unlike the bag-of-words md5), so
    token reorderings produce different fingerprints. The token hash is
    the md5-prefix 31-bit value (same family as the oracle-gated
    minhash path), so DuckDB replays the exact fold with list_reduce —
    the fingerprint VALUES are hash-matched, not just row-counted.
    acc*B + hv < 2^31 · 2^20 ≈ 2^51: no int64 overflow in either
    engine. Deterministic; partitioning-invariance in tests."""
    docs = _t(spark, sf_dir, "documents")
    P, B = 2_147_483_647, 1_000_003
    toks = F.split(F.trim(F.col("text")), r"\s+")
    md5_31 = lambda t: F.pmod(md5_long(t, 8), F.lit(1 << 31))  # noqa: E731
    h = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * B + F.pmod(md5_31(t), F.lit(P)), F.lit(P)),
    )
    return docs.select("doc_id", h.alias("rolling_fp"))


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (whitespace-collapse → lower → md5):
    the join key for exact dedup across shards."""
    docs = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(normalized).alias("fp"))


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
           count(*) AS n_dupes
    FROM documents
    GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on the normalized fingerprint,
    keep the lowest doc_id (deterministic winner). One shuffle on a short
    hash key — the canonical 100 TB dedup shape (hash first so the
    shuffle moves 32-byte keys, not document text)."""
    docs = _t(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (
        docs.select("doc_id", F.md5(normalized).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dupes"))
        .select("keep_doc_id", "fp", "n_dupes")
    )
