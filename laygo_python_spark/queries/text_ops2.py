"""Text-analysis batch 2: repetition scoring and eval-set
decontamination — the remaining document-hygiene steps of a pretraining
pipeline (alongside quality_gate / unigram_logprob_score / dedup_* in
text_ops.py and dedup_ops.py).

Both are pure Column algebra (split → sequence → slice → explode →
groupBy): no Python UDFs, fully whole-stage-codegen'd, and the n-gram
explosion is map-side so the only shuffles are the final groupBys on
(doc_id) / (gram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laygo_python_spark.functions import md5_long
from laygo_python_spark.queries import query
from laygo_python_spark.session import read_table as _t

# NOTE: F.sequence counts DOWN when start > stop, so every sequence stop
# below is clamped with greatest(..., 1); the DuckDB oracles clamp
# identically, making a <n-token doc contribute one truncated gram on
# both engines.


def _grams(docs: DataFrame, n: int, *extra: str) -> DataFrame:
    """(doc_id, *extra, g): all word n-grams of each document, one row
    per occurrence. Map-only — tokenize, enumerate window starts, slice."""
    toks = F.split(F.trim(F.col("text")), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return docs.select("doc_id", *extra, toks.alias("toks"), F.explode(starts).alias("i")).select(
        "doc_id", *extra, F.concat_ws(" ", F.slice("toks", F.col("i"), n)).alias("g")
    )


@query(
    "repetition_score",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS g
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 1, 1))) AS i
            FROM tok)),
    counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
    SELECT doc_id,
           round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / CAST(sum(c) AS DOUBLE), 6) AS dup_bigram_frac,
           CAST(sum(c) AS BIGINT) AS n_bigrams
    FROM counts GROUP BY doc_id
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: the fraction of a document's word
    bigrams that are occurrences of a repeated bigram (Rae et al. 2021
    'duplicate n-gram fraction' — boilerplate and degenerate generations
    score high, prose low). Per-doc state only, so the groupBy keys on
    (doc_id, gram) and shuffles hash-partitioned by doc — no hot keys at
    100 TB because every document is its own key space."""
    counts = _grams(_t(spark, sf_dir, "documents"), 2).groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    return counts.groupBy("doc_id").agg(
        F.round(dup.cast("double") / F.sum("c").cast("double"), 6).alias("dup_bigram_frac"),
        F.sum("c").cast("long").alias("n_bigrams"),
    )


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100) AS b,
             string_split(trim(text), ' ') AS toks
      FROM documents),
    grams AS (
      SELECT doc_id, b, array_to_string(toks[i : i + 2], ' ') AS g
      FROM (SELECT doc_id, b, toks,
                   unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i
            FROM tok)),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE b >= 90)
    SELECT doc_id, count(DISTINCT g) AS n_contaminated_grams
    FROM grams JOIN eval_grams USING (g)
    WHERE b < 90
    GROUP BY doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with the held-out eval split (the same md5 hash-bucket
    split as hash_split_train_eval, so membership is engine- and
    partitioning-independent). Real pipelines use 8-13-gram exact match
    (GPT-3 appendix C / PaLM); n=3 here so the tiny synthetic vocabulary
    actually produces overlaps to verify. The eval gram set is DISTINCT
    + broadcast — eval benchmarks are small by construction, so at
    100 TB this stays a map-side join over the training corpus and the
    train-side gram stream NEVER shuffles (shuffling exploded n-grams of
    a 100 TB corpus is the failure mode this layout avoids). The hint is
    deliberate: if an eval set ever outgrows executor memory, shrink it
    (hash the grams) rather than dropping to a shuffle join. The oracle
    twin keeps gram STRINGS for exact SQL equivalence; the scale path
    broadcasts xxhash64(gram) int64s instead — 26% faster at 200k docs
    and collisions only over-flag (tools/text_scale_smoke.py)."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string"), 6), F.lit(100))
    grams = _grams(docs.withColumn("b", bucket), 3, "b")
    eval_grams = grams.filter(F.col("b") >= 90).select("g").distinct()
    return (
        grams.filter(F.col("b") < 90)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_contaminated_grams"))
    )


@query(
    "pii_redaction",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-000' || CAST(doc_id % 10 AS VARCHAR) AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
             + CAST(len(regexp_extract_all(text, '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}')) AS INT)
             AS n_redactions,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g') AS redacted
    FROM seeded
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction stage of a training-data pipeline
    (emails and phone numbers → typed placeholder tokens), pure
    regexp_replace Column algebra. The fixture corpus carries no PII, so
    each doc is deterministically seeded with a synthetic email + phone
    in BOTH engines, making the redaction observable and the oracle
    exact. Patterns are kept to the regex subset where Java (Spark) and
    RE2 (DuckDB) agree — no backrefs, no lookaround; at 100 TB this is a
    map-only pass that codegen fuses with adjacent stages."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-000"), (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    n_red = (
        F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0)))
        + F.size(F.regexp_extract_all("text", F.lit(phone), F.lit(0)))
    )
    redacted = F.regexp_replace(F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>")
    return docs.select("doc_id", n_red.alias("n_redactions"), redacted.alias("redacted"))


@query(
    "text_normalize_clean",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             '  ' || text || chr(9) || chr(7) || '  MIXED Case  TAIL ' AS text
      FROM documents)
    SELECT doc_id,
           lower(trim(regexp_replace(
             regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'), ' +', ' ', 'g'))) AS clean,
           CAST(len(string_split(
             lower(trim(regexp_replace(
               regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'), ' +', ' ', 'g'))), ' '))
             AS INT) AS n_tokens
    FROM seeded
    """,
)
def text_normalize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace normalization — the first cleanup stage of a
    pretraining pipeline: strip non-printable bytes, collapse runs of
    whitespace, trim, casefold, and recount tokens. The fixture corpus
    is already clean, so each doc is deterministically seeded with
    leading/trailing junk (tab, BEL control byte, doubled spaces, mixed
    case) in BOTH engines to make every normalization step observable.
    Pure regexp/Column algebra in the Java∩RE2 regex subset — a map-only
    pass that codegen fuses with adjacent stages at 100 TB."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("  "), F.col("text"), F.lit("\t\x07  MIXED Case  TAIL ")).alias("text"),
    )
    clean = F.lower(
        F.trim(
            F.regexp_replace(F.regexp_replace("text", r"[^\x20-\x7e]", ""), " +", " ")
        )
    )
    return docs.select(
        "doc_id",
        clean.alias("clean"),
        F.size(F.split(clean, " ")).cast("int").alias("n_tokens"),
    )


@query(
    "bigram_pmi_collocations",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    tok AS (SELECT unnest(ws) AS word FROM w),
    wc AS (SELECT word, count(*) AS n FROM tok GROUP BY 1),
    n_tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
    bg AS (SELECT unnest(list_zip(ws[:-2], ws[2:])) AS p FROM w),
    bc AS (SELECT p[1] AS x, p[2] AS y, count(*) AS n_xy FROM bg GROUP BY 1, 2),
    m_tot AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM bg)
    SELECT bc.x, bc.y, bc.n_xy,
           round(log2((bc.n_xy / m_tot.m)
                      / ((wx.n / n_tot.n) * (wy.n / n_tot.n))), 6) AS pmi
    FROM bc, n_tot, m_tot
    JOIN wc wx ON wx.word = bc.x
    JOIN wc wy ON wy.word = bc.y
    WHERE bc.n_xy >= 10
    """,
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent word pairs — the classic
    collocation detector (PMI ≫ 0 means the pair co-occurs far more
    than its unigram frequencies predict: "machine learning", not "of
    the"), a staple corpus-statistics pass before tokenizer training.

    Bigrams come from an index-lambda over the split array (map-side
    explode, no join); unigram and bigram counts are the only two
    shuffles, each a partial+final count keyed by the (bi)gram. The
    corpus totals N and M are single-row aggregates cross-joined in
    (broadcast NLJ on a 1-row side), and the PMI arithmetic is written
    with the identical association order in both engines so the
    doubles multiply/divide bit-identically before the final round.
    The n_xy >= 10 support floor is the standard PMI noise gate (rare
    pairs otherwise dominate with spuriously high scores)."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("ws"))
    tok = w.select(F.explode("ws").alias("word"))
    wc = tok.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    n_tot = tok.agg(F.count(F.lit(1)).cast("double").alias("n_corpus"))
    bg = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> named_struct('x', element_at(ws, i), 'y', element_at(ws, i + 1)))"
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    bc = bg.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy"))
    m_tot = bg.agg(F.count(F.lit(1)).cast("double").alias("m_corpus"))
    wx = wc.select(F.col("word").alias("x"), F.col("n").alias("nx"))
    wy = wc.select(F.col("word").alias("y"), F.col("n").alias("ny"))
    return (
        bc.filter(F.col("n_xy") >= 10)
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(m_tot))
        .join(wx, "x")
        .join(wy, "y")
        .select(
            "x",
            "y",
            "n_xy",
            F.round(
                F.log2(
                    (F.col("n_xy") / F.col("m_corpus"))
                    / ((F.col("nx") / F.col("n_corpus")) * (F.col("ny") / F.col("n_corpus")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "char_entropy_score",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(regexp_extract_all(substring(text, 1, 200), '.')) AS c
      FROM documents),
    cc AS (SELECT doc_id, c, count(*) AS n_c FROM ch GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(sum(n_c) AS DOUBLE) AS n FROM cc GROUP BY 1)
    SELECT cc.doc_id,
           CAST(tot.n AS BIGINT) AS n_chars_used,
           round(-sum((cc.n_c / tot.n) * log2(cc.n_c / tot.n)), 6) AS entropy
    FROM cc JOIN tot USING (doc_id)
    GROUP BY cc.doc_id, tot.n
    """,
)
def char_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the character distribution over each doc's
    first 200 chars — a cheap quality signal orthogonal to the length/
    stopword heuristics (doc_quality_score): keyboard mash and
    base64 blobs score high, single-char padding scores near zero,
    natural language sits in a narrow band (~4 bits for English).

    The explode is bounded (≤200 chars/doc regardless of doc size), so
    the per-doc histogram is a map-side explode + partial count; the
    entropy fold runs over exact integer counts and only the final
    -Σ p·log2 p summation is float (cross-engine order drift ~1e-15,
    absorbed by round(6))."""
    docs = _t(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(substring(text, 1, 200), '.', 0)")).alias("c"),
    )
    cc = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n_c"))
    tot = cc.groupBy("doc_id").agg(F.sum("n_c").cast("double").alias("n"))
    p = F.col("n_c") / F.col("n")
    return (
        cc.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"))
        .select("doc_id", F.col("n").cast("long").alias("n_chars_used"), "entropy")
    )


@query(
    "chunk_dedup_spans",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
               WHERE len(string_split(text, ' ')) >= 10),
    ck AS (SELECT doc_id,
                  unnest(range(0, CAST(floor(len(ws) / 10) AS BIGINT))) AS ci,
                  ws
           FROM w),
    c2 AS (SELECT doc_id, ci, md5(array_to_string(ws[ci*10+1 : ci*10+10], ' ')) AS fp
           FROM ck),
    cnt AS (SELECT fp, count(*) AS n FROM c2 GROUP BY fp)
    SELECT c2.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE cnt.n > 1) AS BIGINT) AS n_dup_chunks,
           round(count(*) FILTER (WHERE cnt.n > 1) * 1.0 / count(*), 6) AS dup_fraction
    FROM c2 JOIN cnt USING (fp)
    GROUP BY c2.doc_id
    """,
)
def chunk_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection at chunk granularity — the tractable
    relaxation of exact substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): tile each doc into
    non-overlapping 10-word chunks, fingerprint them, and flag chunks
    whose fingerprint repeats ANYWHERE in the corpus. Per doc:
    how much of it is corpus-repeated boilerplate (the dup_fraction
    feeds the quality gate; span-level removal follows the same marks).

    Scale shape: the explode is linear in corpus words; the only
    shuffle keys are 16-byte fingerprints (never text) — first the
    global count, then the per-doc rollup. The md5 fingerprints are
    byte-identical across engines, so the oracle joins on them
    directly."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("ws")).filter(F.size("ws") >= 10)
    ck = w.select(
        "doc_id",
        F.explode(F.expr("sequence(0, CAST(size(ws) / 10 AS INT) - 1)")).alias("ci"),
        "ws",
    )
    c2 = ck.select(
        "doc_id",
        F.md5(F.array_join(F.expr("slice(ws, ci * 10 + 1, 10)"), " ")).alias("fp"),
    )
    cnt = c2.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    return (
        c2.join(cnt, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("n") > 1, 1)).alias("n_dup_chunks"),
            F.round(
                F.count(F.when(F.col("n") > 1, 1)) * 1.0 / F.count(F.lit(1)), 6
            ).alias("dup_fraction"),
        )
    )


@query(
    "bigram_lm_xent",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    train_bg AS (
      SELECT p[1] AS x, p[2] AS y, count(*) AS c_xy
      FROM (SELECT unnest(list_zip(ws[:-2], ws[2:])) AS p FROM w WHERE doc_id % 2 = 0)
      GROUP BY 1, 2),
    train_ug AS (
      SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM train_bg GROUP BY x),
    v AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS v
          FROM (SELECT unnest(ws) AS g FROM w WHERE doc_id % 2 = 0)),
    eval_bg AS (
      SELECT doc_id, p[1] AS x, p[2] AS y
      FROM (SELECT doc_id, unnest(list_zip(ws[:-2], ws[2:])) AS p FROM w WHERE doc_id % 2 = 1)),
    scored AS (
      SELECT e.doc_id,
             -log2((coalesce(b.c_xy, 0) + 1.0) / (coalesce(u.c_x, 0) + v.v)) AS nll
      FROM eval_bg e
      LEFT JOIN train_bg b ON b.x = e.x AND b.y = e.y
      LEFT JOIN train_ug u ON u.x = e.x
      CROSS JOIN v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(nll) / count(*), 6) AS xent
    FROM scored GROUP BY doc_id
    """,
)
def bigram_lm_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model cross-entropy scoring — the CCNet-style
    perplexity quality filter, one full step up from the unigram
    surprisal gate (unigram_logprob_score): train add-1-smoothed
    conditionals P(y|x) = (C(x,y)+1)/(C(x)+V) on the even-id half of
    the corpus, score each odd-id doc by its mean -log2 P over
    bigrams. Out-of-domain text scores high (drop candidates);
    in-domain boilerplate scores low.

    Relational end to end: two count aggregations on the train split
    (conditional totals derive from the bigram table, not a rescan),
    a 1-row vocabulary scalar, and two left joins keyed by grams for
    scoring — at 100 TB the model IS a parquet table you train once
    and broadcast-join against every new crawl batch. Unseen contexts
    fall out of the same smoothing formula via coalesce(0). The
    per-doc sum of logs is the only float fold; round(6) absorbs
    order (≤ ~30 terms/doc)."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("ws"))
    bg = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> named_struct('x', element_at(ws, i), 'y', element_at(ws, i + 1)))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    train_bg = (
        bg.filter(F.col("doc_id") % 2 == 0).groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    )
    train_ug = train_bg.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    v = (
        w.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode("ws").alias("g"))
        .agg(F.count_distinct("g").cast("double").alias("v"))
    )
    eval_bg = bg.filter(F.col("doc_id") % 2 == 1)
    nll = -F.log2(
        (F.coalesce(F.col("c_xy"), F.lit(0)) + 1.0)
        / (F.coalesce(F.col("c_x"), F.lit(0)) + F.col("v"))
    )
    return (
        eval_bg.join(train_bg, ["x", "y"], "left")
        .join(train_ug, "x", "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.sum("nll") / F.count(F.lit(1)), 6).alias("xent"),
        )
    )


@query(
    "vocab_coverage_curve",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS g FROM documents),
    c AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY g),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
    r AS (SELECT g, n, row_number() OVER (ORDER BY n DESC, g) AS rk FROM c)
    SELECT r.rk AS rank, r.g AS token, r.n,
           round(sum(r.n) OVER (ORDER BY r.rk) / t.total, 6) AS cum_coverage
    FROM r, t
    WHERE r.rk <= 20
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-budget question: what
    fraction of all corpus tokens do the top-k types cover? (The knee
    of this curve sizes vocabularies and predicts OOV rates.) Token
    counts are one shuffle; the ranking and running coverage live on
    the tiny type table. Ordering tiebreaks on the token string so
    rank — and therefore the cumulative sum's order — is deterministic
    in both engines; the running total divides exact integer sums by
    the corpus total, so only the final round(6) is float.

    Scale note: the top-20 selection is ``orderBy(...).limit(20)`` —
    Spark plans TakeOrderedAndProject (per-partition heap + driver
    merge of 20-row heads), NOT a rank window, so the billion-type
    vocabulary of a 100 TB corpus never funnels through one task. The
    rank/cumsum windows then run over exactly 20 rows (post-limit
    bounded frame — plan-lint allowlisted)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("g"))
    c = tok.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    top = c.orderBy(F.col("n").desc(), F.col("g")).limit(20)
    w_rank = Window.orderBy(F.col("n").desc(), F.col("g"))
    w_cum = Window.orderBy("rank")
    return (
        top.withColumn("rank", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(t))
        .select(
            "rank",
            F.col("g").alias("token"),
            "n",
            F.round(F.sum("n").over(w_cum) / F.col("total"), 6).alias("cum_coverage"),
        )
    )


@query(
    "compression_ratio_score",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN 'boilerplate' WHEN 1 THEN 'junk' ELSE 'prose'
           END AS ratio_class,
           CAST(doc_id % 3 AS INT) = 2 AS keep
    FROM documents
    """,
)
def compression_ratio_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio curation gate (operators/compress.py) —
    the published repetition proxy that complements the Gopher-style
    repetition_score: boilerplate compresses far below prose, encoded
    junk barely compresses at all; curation drops both tails.

    Oracle-gated via PLANTED payloads (r7 verdict ask #6, the
    multimodal_* gating idiom — DEFLATE itself is not SQL-reproducible,
    but the DECISION RULE on constructed inputs is): each doc_id gets a
    deterministic payload of a known class — repetitive template
    (ratio ≈ 0.015), base64 of an md5 chain (≈ 0.76), or pseudo-prose
    over a 100-word vocabulary (0.35–0.38) — the query runs REAL zlib
    and classifies by thresholds 0.2 / 0.6, and DuckDB recomputes the
    class straight from doc_id % 3. Margins are ≥ 0.18 on either side
    of each threshold and zlib at a pinned level is deterministic, so
    the gate is exact. Map-only (one Arrow pass, no shuffle). The
    real-documents ratio behavior stays pinned in tests/test_quality.py
    (bounds, repetition monotonicity, determinism)."""
    import base64
    import hashlib

    import pandas as pd

    from laygo_python_spark.operators.compress import compression_ratio

    vocab = [hashlib.md5(f"w{i}".encode()).hexdigest()[: 3 + (i % 5)] for i in range(100)]

    def payload(d: int) -> str:
        cls = d % 3
        if cls == 0:
            return f"tpl-{d % 7} lorem ipsum dolor sit amet consectetur " * 120
        if cls == 1:
            out, h = [], hashlib.md5(f"junk:{d}".encode()).digest()
            while sum(map(len, out)) < 4096:
                out.append(h)
                h = hashlib.md5(h).digest()
            return base64.b64encode(b"".join(out)[:4096]).decode()
        words, h = [], int(hashlib.md5(f"prose:{d}".encode()).hexdigest(), 16)
        for _ in range(400):
            h = (h * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            words.append(vocab[h % 100])
        return " ".join(words)

    def plant(batches):
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": ids, "text": [payload(d) for d in ids]})

    # The payload synthesis + zlib pass is CPU-bound Python; a small-SF
    # scan yields ONE file split, serializing all of it through a single
    # task (measured 3 s at sf0.1). Round-robin the 8-byte ids across
    # the cores first — the shuffle moves only doc_ids, and at real
    # scale the scan's own splits already provide the spread.
    docs = _t(spark, sf_dir, "documents").select("doc_id").repartition(16)
    planted = docs.mapInPandas(plant, schema="doc_id long, text string")
    scored = compression_ratio(planted)
    cls = (
        F.when(F.col("ratio") < 0.2, "boilerplate")
        .when(F.col("ratio") > 0.6, "junk")
        .otherwise("prose")
    )
    # keep derives from the aliased class column, not a second build of
    # the CASE, so the two can never disagree after a threshold edit.
    return scored.select("doc_id", cls.alias("ratio_class")).withColumn(
        "keep", F.col("ratio_class") == "prose"
    )


@query(
    "bm25_topk_docs",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM tok WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, term),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS score
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), stats s
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS score
    FROM scored ORDER BY round(score, 6) DESC, doc_id LIMIT 10
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the query {join, hash, scan}
    (operators/retrieval.py) — the lexical-retrieval complement of the
    embedding-ANN family: corpus probes, label-seed expansion, keyword
    contamination checks. Cost is proportional to the query terms'
    POSTINGS (the explode filters to the query vocabulary before any
    shuffle); N/avgdl ride as a broadcast 1-row aggregate and the
    ranking plans as TakeOrderedAndProject, so no global sort and no
    |corpus|-row window anywhere. The DuckDB oracle replays
    tokenization, tf/df, the non-negative idf, and the k1/b length
    normalization arithmetic exactly; both engines rank on the
    round(6) score with doc_id tiebreak, so rank flips from last-ulp
    double drift are impossible."""
    from laygo_python_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), ["join", "hash", "scan"], k=10)


@query(
    "bpe_merge_pairs",
    oracle="""
    WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                WHERE length(word) > 0 GROUP BY word),
    bg AS (SELECT unnest(list_transform(range(1, length(word)),
                                        i -> substring(word, CAST(i AS INT), 2))) AS pair,
                  n
           FROM wc)
    SELECT pair, CAST(sum(n) AS BIGINT) AS n
    FROM bg GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE statistic (operators/bpe.pair_counts): corpus-wide
    adjacent character-pair frequencies weighted by word count — the
    aggregate a tokenizer trainer greedily merges. The bigram explode
    runs over the DISTINCT word table (orders of magnitude smaller than
    the corpus; the classic trainer shape), everything is JVM string
    ops, and the top-20 plans as TakeOrderedAndProject. DuckDB replays
    tokenization, word counts, the in-word bigram unnest, and the
    weighted sum exactly — integer-valued, so the gate is hash-exact."""
    from laygo_python_spark.operators.bpe import pair_counts

    return (
        pair_counts(_t(spark, sf_dir, "documents"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@query(
    "bpe_token_compression",
    oracle="""
    WITH wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                WHERE length(word) > 0 GROUP BY word),
    bg AS (SELECT unnest(list_transform(range(1, length(word)),
                                        i -> substring(word, CAST(i AS INT), 2))) AS pair,
                  n
           FROM wc),
    best AS (SELECT pair FROM bg GROUP BY pair
             ORDER BY sum(n) DESC, pair LIMIT 1),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT t.doc_id,
           CAST(sum(length(t.word)
                    - (length(t.word) - length(replace(t.word, b.pair, ''))) / 2
               ) AS INT) AS n_tokens
    FROM tok t, best b
    GROUP BY t.doc_id
    """,
)
def bpe_token_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply, end to end: ``bpe_train`` (distributed word
    counts, driver merge loop — the published greedy algorithm with a
    deterministic count-then-lexicographic tie-break) learns the first
    merge, ``bpe_segment`` re-tokenizes every document with it, and the
    output is the per-document token count — the corpus-compression
    measurement that sizes a vocabulary. The oracle independently
    re-derives the winning pair in SQL and counts non-overlapping
    in-word occurrences via length-of-replace (the same left-to-right
    semantics as both the trainer's merge scan and the segmenter's JVM
    replace), so a hash match certifies trainer and segmenter agree
    with a declarative replay of the algorithm. Deeper merge lists are
    pytest-pinned differentially (tests/test_bpe.py) — round 2+ merge
    decisions depend on round-1 resegmentation, which SQL cannot
    express without unrolling per-round string rewrites."""
    from laygo_python_spark.operators.bpe import bpe_segment, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=1)
    return bpe_segment(docs, merges)


@query(
    "quality_bucket_report",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                 FROM documents),
    st AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct
           FROM tok GROUP BY doc_id),
    q AS (SELECT doc_id, n_tokens,
                 CAST(n_distinct AS DOUBLE) / n_tokens AS q FROM st),
    b AS (SELECT doc_id, n_tokens, q,
                 least(CAST(floor(q * 10) AS INT), 9) AS bucket FROM q)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens,
           round(avg(q), 6) AS avg_q,
           round(min(q), 6) AS min_q, round(max(q), 6) AS max_q
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def quality_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score bucket report — the corpus-curation dashboard row:
    documents bucketed by lexical density (distinct-token ratio, an
    exact int/int double) into FIXED-WIDTH 0.1 buckets, with per-bucket
    counts and token mass. Fixed edges, not ntile: decile cuts would
    need a global sort (the accidental one-task window), while fixed
    buckets are one partial+final aggregation at any scale — the same
    fixed-edge posture as operators/drift.py. Downstream: pick the
    ablation threshold by reading this table, then filter on q."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.trim("text"), " ")).alias("w"))
    st = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
    )
    q = st.select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("q"),
    )
    b = q.withColumn(
        "bucket", F.least(F.floor(F.col("q") * 10).cast("int"), F.lit(9))
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
            F.round(F.avg("q"), 6).alias("avg_q"),
            F.round(F.min("q"), 6).alias("min_q"),
            F.round(F.max("q"), 6).alias("max_q"),
        )
        .orderBy("bucket")
    )
