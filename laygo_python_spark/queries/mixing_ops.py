"""Corpus-mixing operators: stratified sampling and TF-IDF term scoring.

Training-data curation needs (a) balanced downsampling of over-represented
strata and (b) corpus-statistics features — both as deterministic,
engine-reproducible plans (hash order, not RNG; see sampling_ops.py for
why `df.sample()` is a contamination foot-gun).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from laygo_python_spark.functions import md5_long
from laygo_python_spark.queries import query
from laygo_python_spark.session import read_table as _t


@query(
    "stratified_sample",
    oracle="""
    SELECT doc_id, source, rn FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source subsample: keep the 10 hash-first docs of every
    stratum. The md5 sort key makes membership content-stable — the same
    doc is kept no matter how the corpus is partitioned or grown, unlike
    ``df.sampleBy``'s partitioning-sensitive RNG. One shuffle (the window
    partition); at 100 TB strata >> 10 rows are cut map-side by the
    window's rank limit under AQE."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id, source, term FROM (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
        FROM documents)
      WHERE length(term) >= 3),
    tf AS (SELECT source, term, count(*) AS tf FROM words GROUP BY source, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.source, tf.term, CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT source, term, tf, df, tfidf, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per source — the classic corpus-signature /
    domain-classification feature.

    Plan shape: the corpus is tokenized ONCE. Because every doc belongs
    to exactly ONE source, the global doc-frequency of a term is the sum
    over sources of its per-(source, term) distinct-doc count — so tf
    and df both come out of a single aggregation keyed by (source, term),
    and df materializes as a window sum over the (tiny) per-term stats.
    No tf⋈df join, no second explode (at 100 TB tokenization dominates;
    the naive two-branch spelling pays it twice). The doc count N rides
    in as a broadcast 1-row cross join, not a driver `.count()`
    round-trip. tfidf is rounded to 6 before ranking so the rank is a
    function of the compared value (ln() last-ulp differences between
    engines can't flip an order the hash check would accept)."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
        )
        .filter(F.length("term") >= 3)
    )
    stats = words.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.count_distinct("doc_id").alias("df_part"),
    )
    df_w = Window.partitionBy("term")
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        stats.withColumn("df", F.sum("df_part").over(df_w).cast("long"))
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), "term")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# Shared by weighted_sample_topk (batch) and stream_weighted_sample
# (per-batch ES-key partials, read-time re-selection) — ONE constant so
# the two samplers can never drift onto inconsistent ground truths.
# WHERE n_chars > 0: the positive-weight precondition both samplers
# enforce — es_key = −ln(u)/w is undefined at w ≤ 0 (and a NULL weight
# would sort NULLS FIRST in Spark but NULLS LAST in DuckDB).
ES_SAMPLE_ORACLE = """
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             round(-ln((1.0 + (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000))
                       / 1000001.0) / n_chars, 9) AS es_key
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, es_key, rn FROM (
      SELECT *, row_number() OVER (ORDER BY es_key, doc_id) AS rn FROM keyed)
    WHERE rn <= 50
    """


@query("weighted_sample_topk", oracle=ES_SAMPLE_ORACLE)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, distributed: the
    Efraimidis-Spirakis exponential-rank trick — key = -ln(u)/w, keep the
    k smallest keys — turns weighted reservoir sampling into a plain
    top-k, which TakeOrderedAndProject computes with per-partition heaps
    and a k-row merge (no global sort, no sequential reservoir).

    u is hash-derived (md5 bucket mapped into (0,1]), not rand(): the
    sample is reproducible across runs/partitionings/engines. Weight =
    n_chars, so longer docs are proportionally likelier — the corpus
    re-weighting primitive. es_key rounds to 9 so ln() ulp differences
    can't flip the cross-engine rank (doc_id breaks residual ties)."""
    # n_chars > 0: the shared positive-weight precondition (see
    # ES_SAMPLE_ORACLE) — matches the streaming twin's per-batch filter.
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        1.0
        + F.pmod(md5_long(F.col("doc_id").cast("string"), 8), F.lit(1000000))
    ) / 1000001.0
    keyed = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(-F.log(u) / F.col("n_chars"), 9).alias("es_key"),
    )
    # Heap top-k over the full data (TakeOrderedAndProject); the rank
    # window then runs over only the k surviving rows — the full dataset
    # never funnels through one partition.
    top = keyed.orderBy("es_key", "doc_id").limit(50)
    w = Window.orderBy("es_key", "doc_id")
    return top.withColumn("rn", F.row_number().over(w))


@query(
    "curation_pipeline",
    oracle="""
    WITH feats AS (
      SELECT doc_id, source, n_chars, text,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(trim(text), ' '),
                      t -> list_contains(['the','a','is','and','of','to','in'], t))) AS DOUBLE)
               / len(string_split(trim(text), ' ')) AS stop_ratio
      FROM documents),
    kept AS (
      SELECT doc_id, source, n_chars,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM feats
      WHERE n_tokens >= 10 AND n_chars >= 50 AND stop_ratio >= 0.01),
    deduped AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM kept)
      WHERE doc_id = keeper),
    split AS (
      SELECT source, n_chars,
             CASE WHEN (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100) < 90
                  THEN 'train' ELSE 'eval' END AS split
      FROM deduped)
    SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM split GROUP BY split, source
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation in ONE lazy plan: quality gate → exact dedup
    (fingerprint window, keep lowest doc_id) → deterministic 90/10 split
    → per-(split, source) accounting. Composing the stages as DataFrame
    transforms lets Catalyst fuse them — the quality filter and the
    fingerprint hash run in the same scan stage, and only (fp, ids,
    counters) ever shuffle; the text column is pruned after the map side.
    The same stages as the standalone quality_gate / dedup_exact /
    hash_split_train_eval queries, proving the operators compose."""
    from laygo_python_spark.queries.sampling_ops import hash_bucket
    from laygo_python_spark.queries.text_ops import _STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast("double") / F.size(toks)
    kept = docs.filter(
        (n_tokens >= 10) & (F.col("n_chars") >= 50) & (stop_ratio >= 0.01)
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))).alias("fp"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    deduped = kept.withColumn("keeper", keeper).filter(F.col("doc_id") == F.col("keeper"))
    split = F.when(hash_bucket(F.col("doc_id")) < 90, "train").otherwise("eval")
    return (
        deduped.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_PACK_ORACLE = """
WITH RECURSIVE sized AS (
  SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 8 AS grp,
         doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents),
docs AS (
  SELECT grp, doc_id, n_tokens,
         row_number() OVER (PARTITION BY grp ORDER BY n_tokens DESC, doc_id) AS rn
  FROM sized),
pack AS (
  SELECT grp, 0 AS rn, CAST([] AS BIGINT[]) AS loads, CAST([] AS BIGINT[]) AS ndocs,
         CAST([] AS BOOLEAN[]) AS is_open
  FROM (SELECT DISTINCT grp FROM docs)
  UNION ALL
  SELECT p.grp, d.rn,
    CASE WHEN f.fit > 0
         THEN list_transform(p.loads, (x, i) ->
                CASE WHEN i = f.fit THEN x + d.n_tokens ELSE x END)
         ELSE list_append(p.loads, d.n_tokens) END,
    CASE WHEN f.fit > 0
         THEN list_transform(p.ndocs, (x, i) ->
                CASE WHEN i = f.fit THEN x + 1 ELSE x END)
         ELSE list_append(p.ndocs, CAST(1 AS BIGINT)) END,
    CASE WHEN f.fit > 0 THEN p.is_open
         WHEN len(list_filter(p.is_open, x -> x)) + 1 > 64
         THEN list_transform(list_append(p.is_open, true), (x, i) ->
                CASE WHEN i = list_position(p.is_open, true) THEN false ELSE x END)
         ELSE list_append(p.is_open, true) END
  FROM pack p
  JOIN docs d ON d.grp = p.grp AND d.rn = p.rn + 1,
  LATERAL (SELECT coalesce(list_position(
             list_transform(p.loads, (x, i) ->
               p.is_open[i] AND x + d.n_tokens <= 512), true), 0) AS fit) f),
final AS (
  SELECT grp, loads, ndocs FROM pack p
  WHERE rn = (SELECT max(rn) FROM pack p2 WHERE p2.grp = p.grp))
SELECT grp, u.i AS bin_id, loads[u.i] AS total_tokens, ndocs[u.i] AS n_docs
FROM final, LATERAL unnest(range(1, len(loads) + 1)) u(i)
"""


@query("pack_sequences_bins", oracle=_PACK_ORACLE)
def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_sequences_grouped) as an
    ORACLE-GATED query: fill 512-token training contexts with documents
    by capped first-fit-decreasing inside 8 md5-routed groups. The
    grouped form is layout-independent — same corpus, same bins, on any
    cluster size — which is what makes an honest oracle possible at all:
    DuckDB replays the identical state machine (md5 routing, tokens-desc
    id-asc order, first-fit over the most recent 64 open bins, creation-
    order bin ids) in a recursive CTE and every (grp, bin_id,
    total_tokens, n_docs) row must match exactly. The packing INVARIANTS
    (every doc in exactly one bin; no multi-doc bin over budget) are
    additionally pinned in tests/test_advanced.py, and the layout-
    dependent shuffle-free variant (pack_sequences) keeps its pytest
    coverage there."""
    from laygo_python_spark.operators.packing import pack_sequences_grouped

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_sequences_grouped(docs, budget=512, n_groups=8, max_open=64)


@query(
    "padding_waste_bucketing",
    oracle="""
    WITH lens AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
      FROM documents),
    naive AS (
      SELECT doc_id // 32 AS batch, n FROM lens),
    nb AS (
      SELECT batch, count(*) AS sz, max(n) AS mx, sum(n) AS tok
      FROM naive GROUP BY batch),
    bucketed AS (
      SELECT (n // 16) AS bkt,
             (row_number() OVER (PARTITION BY (n // 16)
                                 ORDER BY n, doc_id) - 1) // 32 AS batch,
             n
      FROM lens),
    bb AS (
      SELECT bkt, batch, count(*) AS sz, max(n) AS mx, sum(n) AS tok
      FROM bucketed GROUP BY bkt, batch),
    agg AS (
      SELECT 'naive' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
             CAST(sum(tok) AS BIGINT) AS token_sum,
             CAST(sum(sz * mx) AS BIGINT) AS padded_sum
      FROM nb
      UNION ALL
      SELECT 'bucketed', CAST(count(*) AS BIGINT),
             CAST(sum(tok) AS BIGINT), CAST(sum(sz * mx) AS BIGINT)
      FROM bb)
    SELECT strategy, n_batches, token_sum, padded_sum,
           round(1.0 - token_sum / CAST(padded_sum AS DOUBLE), 6) AS waste_pct
    FROM agg ORDER BY strategy
    """,
)
def padding_waste_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste comparison for inference/training batch formation
    (batch size 32): NAIVE arrival-order batching (batch = doc_id/32 —
    map-only, no shuffle at all) vs LENGTH-BUCKETED batching (dock each
    sequence into a 16-token length bucket, then batch within the
    bucket) — the standard bucketing trick that cuts the pad-token
    fraction; its cousin pack_sequences_bins eliminates padding
    entirely by concatenation when the model allows it (this query is
    the decision measurement between the two).

    Per batch the padded cost is batch_size x max_len; waste is the
    fraction of padded tokens that carry no data. Scale: the bucketed
    leg's window partitions by length bucket (parallel across buckets;
    batch formation within a bucket is inherently order-defined), the
    naive leg is pure Column arithmetic, and both reduce to one
    two-row aggregate. Integer token counts make the gate hash-exact;
    waste_pct rounds to 6."""
    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n"),
    )
    nb = (
        lens.select((F.col("doc_id") / 32).cast("long").alias("batch"), "n")
        .groupBy("batch")
        .agg(F.count(F.lit(1)).alias("sz"), F.max("n").alias("mx"), F.sum("n").alias("tok"))
    )
    w = Window.partitionBy("bkt").orderBy("n", "doc_id")
    bb = (
        lens.select("doc_id", "n", (F.col("n") / 16).cast("long").alias("bkt"))
        .withColumn("batch", ((F.row_number().over(w) - 1) / 32).cast("long"))
        .groupBy("bkt", "batch")
        .agg(F.count(F.lit(1)).alias("sz"), F.max("n").alias("mx"), F.sum("n").alias("tok"))
    )

    def tally(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("tok").cast("long").alias("token_sum"),
            F.sum(F.col("sz") * F.col("mx")).cast("long").alias("padded_sum"),
        ).select(F.lit(name).alias("strategy"), "n_batches", "token_sum", "padded_sum")

    out = tally(nb, "naive").unionByName(tally(bb, "bucketed"))
    return out.select(
        "strategy",
        "n_batches",
        "token_sum",
        "padded_sum",
        F.round(1.0 - F.col("token_sum") / F.col("padded_sum").cast("double"), 6).alias(
            "waste_pct"
        ),
    ).orderBy("strategy")


# Unrolled oracle rounds. The sf fixtures have 20 sources; 32 leaves
# headroom (extra rounds are no-ops — see _waterfill_oracle), and the
# query asserts |S| <= this so fixture growth past it fails LOUDLY
# instead of as a confusing gate diff (r11 ADVICE).
_WATERFILL_ORACLE_ROUNDS = 32


def _waterfill_oracle(
    rounds: int = _WATERFILL_ORACLE_ROUNDS, budget_frac: float = 0.8
) -> str:
    """Unrolled water-filling replay (the kcore/LPA bounded-iteration
    idiom): each round recomputes the uncapped weight mass d and the
    capped token mass ct as 1-row aggregates, then caps every source
    whose proportional demand exceeds its availability. Water-filling
    caps at least one NEW source per non-final round, so ``rounds`` =
    the corpus's source count is ALWAYS the true fixpoint (extra rounds
    are no-ops); the fixtures have 20 sources and rounds=32 gives
    headroom. The Spark side iterates to the fixpoint directly, so the
    two agree for any |S| ≤ rounds (enforced in the query)."""
    parts = [
        """t AS MATERIALIZED (SELECT source,
                 CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE) AS tok,
                 CAST(1 + (CAST(substring(source, 4) AS INT) % 4) AS DOUBLE) AS w
          FROM documents GROUP BY source),
    b AS (SELECT """
        + str(budget_frac)
        + """ * sum(tok) AS bud FROM t),
    s0 AS MATERIALIZED (SELECT source, tok, w, FALSE AS capped FROM t)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""g{r} AS MATERIALIZED (SELECT coalesce(sum(CASE WHEN NOT capped THEN w END), 0) AS d,
                    coalesce(sum(CASE WHEN capped THEN tok END), 0) AS ct
             FROM s{r - 1}),
    s{r} AS MATERIALIZED (SELECT source, tok, w,
                    (capped OR (g{r}.d > 0
                                AND (b.bud - g{r}.ct) * w / g{r}.d > tok)) AS capped
             FROM s{r - 1}, g{r}, b)"""
        )
    parts.append(
        f"""gf AS (SELECT coalesce(sum(CASE WHEN NOT capped THEN w END), 0) AS d,
                   coalesce(sum(CASE WHEN capped THEN tok END), 0) AS ct
            FROM s{rounds})"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT source, CAST(tok AS BIGINT) AS avail_tokens,
           CAST(w AS INT) AS target_weight,
           round(CASE WHEN capped THEN tok
                      WHEN gf.d > 0 THEN (b.bud - gf.ct) * w / gf.d
                      ELSE 0 END, 4) AS alloc_tokens,
           capped
    FROM s{rounds}, gf, b ORDER BY source"""
    )


@query("budget_waterfill_allocation", oracle=_waterfill_oracle())
def budget_waterfill_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources — the step
    that APPLIES a target mix (training_mix_weights' output shape) to a
    finite compute budget: naive alloc = B·wₛ/Σw over-asks scarce
    sources, so each round caps every source whose proportional demand
    exceeds its available tokens and redistributes the surplus across
    the still-uncapped weight mass, iterated TO THE FIXPOINT (each
    non-final round caps ≥ 1 new source, so ≤ |S| rounds). Target
    weights are deterministically skewed (w = 1 + source_index % 4) so
    capping actually exercises at the gate scale; budget = 80% of the
    corpus.

    Scale shape: ONE distributed corpus scan folds per-source token
    totals (partial+final agg), then the |S|-row summary is collected
    and the fixpoint runs DRIVER-SIDE — the bounded-small-state idiom
    of the k-row codebooks/centroids (sources ≈ domains: thousands at
    most, never corpus-sized). The r11 in-plan spelling (crossJoin per
    round) referenced the prior frame twice per round — an
    EXPONENTIALLY growing logical plan (255 broadcast nodes pinned in
    the plan baseline for a 20-row computation) that also forced a
    fixed round count; the driver loop is linear and runs to true
    convergence. The source list is SORTED by name before every float
    fold so the reduction order is deterministic across partitionings
    (r11 ADVICE); agreement with the oracle is to the round(·,4)
    output precision, not claimed bit-exact — a value sitting exactly
    on the '>' cap boundary could in principle diverge, and the
    fixtures are checked to sit away from it. Output: (source,
    avail_tokens, target_weight, alloc_tokens, capped)."""
    from laygo_python_spark.session import local_rows_df

    docs = _t(spark, sf_dir, "documents")
    totals = (
        docs.groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            .cast("double")
            .alias("tok")
        )
        .withColumn(
            "w",
            (1 + F.substring("source", 4, 10).cast("int") % 4).cast("double"),
        )
        .collect()
    )
    srcs = sorted(
        ((r["source"], float(r["tok"]), float(r["w"])) for r in totals),
        key=lambda s: s[0],
    )
    if len(srcs) > _WATERFILL_ORACLE_ROUNDS:
        raise ValueError(
            f"budget_waterfill_allocation: {len(srcs)} sources exceeds the "
            f"oracle's {_WATERFILL_ORACLE_ROUNDS} unrolled rounds — regenerate "
            "the oracle with rounds >= |S| (water-filling caps >=1 new source "
            "per non-final round, so rounds = |S| is always the fixpoint)"
        )
    bud = 0.8 * sum(tok for _, tok, _ in srcs)
    capped: set[str] = set()
    while True:
        d = sum(w for sname, _, w in srcs if sname not in capped)
        ct = sum(tok for sname, tok, _ in srcs if sname in capped)
        newly = {
            sname
            for sname, tok, w in srcs
            if sname not in capped and d > 0 and (bud - ct) * w / d > tok
        }
        if not newly:
            break
        capped |= newly
    d = sum(w for sname, _, w in srcs if sname not in capped)
    ct = sum(tok for sname, tok, _ in srcs if sname in capped)
    rows = [
        (
            sname,
            int(tok),
            int(w),
            tok if sname in capped else ((bud - ct) * w / d if d > 0 else 0.0),
            sname in capped,
        )
        for sname, tok, w in srcs
    ]
    out = local_rows_df(
        spark,
        rows,
        "source string, avail_tokens long, target_weight int, "
        "alloc_raw double, capped boolean",
    )
    return out.select(
        "source",
        "avail_tokens",
        "target_weight",
        F.round("alloc_raw", 4).alias("alloc_tokens"),
        "capped",
    ).orderBy("source")
