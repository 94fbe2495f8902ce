"""Structured Streaming helpers — new capability vs the reference, which
is pull-based lazy streaming with no event-time semantics (SURVEY.md §2.11:
no watermarks, no windows, no state store).

Bounded laygo pipelines map to batch DataFrames; unbounded sources map to
``readStream`` with watermark + windowed aggregation here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.functions import md5_long
from laygo_python_spark.session import ensure_session_defaults, pin


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream over the events fixture (schema pinned —
    streaming readers must not infer). Handles both fixture vintages:
    TIMESTAMP(NANOS) reads as long under nanosAsLong and truncates to
    micros with integer division; naive micros reads as ltz (same
    conventions as session.read_table, so batch and stream agree to the
    microsecond)."""
    ensure_session_defaults(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Naive-micros fixture vintage read by a session where
    # inferTimestampNTZ couldn't be flipped: NTZ is not a valid event-time
    # type (no watermark support), so normalize to ltz — a wall-value
    # no-op under the UTC session zone.
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped and state is evicted (bounded memory at any scale)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def sliding_counts(events: DataFrame, window: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", window, slide), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a dynamic gap — the streaming twin of the
    batch sessionize_users query."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def run_to_completion(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a bounded file stream to completion through the memory sink
    and return the materialized result (for tests/demos). The memory
    table name is uniquified so repeated invocations in one session
    don't collide."""
    import uuid

    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.table(name)


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming deduplication — the state-store twin of dedup_exact.

    Two modes, the standard Structured Streaming trade-off:
    - ``watermark=None``: ``dropDuplicates`` with global state — exact
      DISTINCT semantics over the whole stream (state = one entry per
      distinct key, growing with key cardinality; right for bounded
      key universes like user ids).
    - ``watermark`` set: ``dropDuplicatesWithinWatermark`` — state is
      EVICTED once the watermark passes, so memory is bounded by the
      key-arrival rate × delay instead of the universe; duplicates
      farther apart than the delay can re-emit (the documented,
      scale-correct contract for unbounded keys like request ids)."""
    if watermark is None:
        return events.dropDuplicates(keys)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def incremental_dedup_processor(
    spark: SparkSession,
    index_path: str,
    matches_path: str,
    new_filter: Column | None = None,
    compact_every: int | None = None,
):
    """``foreachBatch`` body for the full streaming-ingest dedup loop:
    per micro-batch, (1) match the batch against the STORED MinHash-LSH
    index (only the batch's text is shingled), (2) write the matches to
    a per-batch sink partition, (3) fold the batch's ACCEPTED docs —
    those with no match — back into the stored index via
    ``minhash_index_append``, so later batches dedup against everything
    accepted so far, not just the initial corpus. This closes the loop
    ``stream_incremental_dedup`` previously left open (the index never
    grew).

    Exactly-once under Structured Streaming's replay contract, keyed by
    batch_id on BOTH effects: the match sink is an overwrite of
    ``{matches_path}/batch_id=N`` (replay rewrites the same partition),
    and the index append is a no-op for an already-applied batch_id
    (``applied_batches`` marker). ``new_filter`` optionally restricts
    which batch rows are ingest candidates (the registered query uses
    odd doc_ids, the fixture's stand-in for 'today's docs').

    ``compact_every=N`` schedules ``minhash_index_compact`` after every
    N-th applied batch — the OPTIMIZE step a long-running ingest needs,
    run inline so the artifact never accretes unboundedly between
    external maintenance windows. Replay-safe by construction:
    compaction only materializes the read-time derivation (matching is
    pytest-pinned identical before/after), so a replayed batch that
    re-triggers it is a semantic no-op.
    """
    from laygo_python_spark.operators import dedup

    # Params are immutable for the life of an index (append never
    # rewrites them), so the first batch's read is cached across the
    # loop — each later micro-batch skips one params-collect job.
    _params_cache: dict = {}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.filter(new_filter) if new_filter is not None else batch_df
        stored = dedup.minhash_index_read(
            spark, index_path, params=_params_cache.get("row")
        )
        p = stored["params"]
        _params_cache["row"] = p
        # ONE Python pass per micro-batch: the pinned signature frame
        # feeds BOTH the match and (anti-joined down to the accepted
        # docs) the index append — the pre-r7 shape shingled the batch
        # twice and pinned the raw batch rows a third time.
        sig = pin(dedup.minhash_sig_keys(
            new, "doc_id", "text",
            p["shingle_n"], p["num_hashes"], p["bands"], p["seed"],
        ))
        # The sink write IS the materialization: the accepted-set
        # anti-join below reads the landed partition back instead of
        # paying a separate checkpoint job per batch (r9). The partition
        # is batch-private (overwritten wholesale on replay), so the
        # read-back can never see another batch's rows.
        dedup.minhash_match_incremental(new, stored, precomputed_sig=sig).write.mode(
            "overwrite"
        ).parquet(f"{matches_path}/batch_id={batch_id}")
        matches = spark.read.parquet(f"{matches_path}/batch_id={batch_id}")
        accepted_sig = sig.join(
            matches.select(F.col("doc_id_new").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        dedup.minhash_index_append(
            spark, index_path, None,
            batch_id=batch_id, stats=False,
            precomputed_sig=accepted_sig, params=p,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            dedup.minhash_index_compact(spark, index_path, stats=False)

    return process


def drift_histogram_processor(
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
    keys: list[str],
    hist_path: str,
    batch_filter: Column | None = None,
):
    """``foreachBatch`` body for a streaming data-quality gate: per
    micro-batch, bin the batch's rows (operators/drift.binned_counts)
    and land the partial histogram as ``{hist_path}/batch_id=N``.
    Histograms are additive partials, so the merged current-window
    distribution is a read-time ``groupBy(keys, bin).sum`` over the
    partitions — no raw row is ever re-read — and drift against a
    stored reference histogram is ``drift_from_counts`` on two tiny
    frames. Exactly-once under the replay contract: a replayed batch
    OVERWRITES its own partition, and additivity makes the merge
    independent of how rows were split into batches (pytest-pinned)."""
    from laygo_python_spark.operators.drift import binned_counts

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.filter(batch_filter) if batch_filter is not None else batch_df
        hist = binned_counts(rows, col, lo, hi, n_bins, keys)
        hist.write.mode("overwrite").parquet(f"{hist_path}/batch_id={batch_id}")

    return process


def mg_summary_processor(key: str, k: int, summary_path: str):
    """``foreachBatch`` body for streaming heavy-hitter discovery: per
    micro-batch, reduce the batch to its ≤k-row Misra-Gries summary
    (operators/heavyhitters — per-partition bounded counters, one
    KB-scale merge) and land it as ``{summary_path}/batch_id=N``.

    MG summaries are MERGEABLE with the n/(k+1) guarantee preserved
    under ANY merge tree (Agarwal et al., PODS 2012), so the stored
    partials fold into a corpus-level candidate set at read time
    without ever re-reading raw history — the same
    partials-then-merge contract as drift_histogram_processor, with
    the same exactly-once story (a replayed batch OVERWRITES its own
    partition)."""
    from laygo_python_spark.operators.heavyhitters import mg_merge, mg_summarize

    def process(batch_df, batch_id: int) -> None:
        summary = mg_merge(mg_summarize(batch_df, key, k=k), key, k=k)
        summary.withColumnRenamed("est", "cnt").write.mode("overwrite").parquet(
            f"{summary_path}/batch_id={batch_id}"
        )

    return process


def moments_summary_processor(value: str, keys: list[str], summary_path: str):
    """``foreachBatch`` body for streaming mergeable statistics: per
    micro-batch, reduce the batch to one (…keys, n, sum, M2) row per
    key group (operators/moments.shard_moments — exact, three numbers
    per group) and land it as ``{summary_path}/batch_id=N``.

    Moment summaries merge EXACTLY under any merge tree (Chan-Golub-
    LeVeque), so the stored partials fold into corpus-level mean/
    variance at read time without re-reading raw history — the same
    partials-then-merge contract as mg_summary_processor, with the same
    exactly-once story (a replayed batch OVERWRITES its own
    partition). The per-batch aggregation mirrors
    operators/moments.shard_moments (NULL values excluded up front)
    with the stream's keys as the grouping."""

    def process(batch_df, batch_id: int) -> None:
        import pyspark.sql.functions as F

        base = batch_df.filter(F.col(value).isNotNull())
        per_key = base.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value).cast("double")).alias("s"),
            (F.var_pop(F.col(value).cast("double")) * F.count(F.lit(1))).alias("m2"),
        )
        per_key.write.mode("overwrite").parquet(f"{summary_path}/batch_id={batch_id}")

    return process


def hll_summary_processor(key: str, shard, summary_path: str, p: int = 12):
    """``foreachBatch`` body for streaming distinct-count monitoring:
    per micro-batch, reduce the batch to its per-shard HyperLogLog
    register table (operators/hll.hll_build_sharded — ≤ |shards|·2^p
    rows however large the batch) and land it as
    ``{summary_path}/batch_id=N``. Registers merge under max (a
    lattice), so the stored partials fold into per-shard distinct
    estimates at read time without re-reading raw history, and the fold
    is ORDER-FREE — any batch arrival order, any merge tree, same
    registers. Replay = overwrite = exactly-once, same contract as the
    mg/moments/qsketch processors."""
    from laygo_python_spark.operators.hll import hll_build_sharded

    def process(batch_df, batch_id: int) -> None:
        hll_build_sharded(batch_df, key, shard, p=p).write.mode(
            "overwrite"
        ).parquet(f"{summary_path}/batch_id={batch_id}")

    return process


def es_sample_summary_processor(
    weight_col: str, keep_cols: list[str], summary_path: str, k: int = 50
):
    """``foreachBatch`` body for streaming weighted sampling WITHOUT
    replacement: per micro-batch, keep the k smallest Efraimidis-
    Spirakis keys (es_key = −ln(u)/w with hash-derived u — reproducible
    across runs/engines, see queries/mixing_ops.weighted_sample_topk)
    and land them as ``{summary_path}/batch_id=N``. ES keys merge under
    top-k (a selection lattice): the global weighted sample is EXACTLY
    the k smallest keys across all batches, so the read side re-selects
    top-k over ≤ batches·k stored partial rows and never re-reads raw
    history. Replay = overwrite = exactly-once, same contract as the
    other summary processors.

    The first keep_col doubles as the hash key and the deterministic
    tiebreak, so it must be a unique id."""
    id_col = keep_cols[0]

    def process(batch_df, batch_id: int) -> None:
        u = (1.0 + F.pmod(md5_long(F.col(id_col).cast("string"), 8), F.lit(1000000))) / 1000001.0
        keyed = batch_df.filter(F.col(weight_col) > 0).select(
            *keep_cols, F.round(-F.log(u) / F.col(weight_col), 9).alias("es_key")
        )
        keyed.orderBy("es_key", id_col).limit(k).write.mode("overwrite").parquet(
            f"{summary_path}/batch_id={batch_id}"
        )

    return process


def qsketch_summary_processor(value: str, summary_path: str, gamma: float = 1.02):
    """``foreachBatch`` body for streaming quantile monitoring: per
    micro-batch, reduce the batch to its log-bucketed histogram
    (operators/qsketch.qsketch_build — ≤ a few hundred (bucket, cnt,
    gamma) rows however large the batch) and land it as
    ``{summary_path}/batch_id=N``. Counter addition makes the partials
    exactly mergeable (same contract as mg/moments processors; replay =
    overwrite = exactly-once)."""
    from laygo_python_spark.operators.qsketch import qsketch_build

    def process(batch_df, batch_id: int) -> None:
        qsketch_build(batch_df, value, gamma=gamma).write.mode("overwrite").parquet(
            f"{summary_path}/batch_id={batch_id}"
        )

    return process


def counts_summary_processor(keys: list[str], summary_path: str):
    """``foreachBatch`` body for streaming count telemetry: per
    micro-batch, one (…keys, n) row per key group lands
    batch_id-keyed (replay = overwrite = exactly-once). Counter
    linearity makes the partials exactly mergeable — the lightest
    member of the mergeable-summary family (mg / moments / qsketch
    processors), and the input a privacy-shaped release folds at
    read time (operators/governance.dp_laplace_release draws the
    noise ONCE over the merged totals)."""

    def process(batch_df, batch_id: int) -> None:
        import pyspark.sql.functions as F

        batch_df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{summary_path}/batch_id={batch_id}")

    return process


def substring_ingest_processor(
    spark: SparkSession,
    index_path: str,
    matches_path: str,
    new_filter: Column | None = None,
    min_len: int = 16,
):
    """``foreachBatch`` body for streaming exact substring-span dedup
    against the STORED postings index (operators/dedup.substring_index):
    per micro-batch, (1) ``substring_match_incremental`` the batch —
    spans vs everything indexed so far PLUS within the batch; only the
    batch's text is tokenized — (2) land the spans in a per-batch sink
    partition, (3) ``substring_index_append`` the batch's postings so
    later batches match against it. Because EVERY batch is appended,
    the union of per-batch matches is batch-split INVARIANT: it equals
    the one-shot incremental match over the whole stream (each
    cross-batch pair surfaces exactly once, when its later doc
    arrives), which is what the shared oracle and the multi-batch
    pytest assert.

    Exactly-once keyed by batch_id on both effects (partition overwrite
    / applied_batches no-op) — the incremental_dedup_processor
    contract."""
    from laygo_python_spark.operators import dedup

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.filter(new_filter) if new_filter is not None else batch_df
        idx = dedup.substring_index_read(spark, index_path)
        spans = dedup.substring_match_incremental(new, idx, min_len=min_len)
        spans.write.mode("overwrite").parquet(f"{matches_path}/batch_id={batch_id}")
        dedup.substring_index_append(spark, index_path, new, batch_id=batch_id)

    return process
