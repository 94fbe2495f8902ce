"""Structured Streaming queries over the ``events`` fixture — new
capability vs the reference (SURVEY.md §2.11: the reference is pull-based
lazy iteration with NO event-time semantics, watermarks, or windows).

Each query actually executes through the streaming engine (readStream →
watermarked windowed agg → memory sink driven to completion), and its
oracle is the equivalent batch SQL — a bounded stream processed to
completion must agree with the batch answer exactly.

At 100 TB-scale streaming: the watermark bounds state (late rows beyond
it are dropped, window state evicted); session windows merge in the
state store per key. The file source here swaps for Kafka in production
with the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.queries import query
from laygo_python_spark.session import pin
from laygo_python_spark.streaming import (
    read_events_stream,
    run_to_completion,
    session_windows,
    tumbling_counts,
)


@query(
    "stream_hourly_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation, executed by the streaming
    engine and drained to completion — must equal the batch GROUP BY."""
    agg = tumbling_counts(read_events_stream(spark, sf_dir), window="1 hour", watermark="2 hours")
    result = run_to_completion(agg, "stream_hourly")
    return result.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) through the streaming state store; the
    oracle rebuilds the same sessions in batch SQL via gap-island
    detection (a session starts when the gap from the previous event of
    that user exceeds 30 min). Session start = first event ts."""
    agg = session_windows(read_events_stream(spark, sf_dir), gap="30 minutes")
    result = run_to_completion(agg, "stream_sessions")
    return result.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        "n_events",
    )


@query(
    "stream_click_error_join",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
               WHERE event_type = 'click'),
         e AS (SELECT event_id AS error_id, user_id, ts AS e_ts FROM events
               WHERE event_type = 'error')
    SELECT c.click_id, e.error_id
    FROM c JOIN e ON c.user_id = e.user_id
     AND e.e_ts >= c.c_ts - INTERVAL 15 MINUTE
     AND e.e_ts <= c.c_ts + INTERVAL 15 MINUTE
    """,
)
def stream_click_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with symmetric watermarks and a ±15 min
    time-range condition, drained to completion — must equal the batch
    interval join exactly. At scale the watermarks bound BOTH sides'
    state stores; without them a stream-stream join buffers forever."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts") - F.expr("INTERVAL 15 MINUTES"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 15 MINUTES")),
    ).select("click_id", "error_id")
    return run_to_completion(joined, "stream_ssj", output_mode="append")


def _running_user_count(key, pdfs, state):
    """Stateful kernel: running per-user event count kept in the state
    store across micro-batches (module-level so executors import it)."""
    import pandas as pd

    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})


@query(
    "stream_stateful_user_counts",
    oracle="""
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    """,
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): arbitrary
    per-key state carried across micro-batches — the upgrade over the
    reference's shared context dict (SURVEY.md §2.10/§2.11), which has
    no keyed state, no store, no recovery. Update-mode emissions are
    drained to a sink and collapsed with max(), so the final running
    count per user must equal the batch GROUP BY count exactly.

    100 TB posture: state is partitioned by key in the state store
    (RocksDB-backed on a real cluster) and each micro-batch touches only
    keys present in that batch; use timeouts to evict idle keys when the
    key space is unbounded."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_user_count,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = run_to_completion(stream, "stream_stateful_counts", output_mode="update")
    return drained.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_dedup_user_types",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (dedup_stream): first event per
    (user_id, event_type) through the state store, drained to
    completion and projected to the key columns — WHICH row survives
    is arrival-order-dependent, but the key SET is exactly batch
    DISTINCT, which is what makes a stateful streaming op
    oracle-gateable. Global-state mode here (exact over the bounded
    fixture); the watermarked mode is the bounded-state variant for
    unbounded key universes (see streaming.dedup_stream docstring)."""
    from laygo_python_spark.streaming import dedup_stream

    deduped = dedup_stream(read_events_stream(spark, sf_dir), ["user_id", "event_type"])
    result = run_to_completion(deduped, "stream_dedup", output_mode="append")
    return result.select("user_id", "event_type")


@query(
    "stream_sliding_counts",
    oracle="""
    WITH e AS (SELECT event_type, epoch_us(ts) // 300000000 AS sl FROM events),
    w AS (SELECT event_type, (sl - k) * 300000000 AS ws
          FROM e, unnest([0, 1]) AS t(k))
    SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (10 min window, 5 min slide) through the
    streaming engine — every event lands in exactly window/slide = 2
    overlapping windows, which the batch oracle reproduces by exploding
    each event into its two slide buckets (the multiplicity is the
    entire semantic difference from a tumbling window, so the oracle
    pins it). Drained to completion, must equal the batch expansion."""
    from laygo_python_spark.streaming import sliding_counts

    agg = sliding_counts(read_events_stream(spark, sf_dir), window="10 minutes", slide="5 minutes")
    result = run_to_completion(agg, "stream_sliding")
    return result.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
    )


from laygo_python_spark.queries.dedup_ops import _incremental_lsh_oracle


@query("stream_incremental_dedup", oracle=_incremental_lsh_oracle())
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest deduped against the STORED LSH index, with the
    loop CLOSED — the production crawl shape end-to-end: yesterday's
    corpus (even doc_ids) lives as the parquet index artifact, today's
    documents arrive as a file stream, and every micro-batch runs
    ``incremental_dedup_processor``: match via
    ``minhash_match_incremental`` (only the batch's text is shingled;
    the seen corpus is never read), write the matches to a per-batch
    sink partition, then ``minhash_index_append`` the batch's ACCEPTED
    docs into the stored index — so later batches dedup against
    everything accepted so far. Both effects are keyed by batch_id
    (partition overwrite / applied_batches no-op), matching the
    exactly-once discipline the rest of the streaming suite tests.

    The fixture's single file makes one micro-batch, whose matches are
    computed before its own append lands — so the output equals the
    one-shot incremental match and the SAME generated DuckDB oracle
    gates both (dedup_incremental_lsh is the batch twin). The
    multi-batch index-growth semantics are pinned by
    tests/test_index_append.py::test_stream_ingest_appends_accepted
    (after N micro-batches the stored index ≡ a batch-built index over
    seen ∪ all accepted docs)."""
    import shutil
    import tempfile

    from laygo_python_spark.operators import dedup
    from laygo_python_spark.queries.dedup_ops import _index_template
    from laygo_python_spark.session import read_table
    from laygo_python_spark.streaming import incremental_dedup_processor

    docs = read_table(spark, sf_dir, "documents")

    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    # Yesterday's corpus index is the session-cached template
    # (_index_template): the steady state a streaming ingest runs in is
    # "the stored index already exists"; the copy keeps each invocation
    # mutating its own artifact.
    tmpl = _index_template(
        spark, sf_dir, "seen_even",
        lambda p: dedup.minhash_index_write(
            dedup.minhash_index(docs.filter(F.col("doc_id") % 2 == 0)), p
        ),
    )
    scratch = tempfile.mkdtemp(prefix="stream_incdedup_")
    idx_dir, out_dir = f"{scratch}/index", f"{scratch}/matches"

    # try/finally around the WHOLE scratch lifecycle — repeated
    # invocations (bench runs, the driver gate, a failing stream
    # mid-retry) must not accumulate /tmp parquet, so the rmtree runs
    # on the failure paths too, not just after a clean read-back.
    try:
        shutil.copytree(tmpl, idx_dir)
        process = incremental_dedup_processor(
            spark, idx_dir, out_dir, new_filter=F.col("doc_id") % 2 == 1
        )
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        # Pin the result, then remove the scratch dirs.
        return pin(
            spark.read.parquet(out_dir)
            .select("doc_id_new", "doc_id_seen", "n_bands")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


from laygo_python_spark.queries.stats_ops import PSI_DRIFT_ORACLE


@query("stream_drift_monitor", oracle=PSI_DRIFT_ORACLE)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING data-quality gate (streaming/
    drift_histogram_processor): the second half of January arrives as a
    file stream, every micro-batch lands its additive histogram partial
    as a batch_id-keyed parquet partition (replay = overwrite, so
    exactly-once), and the drift fold (operators/drift.drift_from_counts)
    runs over the MERGED partials against the reference histogram —
    raw history rows are never re-read, which is what lets this gate
    run forever at ingest rates. A bounded stream processed to
    completion must equal the batch answer exactly, so the oracle is
    psi_value_drift's own SQL (histogram additivity makes the result
    independent of how rows were split into batches — also pinned by
    tests/test_drift.py::test_stream_multi_batch_equals_batch with a
    forced 4-file multi-batch split)."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.drift import binned_counts, drift_from_counts
    from laygo_python_spark.session import read_table
    from laygo_python_spark.streaming import drift_histogram_processor

    ev = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref_hist = binned_counts(
        ev.filter(F.col("ts") < cut), "value", 0.0, 500.0, 10, ["event_type"]
    )

    stream = read_events_stream(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="stream_drift_")
    try:
        process = drift_histogram_processor(
            "value", 0.0, 500.0, 10, ["event_type"],
            hist_path=f"{scratch}/hist",
            batch_filter=F.col("ts") >= cut,
        )
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        cur_hist = (
            spark.read.parquet(f"{scratch}/hist")
            .groupBy("event_type", "bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        return pin(drift_from_counts(ref_hist, cur_hist, ["event_type"]))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "stream_heavy_hitters",
    oracle="""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
    FROM part GROUP BY p_brand
    HAVING count(*) >= 0.03 * (SELECT count(*) FROM part)
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING heavy-hitter discovery (streaming/mg_summary_processor):
    the part table arrives as a file stream, every micro-batch lands its
    ≤k-row Misra-Gries summary as a batch_id-keyed parquet partition
    (replay = overwrite = exactly-once), and the candidate set is the
    read-time merge of the stored partials — raw history is never
    re-read, which is what lets the monitor run forever at ingest rates.
    Candidates then get one exact lake-side recount (broadcast semi-join,
    map-side hash bounded by the candidate list), making the final
    answer EXACT — so this streaming sketch plan shares the plain GROUP
    BY/HAVING oracle with its batch twin mg_heavy_hitters_brands: a
    bounded stream processed to completion must equal the batch answer
    (the MG merge guarantee holds under any batch split; multi-batch
    equivalence is pinned by tests/test_heavyhitters.py with a forced
    4-file split)."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.heavyhitters import mg_merge
    from laygo_python_spark.session import read_table
    from laygo_python_spark.streaming import mg_summary_processor

    min_freq, k = 0.03, 66
    part = read_table(spark, sf_dir, "part")
    raw_schema = spark.read.parquet(f"{sf_dir}/part.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "part.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scratch = tempfile.mkdtemp(prefix="stream_mg_")
    try:
        process = mg_summary_processor("p_brand", k, f"{scratch}/summaries")
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        partials = spark.read.parquet(f"{scratch}/summaries").select("p_brand", "cnt")
        candidates = mg_merge(partials, "p_brand", k=k).select("p_brand")
        n_tot = part.agg(F.count(F.lit(1)).alias("n_tot"))
        return pin(
            part.join(F.broadcast(candidates), "p_brand", "left_semi")
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(n_tot))
            .filter(F.col("cnt") >= F.col("n_tot") * min_freq)
            .select("p_brand", "cnt")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "stream_moments_merge",
    oracle="""
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_rows,
           round(avg(value), 6) AS mean,
           round(var_pop(value), 6) AS var_pop
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def stream_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mergeable statistics (streaming/
    moments_summary_processor): events arrive as a file stream, every
    micro-batch lands its per-event-type (n, sum, M2) three-number
    summary as a batch_id-keyed parquet partition (replay = overwrite =
    exactly-once), and the corpus-level mean/variance is the read-time
    Chan-Golub-LeVeque fold of the stored partials
    (operators/moments.merge_moments_by) — raw history is never
    re-read, so the monitor runs forever at ingest rates with
    |event_types| rows of state per batch. A bounded stream processed
    to completion must equal the batch aggregate exactly (the merge is
    exact in reals, and multi-batch ≡ single-batch is pinned in
    tests/test_budget_moments.py with a forced file split)."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.moments import merge_moments_by

    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scratch = tempfile.mkdtemp(prefix="stream_moments_")
    try:
        from laygo_python_spark.streaming import moments_summary_processor

        process = moments_summary_processor("value", ["event_type"], f"{scratch}/summaries")
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        partials = spark.read.parquet(f"{scratch}/summaries").select(
            "event_type", "n", "s", "m2"
        )
        return pin(
            merge_moments_by(partials, ["event_type"])
            .select(
                "event_type", "n_rows",
                F.round("mean", 6).alias("mean"),
                F.round("var_pop", 6).alias("var_pop"),
            )
            .orderBy("event_type")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


_STREAM_QSKETCH_ORACLE = """
    WITH ev AS (SELECT value FROM events WHERE value IS NOT NULL),
    b AS (SELECT CAST(round(ln(value + 1.0) / ln(1.02)) AS INT) AS bucket FROM ev),
    h AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h),
    cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
    qv AS (SELECT unnest(CAST([0.5, 0.95, 0.99] AS DOUBLE[])) AS q),
    picked AS (SELECT q, min(bucket) AS bucket
               FROM qv, cum, t WHERE cum >= ceil(q * total) GROUP BY q),
    ex AS (SELECT quantile_cont(value, 0.5) AS e50, quantile_cont(value, 0.95) AS e95,
                  quantile_cont(value, 0.99) AS e99 FROM ev),
    exact AS (SELECT 0.5::DOUBLE AS q, e50 AS exact FROM ex
              UNION ALL SELECT 0.95::DOUBLE, e95 FROM ex
              UNION ALL SELECT 0.99::DOUBLE, e99 FROM ex)
    SELECT p.q, round(exp(p.bucket * ln(1.02)) - 1.0, 4) AS est,
           round(x.exact, 4) AS exact,
           round(abs((exp(p.bucket * ln(1.02)) - 1.0) - x.exact) / x.exact, 4) AS rel_err
    FROM picked p JOIN exact x ON p.q = x.q
    ORDER BY p.q
"""


@query("stream_value_quantiles", oracle=_STREAM_QSKETCH_ORACLE)
def stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile monitoring (streaming/qsketch_summary_processor):
    events arrive as a file stream, every micro-batch lands its
    log-bucketed histogram partial (≤ a few hundred rows) batch_id-keyed
    (replay = overwrite = exactly-once), and the p50/p95/p99 answer is
    the read-time counter merge + cumulative pick
    (operators/qsketch) — raw history is never re-read. Counter
    addition is exact in integers, so a bounded stream processed to
    completion shares the BATCH sketch oracle verbatim: DuckDB replays
    the buckets, the cumulative pick, the geometric midpoints, and the
    exact twins."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.qsketch import qsketch_merge, qsketch_quantiles
    from laygo_python_spark.session import read_table

    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scratch = tempfile.mkdtemp(prefix="stream_qsketch_")
    try:
        from laygo_python_spark.streaming import qsketch_summary_processor

        process = qsketch_summary_processor("value", f"{scratch}/summaries", gamma=1.02)
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        partials = spark.read.parquet(f"{scratch}/summaries").select("bucket", "cnt", "gamma")
        merged = qsketch_merge(partials)
        qs = [0.5, 0.95, 0.99]
        est = qsketch_quantiles(merged, qs)
        ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
        exact = (
            ev.agg(*[F.percentile("value", F.lit(qq)).alias(f"e{int(qq * 100)}") for qq in qs])
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(qq).alias("q"), F.col(f"e{int(qq * 100)}").alias("exact"))
                            for qq in qs
                        ]
                    )
                ).alias("x")
            )
            .select("x.q", "x.exact")
        )
        return pin(
            est.join(exact, "q")
            .select(
                "q",
                F.round("est", 4).alias("est"),
                F.round("exact", 4).alias("exact"),
                F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 4).alias("rel_err"),
            )
            .orderBy("q")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "stream_dp_release",
    oracle="""
    WITH g AS (SELECT event_type AS k, count(*) AS c FROM events
               GROUP BY event_type),
    n AS (SELECT k, c,
                 ((('0x' || substring(md5('dp' || chr(31)
                       || coalesce(k, chr(0) || 'null')), 1, 8))::BIGINT
                   % 1000000) + 0.5) / 1000000.0 AS u
          FROM g),
    r AS (SELECT k,
                 c + (-1.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS nc
          FROM n)
    SELECT k AS event_type, round(nc, 6) AS noisy_count,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM r
    ORDER BY event_type
    """,
)
def stream_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-shaped STREAMING telemetry release: events arrive as a
    file stream, every micro-batch lands its per-event-type count
    partial batch_id-keyed (streaming/counts_summary_processor; replay
    = overwrite = exactly-once), and the release is the read-time
    counter fold + ONE Laplace(1/ε) draw over the merged totals
    (operators/governance.dp_laplace_release — noise at release time,
    not per partial: L per-batch draws would be a looser, wrong
    calibration). Counter addition is exact, so a bounded stream
    processed to completion shares dp_noisy_counts' oracle shape over
    the batch GROUP BY. The deterministic-noise honesty caveat rides on
    the operator docstring."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.governance import dp_laplace_release

    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scratch = tempfile.mkdtemp(prefix="stream_dp_")
    try:
        from laygo_python_spark.streaming import counts_summary_processor

        process = counts_summary_processor(["event_type"], f"{scratch}/summaries")
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        merged = (
            spark.read.parquet(f"{scratch}/summaries")
            .groupBy("event_type")
            .agg(F.sum("n").alias("n"))
        )
        return pin(
            dp_laplace_release(merged, ["event_type"], "n", epsilon=1.0)
            .orderBy("event_type")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "stream_hll_users",
    oracle="""
    WITH ev AS (SELECT event_type, user_id FROM events
                WHERE user_id IS NOT NULL),
    h AS (SELECT event_type,
                 ('0x'||substr(md5(user_id::VARCHAR),1,15))::BIGINT AS hv
          FROM ev),
    reg AS (SELECT event_type, hv >> 48 AS idx,
                   CASE WHEN (hv & 281474976710655) = 0 THEN 49
                        ELSE 49 - length(format('{:b}', hv & 281474976710655))
                   END AS rho0
            FROM h),
    regs AS (SELECT event_type, idx, max(rho0) AS rho
             FROM reg GROUP BY event_type, idx),
    agg AS (SELECT event_type, sum(power(2.0, -rho)) AS s, count(*) AS nz
            FROM regs GROUP BY event_type)
    SELECT event_type,
           round(CASE WHEN ((0.7213/(1+1.079/4096))*4096*4096/(s + (4096-nz))) <= 10240.0
                       AND nz < 4096
                      THEN 4096 * ln(4096.0/(4096-nz))
                      ELSE (0.7213/(1+1.079/4096))*4096*4096/(s + (4096-nz)) END, 1)
             AS est_distinct
    FROM agg ORDER BY event_type
    """,
)
def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-user monitoring (streaming/
    hll_summary_processor): events arrive as a file stream, every
    micro-batch lands its per-event-type HyperLogLog register table
    (≤ |types|·2^12 rows of state per batch, however large the batch)
    as a batch_id-keyed parquet partition, and the per-type distinct
    estimate is the read-time max-lattice fold of the stored partials
    (operators/hll.hll_estimate_by) — raw history is never re-read.
    Completes the mergeable-summary streaming family (moments,
    log-bucket quantiles, Misra-Gries, CMS → now cardinality).

    Register max is order- AND batch-independent, so a bounded stream
    processed to completion equals the single-pass sketch EXACTLY —
    DuckDB replays the md5 60-bit hash family, register build, merge
    and the bias-corrected estimate end-to-end (the
    hll_relational_daily_users idiom over the streaming store)."""
    import shutil
    import tempfile

    from laygo_python_spark.operators.hll import hll_estimate_by
    from laygo_python_spark.streaming import hll_summary_processor

    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scratch = tempfile.mkdtemp(prefix="stream_hll_")
    try:
        process = hll_summary_processor(
            "user_id", "event_type", f"{scratch}/summaries", p=12
        )
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        partials = spark.read.parquet(f"{scratch}/summaries")
        merged = partials.groupBy("shard", "idx", "p", "hash_fn").agg(F.max("rho").alias("rho"))
        return pin(
            hll_estimate_by(merged, ["shard"])
            .select(
                F.col("shard").alias("event_type"),
                F.round("est", 1).alias("est_distinct"),
            )
            .orderBy("event_type")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


from laygo_python_spark.queries.mixing_ops import ES_SAMPLE_ORACLE  # noqa: E402


@query("stream_weighted_sample", oracle=ES_SAMPLE_ORACLE)
def stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING weighted sampling without replacement (streaming/
    es_sample_summary_processor): documents arrive as a file stream,
    every micro-batch lands its k smallest Efraimidis-Spirakis keys
    (k rows of state per batch, however large the batch), and the
    corpus-level weighted sample is the read-time top-k over the stored
    partials — ES keys merge under selection exactly, so a bounded
    stream processed to completion equals the batch sampler
    (weighted_sample_topk) row for row, which is precisely the oracle
    this query shares with it. Completes the sampling corner of the
    mergeable-summary streaming family (moments, quantiles, heavy
    hitters, cardinality, DP release → now weighted reservoir)."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from laygo_python_spark.streaming import es_sample_summary_processor

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scratch = tempfile.mkdtemp(prefix="stream_essample_")
    try:
        process = es_sample_summary_processor(
            "n_chars", ["doc_id", "source", "n_chars"], f"{scratch}/summaries", k=50
        )
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        partials = spark.read.parquet(f"{scratch}/summaries").select(
            "doc_id", "source", "n_chars", "es_key"
        )
        top = partials.orderBy("es_key", "doc_id").limit(50)
        w = Window.orderBy("es_key", "doc_id")
        return pin(
            top.withColumn("rn", F.row_number().over(w))
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


from laygo_python_spark.queries.dedup_ops import _SUBSTRING_INCREMENTAL_ORACLE  # noqa: E402


@query("stream_substring_dedup", oracle=_SUBSTRING_INCREMENTAL_ORACLE)
def stream_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact substring-span dedup against the STORED postings
    index, loop closed (streaming/substring_ingest_processor): the seen
    corpus (even doc_ids) lives as the parquet postings artifact,
    today's documents arrive as a file stream, and every micro-batch
    matches spans against everything indexed so far, lands them in a
    per-batch partition, then appends its own postings — so the union
    of per-batch matches is batch-split invariant and equals the
    one-shot incremental result, which is exactly what the SHARED
    oracle asserts (substring_incremental_spans is the batch twin; the
    multi-batch and replay invariants are pinned in
    tests/test_streaming.py). Completes the streaming-ingest dedup
    family: MinHash (stream_incremental_dedup) and now exact substring
    spans share the match-then-append exactly-once discipline."""
    import shutil
    import tempfile

    from laygo_python_spark.operators import dedup
    from laygo_python_spark.queries.dedup_ops import _index_template
    from laygo_python_spark.session import read_table
    from laygo_python_spark.streaming import substring_ingest_processor

    docs = read_table(spark, sf_dir, "documents")
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    tmpl = _index_template(
        spark, sf_dir, "substring_seen_even",
        lambda p: dedup.substring_index_write(
            dedup.substring_index(docs.filter(F.col("doc_id") % 2 == 0), k=8), p
        ),
    )
    scratch = tempfile.mkdtemp(prefix="stream_ssdedup_")
    idx_dir, out_dir = f"{scratch}/index", f"{scratch}/matches"
    try:
        shutil.copytree(tmpl, idx_dir)
        process = substring_ingest_processor(
            spark, idx_dir, out_dir, new_filter=F.col("doc_id") % 2 == 1, min_len=16
        )
        q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return pin(
            spark.read.parquet(out_dir)
            .select("doc_id_a", "doc_id_b", "start_a", "start_b", "span_len")
            .orderBy("doc_id_a", "doc_id_b", "start_a", "start_b")
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
