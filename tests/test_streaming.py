"""Structured Streaming validation: bounded streams driven to completion
must agree with batch equivalents; custom stateful processing via
applyInPandasWithState.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from laygo_python_spark.session import read_table
from laygo_python_spark.streaming import (
    read_events_stream,
    run_to_completion,
    session_windows,
    sliding_counts,
    tumbling_counts,
)


def test_tumbling_counts_equal_batch(spark, sf_dir):
    stream_result = run_to_completion(
        tumbling_counts(read_events_stream(spark, sf_dir), window="1 hour"), "t_tumble"
    )
    got = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in stream_result.collect()
    }
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    expected = {(r["h"], r["event_type"]): (r["n"], r["s"]) for r in batch.collect()}
    assert got == expected


def test_sliding_window_multiplicity(spark, sf_dir):
    """Every event lands in window/slide overlapping windows."""
    result = run_to_completion(
        sliding_counts(read_events_stream(spark, sf_dir), window="10 minutes", slide="5 minutes"),
        "t_slide",
    )
    total_stream = result.agg(F.sum("n")).collect()[0][0]
    total_batch = read_table(spark, sf_dir, "events").count()
    assert total_stream == 2 * total_batch


def test_session_window_reassembles_batch_sessions(spark, sf_dir):
    result = run_to_completion(
        session_windows(read_events_stream(spark, sf_dir), gap="30 minutes"), "t_sess"
    )
    # session event counts must sum to the corpus size
    assert result.agg(F.sum("n_events")).collect()[0][0] == read_table(spark, sf_dir, "events").count()
    # and no two sessions of one user may overlap (rename columns to
    # sidestep Spark's self-join attribute ambiguity)
    w = result.select("user_id", F.col("session_window.start").alias("s"), F.col("session_window.end").alias("e"))
    wa = w.select(F.col("user_id").alias("ua"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    wb = w.select(F.col("user_id").alias("ub"), F.col("s").alias("sb"))
    overlaps = wa.join(
        wb,
        (F.col("ua") == F.col("ub")) & (F.col("sa") < F.col("sb")) & (F.col("sb") < F.col("ea")),
    ).count()
    assert overlaps == 0


def test_apply_in_pandas_with_state(spark, sf_dir):
    """Custom stateful streaming operator (reference has only the shared
    context dict for state, SURVEY.md §2.10/§2.11): running per-user
    event count maintained in the state store across micro-batches."""

    def count_state(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = read_events_stream(spark, sf_dir).groupBy("user_id").applyInPandasWithState(
        count_state,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_to_completion(stream, "t_state", output_mode="update")
    got = {r.user_id: r.n_events for r in result.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()}
    expected = {
        r.user_id: r.n
        for r in read_table(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


def test_sinks_roundtrip(spark, tmp_path):
    from laygo_python_spark.sources.sinks import to_parquet

    df = spark.createDataFrame([(i, "ab"[i % 2]) for i in range(20)], ["v", "k"])
    out = str(tmp_path / "out")
    to_parquet(df, out, partition_by=["k"], sort_within_partitions=["v"])
    back = spark.read.parquet(out)
    assert back.count() == 20
    assert sorted(back.columns) == ["k", "v"]
    # partition pruning works on the written layout
    assert back.filter(F.col("k") == "a").count() == 10


def test_stream_stream_interval_join(spark, sf_dir):
    """Stream-stream inner join with watermarks + time-range condition —
    the streaming twin of operators/interval.asof-style correlation. Both
    sides are bounded file streams, so the result must equal the batch
    interval join."""
    from laygo_python_spark.operators.interval import interval_join

    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    joined = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("c_ts") - F.expr("INTERVAL 15 MINUTES"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 15 MINUTES")),
    ).select("click_id", "error_id")
    got = {
        (r.click_id, r.error_id)
        for r in run_to_completion(joined, "t_ssj", output_mode="append").collect()
    }

    bev = read_table(spark, sf_dir, "events")
    bc = bev.filter("event_type = 'click'").select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts"))
    be = bev.filter("event_type = 'error'").select(F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts"))
    expected = {
        (r.click_id, r.error_id)
        for r in interval_join(bc, be, on=["user_id"], left_ts="c_ts", right_ts="e_ts", window_seconds=900).collect()
    }
    assert got == expected and len(got) > 0


def test_stream_dedup_within_watermark(spark, sf_dir):
    """Streaming deduplication — dropDuplicatesWithinWatermark evicts
    dedup state once the watermark passes (bounded memory); on a bounded
    replayed stream it must keep one row per user_id."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "90 days")
    deduped = ev.select("user_id", "ts").dropDuplicatesWithinWatermark(["user_id"])
    result = run_to_completion(deduped, "t_sdedup", output_mode="append")
    n_users_stream = result.count()
    n_users_batch = read_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert n_users_stream == n_users_batch


def test_foreach_batch_exactly_once_sink(spark, sf_dir, tmp_path):
    """foreachBatch — the exactly-once sink pattern: write each
    micro-batch to parquet keyed by epoch (idempotent on replay: a
    re-delivered epoch overwrites its own partition, never duplicates)."""
    out = str(tmp_path / "sink")

    def write_epoch(batch_df, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("overwrite").parquet(
            f"{out}/epoch={epoch_id}"
        )

    stream = read_events_stream(spark, sf_dir).select("event_id", "user_id")
    q = stream.writeStream.foreachBatch(write_epoch).trigger(availableNow=True).start()
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    written = spark.read.parquet(f"{out}/epoch=*")
    n_batch = read_table(spark, sf_dir, "events").count()
    assert written.count() == n_batch
    assert written.select("event_id").distinct().count() == n_batch


def test_stream_static_enrichment_join(spark, sf_dir):
    """Stream-static join: enrich a stream with a batch dimension table
    (no watermark needed on the static side — the standard streaming
    enrichment pattern; the dim broadcasts per micro-batch). Result must
    equal the batch join."""
    users = (
        read_table(spark, sf_dir, "events")
        .select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    enriched = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(users), "user_id")
        .select("event_id", "tier")
    )
    got = {(r.event_id, r.tier) for r in run_to_completion(enriched, "t_ssenrich", output_mode="append").collect()}
    expected = {
        (r.event_id, r.tier)
        for r in read_table(spark, sf_dir, "events")
        .filter("event_type = 'purchase'")
        .join(users, "user_id")
        .select("event_id", "tier")
        .collect()
    }
    assert got == expected and len(got) > 0


def test_stream_dedup_global_equals_batch_distinct(spark, sf_dir):
    """Global-state dedup_stream: the surviving-row choice is
    arrival-order-dependent, but the key set must be exactly batch
    DISTINCT, with no multiplicity (one emitted row per key)."""
    from laygo_python_spark.streaming import dedup_stream

    deduped = dedup_stream(read_events_stream(spark, sf_dir), ["user_id", "event_type"])
    out = run_to_completion(deduped, "t_sdedup", output_mode="append").select(
        "user_id", "event_type"
    )
    rows = [(r.user_id, r.event_type) for r in out.collect()]
    expected = {
        (r.user_id, r.event_type)
        for r in read_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().collect()
    }
    assert len(rows) == len(expected)  # no duplicate emissions
    assert set(rows) == expected


def test_stream_dedup_watermarked_mode_runs(spark, sf_dir):
    """Watermarked dedup (dropDuplicatesWithinWatermark): bounded state,
    weaker contract — duplicates farther apart than the delay may
    re-emit, so assert the output is a superset of nothing lost
    (covers every key) and never exceeds the raw row count."""
    from laygo_python_spark.streaming import dedup_stream

    raw = read_table(spark, sf_dir, "events")
    deduped = dedup_stream(
        read_events_stream(spark, sf_dir), ["user_id", "event_type"], watermark="2 hours"
    )
    out = run_to_completion(deduped, "t_sdedup_wm", output_mode="append").select(
        "user_id", "event_type"
    )
    keys = {(r.user_id, r.event_type) for r in out.collect()}
    expected = {
        (r.user_id, r.event_type)
        for r in raw.select("user_id", "event_type").distinct().collect()
    }
    assert keys == expected  # no key lost
    assert out.count() <= raw.count()


def test_available_now_trigger_exactly_once_resume(spark, sf_dir, tmp_path):
    """The scheduled-incremental pattern: trigger(availableNow=True)
    drains everything present and STOPS; re-running against the SAME
    checkpoint processes nothing new (source offsets are committed), so
    a nightly job is exactly-once without any dedup logic. A third run
    with a fresh checkpoint reprocesses from scratch — proving the
    checkpoint, not the sink, carries the guarantee."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once(checkpoint):
        stream = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive  # availableNow terminates on its own

    run_once(ckpt)
    n_first = spark.read.parquet(out).count()
    expected = read_table(spark, sf_dir, "events").filter("event_type = 'purchase'").count()
    assert n_first == expected > 0

    run_once(ckpt)  # same checkpoint: no new input → no new rows
    assert spark.read.parquet(out).count() == n_first

    # Fresh checkpoint, same sink: batch 0 replays but the sink's
    # _spark_metadata log already committed batch 0 → still deduped.
    run_once(str(tmp_path / "ckpt2"))
    assert spark.read.parquet(out).count() == n_first


def test_watermark_drops_late_rows(spark):
    """Late-data semantics pinned end to end: the third micro-batch
    replays OLD event times (ts = id % 2000 s, batch size 1000 → batch
    2 wraps back to 0..999 s) against a 100 s watermark. The watermark
    standing after batch 1 (999 − 100 = 899 s; Spark advances it one
    completed batch behind the data) makes every replayed row below
    899 s provably late — the [0, 500) window must count exactly its
    500 on-time rows, with the 500 replays DROPPED. Windows at or
    above the lagged watermark may legally absorb replays (the lag is
    the documented contract, not a bug), so only the guaranteed-late
    window is pinned exactly."""
    from laygo_python_spark.sources.python_datasource import register

    register(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", 3000)
        .option("batch", 1000)
        .load()
        .withColumn("ts", F.timestamp_seconds(F.col("event_id") % 2000))
    )
    agg = (
        stream.withWatermark("ts", "100 seconds")
        .groupBy(F.window("ts", "500 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    result = run_to_completion(agg, "t_late_drop", output_mode="append")
    counts = {r["window"].start.isoformat(): r["n"] for r in result.collect()}
    # The guaranteed-late window: 500 on-time rows only, replays dropped.
    assert counts["1970-01-01T00:00:00"] == 500, counts
    # Sanity: an on-time mid window is intact, and the final window
    # ([1500, 2000)) is NOT emitted at all — the watermark ends at
    # 1899 s < its end, the append-mode finalization contract.
    assert counts["1970-01-01T00:16:40"] >= 500, counts
    assert "1970-01-01T00:25:00" not in counts, counts


def test_stream_hll_multibatch_equals_single_pass(spark, tmp_path):
    """streaming/hll_summary_processor: the max-lattice fold of stored
    per-batch register tables must be IDENTICAL under any batch split
    (registers merge under max — order- and batch-free), and equal the
    one-pass sharded sketch over the same rows."""
    import pyspark.sql.functions as F

    from laygo_python_spark.operators.hll import hll_build_sharded, hll_estimate_by
    from laygo_python_spark.streaming import hll_summary_processor

    rows = [(i, f"t{i % 3}", (i * 13) % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, user_id long")
    results = {}
    for tag, nfiles in (("multi", 5), ("single", 1)):
        src = str(tmp_path / f"src_{tag}")
        df.repartition(nfiles).write.mode("overwrite").parquet(src)
        summaries = str(tmp_path / f"sum_{tag}")
        stream = (
            spark.readStream.schema("event_id long, event_type string, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                hll_summary_processor("user_id", "event_type", summaries, p=12)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        merged = (
            spark.read.parquet(summaries)
            .groupBy("shard", "idx", "p", "hash_fn")
            .agg(F.max("rho").alias("rho"))
        )
        results[tag] = {
            r["shard"]: round(r["est"], 6)
            for r in hll_estimate_by(merged, ["shard"]).collect()
        }
    assert results["multi"] == results["single"]
    one_pass = {
        r["shard"]: round(r["est"], 6)
        for r in hll_estimate_by(
            hll_build_sharded(df, "user_id", "event_type", p=12),
            ["shard"],
        ).collect()
    }
    assert results["single"] == one_pass


def test_stream_es_sample_multibatch_equals_batch_topk(spark, tmp_path):
    """streaming/es_sample_summary_processor: top-k over stored per-batch
    ES-key partials must be IDENTICAL under any batch split (selection
    is a lattice) and equal the direct batch top-k over the same rows."""
    import pyspark.sql.functions as F

    from laygo_python_spark.streaming import es_sample_summary_processor

    rows = [(i, f"s{i % 4}", (i * 7) % 90 + 10) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")

    def es_key(col_id="doc_id", w="n_chars"):
        u = (
            1.0
            + F.pmod(
                F.conv(F.substring(F.md5(F.col(col_id).cast("string")), 1, 8), 16, 10).cast("long"),
                F.lit(1000000),
            )
        ) / 1000001.0
        return F.round(-F.log(u) / F.col(w), 9)

    direct = [
        (r["doc_id"], r["es_key"])
        for r in df.select("doc_id", es_key().alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(20)
        .collect()
    ]
    results = {}
    for tag, nfiles in (("multi", 4), ("single", 1)):
        src = str(tmp_path / f"src_{tag}")
        df.repartition(nfiles).write.mode("overwrite").parquet(src)
        summaries = str(tmp_path / f"sum_{tag}")
        stream = (
            spark.readStream.schema("doc_id long, source string, n_chars long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                es_sample_summary_processor("n_chars", ["doc_id", "source", "n_chars"], summaries, k=20)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        results[tag] = [
            (r["doc_id"], r["es_key"])
            for r in spark.read.parquet(summaries)
            .orderBy("es_key", "doc_id")
            .limit(20)
            .collect()
        ]
    assert results["multi"] == results["single"] == direct


def test_stream_hll_replayed_batch_overwrites_partition(spark, tmp_path):
    """Exactly-once under foreachBatch replay for the HLL processor:
    re-running a batch id lands in the SAME batch_id partition
    (overwrite), so the max-lattice fold — and the estimate — is
    unchanged by replays (the mg_summary_processor contract, pinned
    here for the cardinality twin)."""
    import pyspark.sql.functions as F

    from laygo_python_spark.operators.hll import hll_estimate_by
    from laygo_python_spark.streaming import hll_summary_processor

    rows = [(i, f"t{i % 3}", (i * 13) % 97) for i in range(500)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, user_id long")
    summaries = str(tmp_path / "s")
    process = hll_summary_processor("user_id", "event_type", summaries, p=12)
    process(df, 0)

    def fold():
        merged = (
            spark.read.parquet(summaries)
            .groupBy("shard", "idx", "p", "hash_fn")
            .agg(F.max("rho").alias("rho"))
        )
        return sorted(
            (r["shard"], round(r["est"], 6))
            for r in hll_estimate_by(merged, ["shard"]).collect()
        )

    once = fold()
    n_rows_once = spark.read.parquet(summaries).count()
    process(df, 0)  # replay
    assert fold() == once
    assert spark.read.parquet(summaries).count() == n_rows_once
    # one partial dir per distinct batch id, not per invocation
    assert {p.name for p in (tmp_path / "s").glob("batch_id=*")} == {"batch_id=0"}


def test_stream_es_sample_replayed_batch_overwrites_partition(spark, tmp_path):
    """Exactly-once under foreachBatch replay for the ES-sample
    processor: a replayed batch id overwrites its own partition, so the
    read-time top-k selection is unchanged — a double-landed partial
    would not change SELECTED rows (keys are deterministic) but WOULD
    double the stored state; both are pinned."""
    from laygo_python_spark.streaming import es_sample_summary_processor

    rows = [(i, f"s{i % 4}", (i * 7) % 90 + 10) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    summaries = str(tmp_path / "s")
    process = es_sample_summary_processor(
        "n_chars", ["doc_id", "source", "n_chars"], summaries, k=20
    )
    process(df, 0)
    once = sorted(map(tuple, spark.read.parquet(summaries).collect()))
    process(df, 0)  # replay
    assert sorted(map(tuple, spark.read.parquet(summaries).collect())) == once
    assert {p.name for p in (tmp_path / "s").glob("batch_id=*")} == {"batch_id=0"}


def test_stream_summary_processors_one_partial_per_microbatch(spark, tmp_path):
    """The heavyhitters-pattern batch-accounting assertion for the r11
    twins: a forced 4-file split must land exactly one batch_id=N
    partial per micro-batch for BOTH the HLL and ES-sample processors."""
    from laygo_python_spark.streaming import (
        es_sample_summary_processor,
        hll_summary_processor,
    )

    erows = [(i, f"t{i % 3}", (i * 13) % 97) for i in range(400)]
    edf = spark.createDataFrame(erows, "event_id long, event_type string, user_id long")
    drows = [(i, f"s{i % 4}", (i * 7) % 90 + 10) for i in range(400)]
    ddf = spark.createDataFrame(drows, "doc_id long, source string, n_chars long")
    for tag, df, proc in (
        ("hll", edf, hll_summary_processor("user_id", "event_type", str(tmp_path / "hll_s"), p=12)),
        ("es", ddf, es_sample_summary_processor("n_chars", ["doc_id", "source", "n_chars"], str(tmp_path / "es_s"), k=10)),
    ):
        src = str(tmp_path / f"src_{tag}")
        df.repartition(4).write.parquet(src)
        n_files = len(list((tmp_path / f"src_{tag}").glob("*.parquet")))
        assert n_files >= 4
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream.writeStream.foreachBatch(proc).trigger(availableNow=True).start()
        q.awaitTermination()
        dirs = {p.name for p in (tmp_path / f"{tag}_s").glob("batch_id=*")}
        assert len(dirs) == n_files, (tag, dirs)


def test_stream_substring_multibatch_union_equals_oneshot(spark, tmp_path):
    """Forced 4-file split: because every batch's postings are appended
    before the next batch matches, the UNION of per-batch span matches
    must equal the one-shot incremental match over all new docs — each
    cross-batch pair surfaces exactly once, when its later doc arrives."""
    from laygo_python_spark.operators import dedup
    from laygo_python_spark.streaming import substring_ingest_processor

    shared = " ".join(f"S{i}" for i in range(20))
    rows = [(i, f"u{i}_" + " ".join(f"w{i}_{j}" for j in range(20))) for i in range(0, 8, 2)]
    # odd ids are "new"; 1 and 5 carry the shared passage, 3 shares with seen doc 0
    seen0 = "x0 " + shared + " y0"
    rows[0] = (0, seen0)
    rows += [
        (1, "a1 a2 " + shared),
        (3, shared + " b1 b2"),
        (5, "c1 " + shared + " c2 c3"),
        (7, " ".join(f"z{j}" for j in range(25))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seen = df.filter("doc_id % 2 = 0")
    new = df.filter("doc_id % 2 = 1")

    idx_dir = str(tmp_path / "idx")
    dedup.substring_index_write(dedup.substring_index(seen, k=8), idx_dir)
    oneshot = sorted(
        map(
            tuple,
            dedup.substring_match_incremental(
                new, dedup.substring_index_read(spark, idx_dir), min_len=16
            ).collect(),
        )
    )
    assert len(oneshot) >= 5  # 1-3, 1-5, 3-5 cross-new + 0-1, 0-3, 0-5 vs seen

    # fresh index for the streamed run
    idx2 = str(tmp_path / "idx2")
    dedup.substring_index_write(dedup.substring_index(seen, k=8), idx2)
    src = str(tmp_path / "src")
    new.repartition(4).write.parquet(src)
    out_dir = str(tmp_path / "matches")
    stream = (
        spark.readStream.schema(new.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    process = substring_ingest_processor(spark, idx2, out_dir, min_len=16)
    q = stream.writeStream.foreachBatch(process).trigger(availableNow=True).start()
    q.awaitTermination()
    streamed = sorted(
        map(
            tuple,
            spark.read.parquet(out_dir)
            .select("doc_id_a", "doc_id_b", "start_a", "start_b", "span_len")
            .collect(),
        )
    )
    assert streamed == oneshot


def test_stream_substring_replayed_batch_is_noop(spark, tmp_path):
    from laygo_python_spark.operators import dedup
    from laygo_python_spark.streaming import substring_ingest_processor

    shared = " ".join(f"S{i}" for i in range(20))
    seen = spark.createDataFrame([(0, "x " + shared + " y")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "a " + shared), (3, " ".join(f"q{j}" for j in range(20)))],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    dedup.substring_index_write(dedup.substring_index(seen, k=8), idx)
    process = substring_ingest_processor(spark, idx, str(tmp_path / "m"), min_len=16)
    process(batch, 0)
    once = sorted(map(tuple, spark.read.parquet(str(tmp_path / "m")).collect()))
    postings_once = spark.read.parquet(f"{idx}/postings").count()
    process(batch, 0)  # replay: matches partition overwritten, append no-op
    assert sorted(map(tuple, spark.read.parquet(str(tmp_path / "m")).collect())) == once
    assert spark.read.parquet(f"{idx}/postings").count() == postings_once
