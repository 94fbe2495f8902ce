"""Physical-plan hygiene — the 100 TB posture checks. Correctness says the
answer is right; these say the PLAN is the one that survives 1000×.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from laygo_python_spark import Transformer
from laygo_python_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    has_pushed_filters,
    physical_plan,
    scan_read_schema,
)
from laygo_python_spark.session import read_table


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30).select("l_orderkey")
    assert has_pushed_filters(df)


def test_column_pruning(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_dim_join_is_broadcast(spark, sf_dir):
    from laygo_python_spark.queries.relational import revenue_by_nation

    assert has_broadcast_join(revenue_by_nation(spark, sf_dir))


def test_q1_is_two_stage_agg(spark, sf_dir):
    """Q1 should be scan → partial agg → single exchange → final agg."""
    from laygo_python_spark.queries.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    assert count_exchanges(df) <= 1
    assert has_pushed_filters(df)


def test_topk_avoids_global_sort(spark, sf_dir):
    from laygo_python_spark.queries.relational import top_k_orders

    plan = top_k_orders(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q6_pushdown_and_pruning(spark, sf_dir):
    """Q6 shape: all predicates reach the parquet scan; only the 4
    referenced lineitem columns are read; one exchange (partial+final agg)."""
    from laygo_python_spark.queries.relational5 import q6_forecast_revenue

    df = q6_forecast_revenue(spark, sf_dir)
    assert has_pushed_filters(df)
    assert set(scan_read_schema(df)) == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    assert count_exchanges(df) <= 1


def test_q19_envelope_pushdown_and_broadcast(spark, sf_dir):
    """Q19 shape: the single-side envelopes of the disjunction are pushed
    to both scans, and the part side broadcasts."""
    from laygo_python_spark.queries.relational5 import q19_disjunctive_revenue

    df = q19_disjunctive_revenue(spark, sf_dir)
    assert has_broadcast_join(df)
    assert has_pushed_filters(df)


def test_q7_both_dim_joins_broadcast(spark, sf_dir):
    from laygo_python_spark.queries.relational5 import q7_volume_shipping

    assert has_broadcast_join(q7_volume_shipping(spark, sf_dir))


def test_ngram_ops_are_udf_free(spark, sf_dir):
    """Gram generation must stay in codegen — no BatchEvalPython /
    ArrowEvalPython stages in repetition or decontamination plans."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.text_ops2 import decontaminate_ngram_overlap, repetition_score

    for q in (repetition_score, decontaminate_ngram_overlap):
        plan = physical_plan(q(spark, sf_dir))
        assert "EvalPython" not in plan


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Write events partitioned by day; a day-filtered read-back must
    prune partitions at planning time (PartitionFilters on the scan),
    not filter rows after reading everything."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.sources.sinks import to_parquet
    from laygo_python_spark.session import read_table

    ev = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "ev_by_day")
    to_parquet(ev, out, partition_by=["day"])

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = physical_plan(back)
    assert "PartitionFilters" in plan and "2024-01-05" in plan
    expected = ev.filter(F.col("day") == "2024-01-05").count()
    assert back.count() == expected > 0


def test_q5_nation_comembership_rides_broadcast(spark, sf_dir):
    """Q5's extra join condition (customer and supplier share a nation)
    must NOT add an exchange: the supplier×nation map broadcasts, so the
    only shuffles are the lineitem⋈orders⋈customer equi-joins."""
    from laygo_python_spark.queries.relational6 import q5_local_supplier_volume

    df = q5_local_supplier_volume(spark, sf_dir)
    assert has_broadcast_join(df)
    assert has_pushed_filters(df)  # orderdate range reaches the orders scan


def test_q21_single_fact_shuffle(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS are folded into one window pass: the
    plan must scan lineitem ONCE (the textbook decorrelation scans it
    three times) and shuffle the fact rows on one key only."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.relational6 import q21_waiting_suppliers

    plan = physical_plan(q21_waiting_suppliers(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1


def test_q11_threshold_is_broadcast_not_window(spark, sf_dir):
    """The global-total threshold must attach via a broadcast of the
    1-row aggregate, not an empty-partitionBy window that would funnel
    every per-part row through a single task."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.relational6 import q11_important_part_revenue

    df = q11_important_part_revenue(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan
    assert has_broadcast_join(df)


def test_scd2_is_single_shuffle(spark, sf_dir):
    """Both SCD2 windows (lag change-point, lead range-close) share the
    per-key partitioning — the whole history build must cost exactly ONE
    hash exchange, never a self-join."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.warehouse_ops import scd2_priority_history

    plan = physical_plan(scd2_priority_history(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_stratified_sample_is_single_shuffle(spark, sf_dir):
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.mixing_ops import stratified_sample

    assert physical_plan(stratified_sample(spark, sf_dir)).count("Exchange hashpartitioning") == 1


def test_gapfill_grid_join_stays_cheap(spark, sf_dir):
    """The dense grid must attach via broadcast (the grid is tiny relative
    to the data at any scale); hash shuffles are only the hourly agg and
    the per-series fill window."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.warehouse_ops import gapfill_hourly_purchases

    plan = physical_plan(gapfill_hourly_purchases(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastExchange" in plan


def test_tfidf_shuffles_counts_not_text(spark, sf_dir):
    """tf/df aggregations must be partial+final (map-side combine before
    every exchange) and the doc-count must ride a broadcast, so shuffles
    carry (term, count) pairs — never document text."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.queries.mixing_ops import tfidf_top_terms

    plan = physical_plan(tfidf_top_terms(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_local_rows_df_is_jvm_local_relation(spark):
    """Literal frames must execute JVM-side: a list-backed
    createDataFrame runs through the Python-RDD path and pays a Python
    worker spin-up on EVERY evaluating job (~4.5 s measured for a
    one-row parquet write at r5) — local_rows_df lands a LocalRelation
    instead, so index params / batch markers / probe tables never
    schedule Python."""
    from laygo_python_spark.plans import physical_plan
    from laygo_python_spark.session import local_rows_df

    df = local_rows_df(spark, [(1, "md5"), (2, "crc32")], "k int, fn string")
    plan = physical_plan(df)
    assert "Scan ExistingRDD" not in plan and "PythonRDD" not in plan
    assert [(r.k, r.fn) for r in df.orderBy("k").collect()] == [(1, "md5"), (2, "crc32")]
    # schema fidelity: DDL types win over pandas inference, arrays and
    # empties included
    arr = local_rows_df(spark, [(0, [0.5, 1.5])], "cell int, centroid array<double>")
    assert arr.schema.simpleString() == "struct<cell:int,centroid:array<double>>"
    empty = local_rows_df(spark, [], "band_key long")
    assert empty.schema.simpleString() == "struct<band_key:bigint>"
    assert empty.count() == 0


def test_token_budget_select_has_no_single_partition_window(spark, sf_dir):
    """The prefix sum must be the distributed form (range partition +
    offsets + Arrow cumsum), never `sum() OVER (ORDER BY ...)` on one
    task: no SinglePartition exchange and no Window node anywhere in
    the plan."""
    from laygo_python_spark.queries.selection_ops import token_budget_select

    plan = physical_plan(token_budget_select(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_quality_bucket_report_is_fixed_edge_aggregation(spark, sf_dir):
    """Fixed 0.1-wide buckets: one partial+final aggregation per level,
    no Window/ntile (a decile cut would need a one-task global sort)."""
    from laygo_python_spark.queries.text_ops2 import quality_bucket_report

    plan = physical_plan(quality_bucket_report(spark, sf_dir))
    assert "Window" not in plan and "ntile" not in plan


def test_dp_noisy_counts_is_single_aggregation(spark, sf_dir):
    from laygo_python_spark.queries.governance_ops import dp_noisy_counts

    df = dp_noisy_counts(spark, sf_dir)
    # scan -> partial agg -> exchange -> final agg (+ the output sort)
    assert count_exchanges(df) <= 2
    assert "udf" not in physical_plan(df).lower()


def test_ann_knn_label_vote_broadcasts_query_side_only(spark, sf_dir):
    """The routed vote's broadcasts are the query bucket keys and the
    shortlist-derived label fetches — never the `% 25 != 0` corpus
    branch (the exact twin's scale killer)."""
    from laygo_python_spark.queries.selection_ops import ann_knn_label_vote

    plan = physical_plan(ann_knn_label_vote(spark, sf_dir))
    for i, ln in enumerate(plan.splitlines()):
        if "% 25) != 0" in ln or "% 25) <> 0" in ln:
            # walk UP: no enclosing BroadcastExchange may own this line
            depth = len(ln) - len(ln.lstrip(" :+-*"))
            for up in reversed(plan.splitlines()[:i]):
                d = len(up) - len(up.lstrip(" :+-*"))
                if d < depth:
                    assert "BroadcastExchange" not in up
                    depth = d


def _python_stage_plan(spark, build) -> str:
    from laygo_python_spark import Pipeline

    recs = [{"id": i, "v": i % 7} for i in range(40)]
    return physical_plan(Pipeline(recs, spark=spark).transform(build).df)


def _bump(r):
    return {"id": r["id"], "v": r["v"] + 1}


def test_adjacent_python_stages_fuse_into_one_map_in_pandas(spark):
    """map_rows, filter_rows, tap and loop_chunks over a Python-list
    source: one MapInPandas over a JVM LocalRelation, no Python RDD."""
    plan = _python_stage_plan(
        spark,
        lambda t: t.map_rows(_bump)
        .filter_rows(lambda r: r["v"] > 2)
        .tap(lambda pdf: None)
        .loop_chunks(Transformer().map_rows(_bump), lambda pdf: False),
    )
    assert plan.count("MapInPandas") == 1, plan
    assert "Scan ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_a_column_step_or_a_new_chunker_splits_the_fused_run(spark):
    between_select = _python_stage_plan(
        spark, lambda t: t.map_rows(_bump).select("*").filter_rows(lambda r: r["v"] > 2)
    )
    assert between_select.count("MapInPandas") == 2, between_select
    between_chunker = _python_stage_plan(
        spark, lambda t: t.map_rows(_bump).set_chunker(5).filter_rows(lambda r: r["v"] > 2)
    )
    assert between_chunker.count("MapInPandas") == 2, between_chunker


def test_catch_and_reduce_rows_fuse_with_adjacent_stages(spark):
    plan = _python_stage_plan(
        spark,
        lambda t: t.map_rows(_bump).catch(lambda pdf: pdf).filter_rows(lambda r: r["v"] > 2),
    )
    assert plan.count("MapInPandas") == 1, plan
    plan = _python_stage_plan(
        spark, lambda t: t.map_rows(_bump).reduce_rows(lambda acc, r: acc + 1, 0, "value long")
    )
    assert plan.count("MapInPandas") == 1, plan
    # Only the plan is built, so no server has to listen at the URL.
    plan = _python_stage_plan(
        spark,
        lambda t: t.map_rows(_bump)
        .map_batches_http("http://127.0.0.1:9/", schema="id long, v long")
        .filter_rows(lambda r: r["v"] > 2),
    )
    assert plan.count("MapInPandas") == 1, plan
