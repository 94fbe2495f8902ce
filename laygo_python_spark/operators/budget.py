"""Greedy budget selection — running totals along a global order,
without a single-partition window.

The training-data use: "fill a token budget with the highest
quality-per-token documents" — order by a value-density key, take the
prefix whose cumulative weight fits the budget (the classic greedy
knapsack-by-density, optimal for the fractional relaxation and the
standard corpus-curation heuristic).

The naive spelling — ``sum(w) OVER (ORDER BY ...)`` with no partition
key — funnels the whole table through ONE task (the same accidental
scale killer ``operators/ids.py`` documents for row_number). The
scalable shape mirrors ``assign_sequential_ids``:

1. range-repartition + sort by the order key (one shuffle, all tasks);
2. per-partition weight sums → a task-count-sized driver list (KBs);
3. broadcast the exclusive prefix offsets; each partition computes its
   LOCAL cumulative sum in one Arrow pass and adds its offset.

Determinism requires ``order_by`` to be a total order (tiebreak on a
unique id). The cumulative sum is exact when the weights are integers
(token counts — the intended use); float weights inherit the usual
summation-order caveat WITHIN a partition only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin


def running_total(
    df: DataFrame,
    order_by: list[Column],
    weight_col: str,
    out_col: str = "cum_weight",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = cumulative sum of ``weight_col`` (inclusive of
    the current row) following the total order ``order_by``. Rides an
    eager localCheckpoint (partition stability between the offsets job
    and the cumsum pass)."""
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    ordered = pin(
        df.repartitionByRange(parts, *order_by)
        .sortWithinPartitions(*order_by)
    )
    rows = (
        ordered.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum(weight_col).alias("w"))
        .collect()
    )
    sums = {r["pid"]: r["w"] or 0 for r in rows}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(parts):
        offsets[pid] = acc
        acc += sums.get(pid, 0)

    fields = ordered.schema.fields
    w_type = dict((f.name, f.dataType.simpleString()) for f in fields)[weight_col]
    # The running total is WIDENED regardless of the weight type: an
    # int weight column whose cumulative total passes 2^31 would fail
    # the pandas->Arrow safe cast mid-job under the narrow type.
    out_type = "double" if w_type in ("float", "double") else "long"
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    schema += f", {out_col} {out_type}"

    def run(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        acc_local = offsets.get(pid, 0)
        for pdf in batches:
            if not len(pdf):
                continue
            w = pdf[weight_col]
            # NULL weights fail LOUDLY: Arrow surfaces them as NaN, the
            # carry (acc_local) would go NaN and silently poison every
            # later batch of this partition — a partial, order-dependent
            # wrong answer. The offsets job (F.sum skips NULLs) can't
            # see them either, so raising here is the only safe contract.
            if w.isna().any():
                raise ValueError(
                    f"running_total: NULL in weight column {weight_col!r} — "
                    "filter or impute weights before the prefix sum"
                )
            # Accumulate in the WIDENED dtype: the Arrow batch delivers
            # the source width (int32 for a Spark int column), and a
            # partition whose local total passes 2^31 would wrap inside
            # cumsum BEFORE the offset add — the final cast to long then
            # succeeds on the wrapped values, a silent wrong answer.
            c = w.astype("float64" if out_type == "double" else "int64").cumsum() + acc_local
            acc_local = int(c.iloc[-1]) if str(c.dtype).startswith("int") else float(c.iloc[-1])
            pdf[out_col] = c
            yield pdf

    return ordered.mapInPandas(run, schema=schema)


def greedy_budget_select(
    df: DataFrame,
    order_by: list[Column],
    weight_col: str,
    budget: float,
    out_col: str = "cum_weight",
    num_partitions: int | None = None,
) -> DataFrame:
    """Keep the prefix of ``df`` (under the ``order_by`` total order)
    whose cumulative ``weight_col`` — INCLUDING the current row — stays
    within ``budget``. One range shuffle + one tiny driver round-trip +
    one Arrow pass; never a single-task sort."""
    cum = running_total(df, order_by, weight_col, out_col, num_partitions)
    return cum.filter(F.col(out_col) <= budget)
