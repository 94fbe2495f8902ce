"""Warehouse-maintenance operators: MERGE-style upsert, SCD2 history
collapse, and time-series gap-fill.

The reference has none of these (laygo is a forward-only chunk stream,
reference laygo/pipeline.py:94-112 / transformer.py:229-260); they are
table-shaped maintenance patterns every dimensional pipeline needs. All
three are pure DataFrame compositions — one keyed shuffle each, no
Python in the hot path, so they hold at 100 TB:

- merge_upsert: one full-outer shuffle join on the key (broadcast if the
  source is a small changeset — pass ``broadcast_source=True``).
- scd2_collapse: one window shuffle on the key; change-points found with
  lag(), ranges closed with lead() — never a self-join.
- gapfill: the dense grid is generated with ``sequence`` + explode
  (executor-side, no driver loop) and left-joined to the sparse series;
  forward fill is last(ignorenulls) over the per-series window.
- snapshot_diff: CDC between snapshots; the shuffle carries key + 8-byte
  row hash, never the full row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    update_set: dict[str, Column],
    insert_set: dict[str, Column],
    broadcast_source: bool = False,
) -> DataFrame:
    """MERGE INTO semantics as a full-outer join.

    For each key: matched rows get ``update_set`` expressions, source-only
    keys get ``insert_set``, target-only rows pass through unchanged.
    Expressions reference the input frames' columns (``target[...]`` /
    ``source[...]``); both sets must define the same output columns.

    ``broadcast_source=True`` is the scale path for a small changeset
    against a huge dim: Spark cannot broadcast a full-outer build side,
    so the merge decomposes into (a) target LEFT JOIN broadcast(source)
    — the big table never shuffles — unioned with (b) the inserts from a
    source-vs-target-keys anti join, which shuffles only the key columns.
    ``insert_set`` expressions must then reference only source columns.
    Key columns are assumed non-null in both inputs (true of any real
    dim/changeset).
    """
    if set(update_set) != set(insert_set):
        raise ValueError("update_set and insert_set must define the same output columns")
    if broadcast_source:
        # update_set applies to every target row (expressions see NULL
        # source columns for unmatched keys — same as the full-outer path).
        joined = target.join(F.broadcast(source), on=on, how="left")
        updated = joined.select(
            *[target[k].alias(k) for k in on],
            *[update_set[n].alias(n) for n in update_set],
        )
        inserts = source.join(target.select(*on), on=on, how="left_anti").select(
            *[source[k].alias(k) for k in on],
            *[insert_set[n].alias(n) for n in insert_set],
        )
        return updated.unionByName(inserts)
    joined = target.join(source, on=on, how="full_outer")
    has_target = target[on[0]].isNotNull()
    cols = [F.coalesce(target[k], source[k]).alias(k) for k in on]
    for name in update_set:
        cols.append(F.when(has_target, update_set[name]).otherwise(insert_set[name]).alias(name))
    return joined.select(*cols)


def scd2_collapse(df: DataFrame, key: list[str], attr: str, ts: str) -> DataFrame:
    """Collapse a change log into SCD2 validity ranges.

    Consecutive rows (per key, ordered by ``ts``) with an unchanged
    ``attr`` merge into one version; each version carries
    ``valid_from`` / ``valid_to`` (NULL = current) and ``is_current``.
    """
    order_w = Window.partitionBy(*key).orderBy(ts)
    prev = F.lag(attr).over(order_w)
    # Null-safe change detection: a transition TO or FROM a NULL attr is
    # a real version change ('attribute cleared' histories); plain !=
    # evaluates to NULL there and silently drops the version. The first
    # row per key is detected by row number, not prev IS NULL, so a
    # legitimate leading NULL attr still opens a version.
    first_row = F.row_number().over(order_w) == 1
    changed = first_row | ~F.col(attr).eqNullSafe(prev)
    versions = (
        df.withColumn("__chg", changed.cast("int"))
        .filter(F.col("__chg") == 1)
        .drop("__chg")
    )
    close_w = Window.partitionBy(*key).orderBy(ts)
    return versions.select(
        *key,
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(close_w).alias("valid_to"),
        F.lead(ts).over(close_w).isNull().alias("is_current"),
    )


def gapfill(
    df: DataFrame,
    series: list[str],
    ts: str,
    step: str = "1 hour",
    fill_cols: list[str] | None = None,
) -> DataFrame:
    """Densify a sparse per-series time grid and forward-fill values.

    Grid spans the GLOBAL [min, max] of ``ts`` truncated to the step unit,
    crossed with the distinct series keys (a broadcast of two tiny
    frames), left-joined to the sparse input. ``fill_cols`` are forward-
    filled with last(ignorenulls) per series; a ``filled`` flag marks
    grid rows that had no source row.

    The input is pinned with an eager localCheckpoint first: three plan
    branches read it (bounds, series keys, the join) and without pinning
    each would recompute the upstream — e.g. three full scans of the raw
    table feeding the sparse aggregate. The sparse series is small by
    construction (series × occupied buckets), so materializing it is the
    right trade at any scale.
    """
    df = pin(df)
    unit = step.split()[-1].rstrip("s")
    bounds = df.agg(
        F.date_trunc(unit, F.min(ts)).alias("__lo"), F.date_trunc(unit, F.max(ts)).alias("__hi")
    )
    grid = (
        df.select(*series)
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            *series,
            F.explode(F.sequence("__lo", "__hi", F.expr(f"interval {step}"))).alias(ts),
        )
    )
    # Presence marker BEFORE the join: a source row carrying NULL in the
    # fill column is a real observation, not a synthesized grid row —
    # testing the fill column itself after the join can't tell them apart.
    marked = df.withColumn("__present", F.lit(True))
    dense = grid.join(marked, on=[*series, ts], how="left")
    out = dense.withColumn("filled", F.col("__present").isNull()).drop("__present")
    if fill_cols:
        w = Window.partitionBy(*series).orderBy(ts).rowsBetween(Window.unboundedPreceding, 0)
        for c in fill_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    on: list[str],
    compare: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture diff of two table snapshots.

    Returns key columns + ``change_type`` ('added' | 'removed' |
    'changed') — unchanged rows are dropped as early as possible so only
    the delta survives the join. Row identity is an xxhash64 of the
    ``compare`` columns (default: all non-key columns), computed map-side
    on each snapshot: the shuffle carries key + 8-byte hash, never the
    full row — at 100 TB this is the difference between diffing and
    re-copying the table.
    """
    compare = compare or [c for c in old.columns if c not in on]
    def hashed(df: DataFrame, name: str) -> DataFrame:
        return df.select(*on, F.xxhash64(*[F.col(c) for c in compare]).alias(name))

    o = hashed(old, "__h_old")
    n = hashed(new, "__h_new")
    joined = o.join(n, on=on, how="full_outer")
    return (
        joined.select(
            *on,
            F.when(F.col("__h_old").isNull(), F.lit("added"))
            .when(F.col("__h_new").isNull(), F.lit("removed"))
            .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_bytes: int = 128 << 20,
    order_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the OPTIMIZE half of warehouse
    maintenance that zorder_layout's clustering is the other half of:
    rewrite a directory of many small parquet files into
    ⌈total/target_bytes⌉ right-sized ones.

    Why it matters at 100 TB: streaming/incremental writers produce
    file counts that grow without bound, and every downstream scan then
    pays per-file open/footer costs plus a task per file — scan
    parallelism is ruined in BOTH directions (too many tiny tasks, or
    after naive coalesce(1), too few). Sizing from the actual listed
    bytes keeps output files at the row-group sweet spot.

    The file count comes from driver-side listing metadata (no job);
    the rewrite is ONE shuffle (round-robin ``repartition`` for plain
    compaction, range partition when ``order_by`` is given so min/max
    stats stay narrow on the sort key — compose with
    ``zorder_layout`` for multi-dimensional skipping instead). Writes
    to ``dest_path`` (caller swaps directories atomically; this
    operator never deletes the source). Returns
    {files_before, files_after, bytes_total, rows}."""
    from .. import artifact

    files_before, total = artifact.parquet_files(spark, src_path)
    if files_before == 0:
        raise ValueError(f"compact_parquet: no parquet files under {src_path}")
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src_path)
    if order_by:
        out = df.repartitionByRange(n_out, *order_by).sortWithinPartitions(*order_by)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dest_path)
    back = spark.read.parquet(dest_path)
    files_after = len([f for f in back.inputFiles()])
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_total": int(total),
        "rows": back.count(),
    }
