"""SparkSession bootstrap + table helpers.

Scale posture: these configs are tuned so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster unchanged —
AQE owns runtime re-planning (partition coalescing, skew-join splitting,
broadcast demotion), shuffle partitions default to the cluster
parallelism, and Arrow is on for every Python<->JVM hop.

Python workers fork from the engine's own daemon (``_daemon.py``). Before
importing pyspark it drops Spark's source-only pyspark.zip and py4j source
zip from the worker path when the interpreter's installed pyspark/py4j has
a byte-identical ``version.py``, so workers run on compiled modules; with
no installed copy, or another release, it keeps Spark's path. It imports
the engine once, so each worker starts with it loaded, and before Python
3.12 it keeps the per-task ``importlib.invalidate_caches()`` from re-reading
every archive left on the worker path (the spark-core jar, and the zips
where kept); 3.12 made that re-read lazy. The engine must therefore be
importable on every executor, as Python stages already require:
``get_spark`` puts this checkout's root on the executors' ``PYTHONPATH``.

Limitation: Python data-source planning (``spark.read.format(<python
source>)``'s partition and schema calls) starts its workers from the stock
``pyspark.daemon``, since Spark reads ``spark.python.daemon.module`` only
for task runners. Those workers import pyspark from the archives and, on
Python 3.11, re-read them before every planner call; no configuration
reaches them.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import GeographyType, GeometryType, _type_mappings

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "laygo_python_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    On a real cluster the ``master`` is supplied by spark-submit; the
    ``local[n]`` default only applies when nothing else set one.
    """
    n = cpus or _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        # Partition parallelism: ~cores locally. On a cluster AQE
        # coalesces post-shuffle partitions down from a higher initial
        # number, so over-provisioning is safe; under-provisioning is not.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        # AQE: runtime re-plan — coalesce small shuffle partitions,
        # convert sort-merge joins to broadcast when a side turns out
        # small, split skewed partitions. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Respect the advisory partition size instead of maximizing
        # parallelism when coalescing (the Spark-docs-recommended
        # setting): tiny shuffles collapse to few tasks (kills the
        # 32-empty-task floor on small inputs) while big shuffles still
        # split by bytes — size-proportional either way.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # Prefer shuffled-hash over sort-merge when a side is small
        # enough to hash per-partition: measured 29.5s -> 4.0s on a
        # 60M x 6M fact-dim join (the sorts were the entire cost).
        # Safe under AQE (skew still splits; Spark >= 3.3 SHJ spills);
        # the planner still falls back to SMJ when neither side fits.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Deterministic timestamps for the DuckDB oracle (UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Naive parquet timestamps (no isAdjustedToUTC flag) read as
        # TIMESTAMP (ltz), not TIMESTAMP_NTZ. With the UTC session zone
        # the wall values are identical, and ltz keeps the whole
        # timestamp function library (unix_micros, window, watermarks)
        # applicable. DuckDB's epoch_us on the same naive column agrees.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for pandas_udf / mapInPandas / toPandas — the "chunk"
        # transport. 10k rows/batch ≈ the reference's chunk_size scaled
        # for columnar amortization (reference default 1000,
        # laygo/transformers/transformer.py:28).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # FAIR scheduling: Pipeline.branch submits one action per branch
        # from driver threads — FAIR interleaves them instead of FIFO
        # head-of-line blocking.
        .config("spark.scheduler.mode", "FAIR")
        # ContextCleaner housekeeping: out-of-scope broadcasts, shuffle
        # files and localCheckpoint blocks are only reclaimed after a
        # JVM GC surfaces their weak refs, and Spark's fallback periodic
        # GC defaults to 30min — longer than a whole bench/test session,
        # so hundreds of per-query broadcasts and checkpoint blocks
        # accumulated as storage/GC pressure (measured r6: back-to-back
        # suite runs drifted +9% vs isolated). 2min bounds the drift
        # without measurable GC cost (one full GC on this heap ~0.2 s).
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Python workers fork from the engine's own daemon (see _daemon.py),
        # which must import this package: Spark merges this checkout root
        # after its own archives, and Python skips it on an executor where
        # the path does not exist.
        .config("spark.python.daemon.module", "laygo_python_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{n}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Tables whose parquet MAY store TIMESTAMP(NANOS) columns (one fixture
# vintage did), which Spark 4 refuses natively. We read them as long
# nanos and truncate to micros — integer division, never float (1.7e18
# ns does not fit a double's 53-bit mantissa). DuckDB truncates ns→us
# the same way, so the oracle sees identical timestamps. Later fixture
# vintages store naive micros; those read straight through (as ltz,
# see inferTimestampNTZ above).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def ensure_session_defaults(spark: SparkSession) -> None:
    """Runtime-settable confs the engine's correctness depends on, applied
    defensively — the DRIVER may call queries() with its own
    SparkSession built without these. UTC keeps timestamp formatting
    identical to the (UTC-naive) DuckDB oracle; Arrow keeps the
    mapInPandas paths on the fast transport."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:  # noqa: BLE001 — a locked-down conf is non-fatal
        pass


# Value types whose inferred Spark type is a function of the Python type
# alone: a datetime's depends on its tzinfo, a geometry's on its srid.
_TYPE_ONLY = {
    t
    for t, dt in _type_mappings.items()
    if t is not datetime.datetime and dt not in (GeometryType, GeographyType)
}


def _distinct_signatures(records: list[dict]) -> list[dict]:
    """One record per distinct ``(key, type(value))`` signature, in order of
    first appearance: inferring a schema from these gives the same
    ``StructType`` (or the same error) as inferring it from every record,
    since a record whose signature was already seen adds no field and no
    type. Every record when one is not a dict or some value's type is not
    in ``_TYPE_ONLY``."""
    firsts = {}
    for r in records:
        if not isinstance(r, dict):
            return records
        sig = tuple((k, type(v)) for k, v in r.items())
        if sig not in firsts:
            if not all(t in _TYPE_ONLY for _, t in sig):
                return records
            firsts[sig] = r
    return list(firsts.values())


def local_rows_df(spark: SparkSession, rows, schema=None) -> DataFrame:
    """Python rows as a JVM LocalRelation, built by pyspark's own
    list-to-Arrow conversion: a list-backed ``createDataFrame`` is a Python
    RDD, so EVERY job evaluating it spins up Python workers. ``rows`` are
    tuples in field order, dicts or Rows; ``schema`` is what
    ``createDataFrame`` takes. ``None`` infers it as from ``[Row(**d) for d
    in rows]`` (a dict without some key gives None), a list of names
    renames the inferred columns, an atomic type is one ``value`` column."""
    from pyspark.sql import Row
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if schema is None:
        schema = spark._inferSchemaFromList([Row(**r) for r in _distinct_signatures(rows)])
    elif isinstance(schema, (list, tuple)):
        names = list(schema)
        schema = spark._inferSchemaFromList(rows, names=names)
        rows = [tuple(map(r.get, schema.names)) if isinstance(r, dict) else r for r in rows]
        for i, name in enumerate(names):  # createDataFrame's rule: rename by position
            schema.fields[i].name = schema.names[i] = name
    elif not isinstance(schema, StructType):
        schema, rows = StructType().add("value", schema), [(r,) for r in rows]
    large = spark._jconf.arrowUseLargeVarTypes()
    if not rows:  # the conversion needs at least one row
        return spark.createDataFrame(to_arrow_schema(schema, prefers_large_types=large).empty_table(), schema)
    return spark.createDataFrame(LocalDataToArrowConversion.convert(rows, schema, large), schema)


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now (eager ``localCheckpoint``) so every later
    reader scans the stored blocks instead of re-running its lineage.

    The returned frame records the id of the one RDD it pinned, read
    from its own plan, so a pin taken at the same time by another
    thread is never mistaken for it. ``release`` frees exactly those
    blocks; without it the async ContextCleaner frees them once the
    frame is dereferenced.

    Idempotent: a frame returned by ``pin`` comes back unchanged. A
    frame DERIVED from a pin (a select, a filter) is a new plan and is
    pinned again.

    Trade-off: localCheckpoint blocks are NON-REPLAYABLE. Once the
    lineage is truncated, a lost executor's blocks cannot be recomputed
    and the consuming job fails. Pin small or bounded frames, or frames
    whose recomputation would cost more than that risk."""
    if vars(df).get("_pinned_rdd") is not None:
        return df
    out = df.localCheckpoint(eager=True)
    out._pinned_rdd = out._jdf.queryExecution().analyzed().rdd().id()
    return out


def release(*dfs: DataFrame | None) -> None:
    """Unpersist the blocks recorded by ``pin`` on each frame. ``None``,
    a frame that is not pinned, or one already released is a no-op. A
    released frame must not be read again (its lineage is gone)."""
    dfs = [df for df in dfs if df is not None]
    ids = {vars(df).pop("_pinned_rdd", None) for df in dfs} - {None}
    if not ids:
        return
    live = dict(dfs[0].sparkSession.sparkContext._jsc.getPersistentRDDs())
    for i in ids:
        if i in live:
            live[i].unpersist(False)


def concurrent_actions(*thunks) -> None:
    """Run independent driver actions (writes to DISTINCT directories,
    whose input frames are checkpoint-pinned) concurrently — Spark's
    scheduler interleaves their stages across executor slots, so the
    wall cost is ~max instead of sum. At sf0.1 each parquet write is
    dominated by fixed job-scheduling floor (~0.3 s), and the index
    write/append paths issue 4–5 of them; sequential issue billed ~1 s
    of pure scheduling per operation (measured r6). Same driver-side
    thread-fanout discipline as ``Pipeline.branch``. Exceptions
    propagate (first one wins) — a failed write must fail the
    operation."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        for f in futures:
            f.result()


_TABLE_CACHE: dict[tuple[str, str, str], tuple[object, DataFrame]] = {}


def clear_table_cache() -> None:
    """Drop every cached table resolution — the escape hatch for a
    caller that mutates a table directory mid-session through a channel
    the mtime probe can't see (remote FS, symlink farm)."""
    _TABLE_CACHE.clear()


def _dir_fingerprint(path: str):
    """Cheap staleness probe for LOCAL table paths: one os.stat — a
    directory's (mtime, size) changes when files are added, removed, or
    replaced, which is the daily-ingest mutation shape. Non-local
    schemes and missing paths return None (no probe): those cached
    entries behave as a per-session snapshot, which is also Spark's own
    semantics for a DataFrame whose underlying files change (stale
    listings / FileNotFound) — callers mutating remote dirs should
    ``clear_table_cache()``."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    Cached per (session, dir, table): a fixture table is immutable
    within a session, and an uncached call pays file listing + parquet
    footer schema resolution + two plan analyses every time (~0.27 s at
    sf0.1, measured — it was a third of ``dedup_minhash_lsh``'s benched
    wall). A production catalog resolves a table once per session too;
    per-query re-resolution was pure overhead. The cache re-validates a
    local path's directory mtime on every hit (one stat), so a table
    dir that gains files mid-session is re-resolved instead of serving
    the pinned first listing; see ``clear_table_cache`` for mutation
    channels the probe can't see. The returned DataFrame is lazy and
    immutable, so sharing the object is safe."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    fp = _dir_fingerprint(f"{sf_dir}/{name}.parquet")
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    ensure_session_defaults(spark)
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in nanos_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    # Belt-and-braces for sessions where inferTimestampNTZ couldn't be
    # flipped (a locked-down driver session): NTZ -> ltz is a wall-value
    # no-op under the UTC session zone, and it keeps unix_micros/window/
    # watermark operators valid on every fixture vintage.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    _TABLE_CACHE[key] = (fp, df)
    return df


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the fixture tables as temp views so raw ``spark.sql``
    works next to the fluent API (migrating users keep their SQL; the
    nanos-timestamp handling of read_table rides along)."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
