"""Pipeline — binds source data to transformers + context, hosts terminal
actions and branch fan-out.

Reference parity: laygo/pipeline.py:71-112 (ctor + context), :143-219
(transform/apply), :264-365 (terminal ops), :459-555 (branch).
Deliberate semantic upgrades (SURVEY.md §7.1): sources become re-usable
DataFrames instead of single-use iterators; terminal ops still return
``(result, context_snapshot)`` tuples to match the reference contract
(laygo/pipeline.py:280-295).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from functools import reduce as _functools_reduce
from typing import Any

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from laygo_python_spark.context import Context
from laygo_python_spark.session import get_spark, local_rows_df
from laygo_python_spark.transformer import MIXED_SCHEMA, ORDER_COL, Transformer, encode_mixed
from laygo_python_spark.transformer import _as_condition, _Codec, _with_ctx, _worker_ctx


def _coerce_source(spark: SparkSession, source: Any, allow_mixed: bool = False) -> DataFrame:
    """Accept DataFrames natively; wrap Python iterables like the
    reference's ``Pipeline(*data)`` (laygo/pipeline.py:94-112).
    Scalars become a single ``value`` column; dicts become typed rows."""
    if isinstance(source, DataFrame):
        return source
    if isinstance(source, Pipeline):
        return source.df
    items = list(source)
    if not items:
        raise ValueError("cannot infer a schema from an empty Python source; pass a DataFrame")
    # ``allow_mixed=True`` opts the WHOLE source into the tagged-union
    # encoding (transformer.MIXED_SCHEMA) — scalars, dicts, nested
    # lists, arbitrary picklable objects, in any combination (reference
    # dirty-data pipelines: tests/test_pipeline.py:117-124,
    # tests/test_integration.py:50-58). Unconditional on opt-in: dirty
    # dict records with inconsistent schemas must not fall into the
    # schema-merge path below.
    if allow_mixed:
        return local_rows_df(spark, [encode_mixed(x) for x in items], MIXED_SCHEMA)
    if isinstance(items[0], dict):
        return local_rows_df(spark, items)
    # Mixed scalar types (reference tests use [1, "hello", 3.14],
    # laygo tests/test_pipeline.py:117-120) have no honest DataFrame
    # schema. ``allow_mixed=True`` opts into the explicit tagged-union
    # encoding (round-trips through map_rows/filter_rows/to_list);
    # otherwise fail loudly with the migration options rather than
    # silently stringifying (SURVEY.md §7.4.5).
    kinds = {type(x) for x in items if x is not None}
    numeric = {int, float}
    if len(kinds) > 1 and not kinds <= numeric:
        raise TypeError(
            f"mixed element types {sorted(k.__name__ for k in kinds)} need an explicit "
            "schema: pass a DataFrame, pre-convert to one type, use dict records "
            "with typed fields (a DataFrame column has exactly one type), or opt in "
            "to the tagged-union encoding with Pipeline(..., allow_mixed=True)"
        )
    if kinds == numeric:
        items = [float(x) if x is not None else None for x in items]
    return local_rows_df(spark, [{"value": x} for x in items])


def _exclusive_pred(cond: Callable, earlier: tuple[Callable, ...]) -> Callable:
    """First-match router predicate for Python conditions: matches
    ``cond`` AND no earlier branch's condition. A 2-arg condition
    receives the worker ctx, like filter_rows."""
    (first, _), *rest = [_with_ctx(f) for f in (cond, *earlier)]
    return lambda row, ctx: first(row, ctx) and not any(f(row, ctx) for f, _ in rest)


class Pipeline:
    """Fluent DataFrame pipeline with laygo's API shape. Dict records need
    not share keys: a record without a key another one has gets None
    there (``[{"a": 1}, {"a": 2, "b": 3}]`` gives ``{"a": 1, "b": None}``
    first)."""

    def __init__(
        self,
        *sources: Any,
        spark: SparkSession | None = None,
        context: dict | Context | None = None,
        allow_mixed: bool = False,
        ordered: bool = False,
    ):
        if not sources:
            raise ValueError("Pipeline needs at least one source")
        self.spark = spark or SparkSession.getActiveSession() or get_spark()
        dfs = [_coerce_source(self.spark, s, allow_mixed) for s in sources]
        # Multi-source concatenation (reference chains iterables lazily,
        # laygo/pipeline.py:108) → unionByName, still lazy under Catalyst.
        self.df = _functools_reduce(lambda a, b: a.unionByName(b), dfs)
        # ``ordered=True`` stamps each source row with a stable id NOW
        # (monotonically_increasing_id = partition_index<<33 | offset —
        # source layout order, before any transform can shuffle it), so
        # ``to_list(ordered=True)`` can restore source order later. The
        # reference's ordered=True chunk-completion guarantee
        # (laygo/transformers/strategies/threaded.py:46-90) has no cost
        # here until the terminal sort, and narrow plans never lose
        # order anyway — the id protects across repartition/coalesce.
        if ordered:
            self.df = self.df.withColumn(ORDER_COL, F.monotonically_increasing_id())
        if isinstance(context, Context):
            self._context = context
        else:
            self._context = Context(context, spark=self.spark)

    # -- context (reference: Pipeline.context, laygo/pipeline.py:119-141) ---
    def context(self, ctx: dict) -> "Pipeline":
        for k, v in ctx.items():
            self._context[k] = v
        return self

    # -- plan building -------------------------------------------------------
    def transform(self, build: Callable[[Transformer], Transformer]) -> "Pipeline":
        """Build a fresh transformer via a lambda and apply it
        (reference: laygo/pipeline.py:143-165)."""
        return self.apply(build(Transformer()))

    def apply(self, transformer: Transformer | Callable[[DataFrame], DataFrame]) -> "Pipeline":
        """Apply a Transformer or a plain DataFrame -> DataFrame callable
        (reference: laygo/pipeline.py:167-219)."""
        if isinstance(transformer, Transformer):
            new_df = transformer(self.df, self._context)
        else:
            new_df = transformer(self.df)
        out = Pipeline.__new__(Pipeline)
        out.spark = self.spark
        out.df = new_df
        out._context = self._context
        return out

    # conveniences mirroring the fluent transformer surface
    def map(self, expr: Any = None, /, **named: Any) -> "Pipeline":
        return self.apply(Transformer().map(expr, **named) if expr is not None else Transformer().map(**named))

    def filter(self, cond: Any) -> "Pipeline":
        return self.apply(Transformer().filter(cond))

    def flatten(self, col: str, into: str | None = None) -> "Pipeline":
        return self.apply(Transformer().flatten(col, into))

    def buffer(self, size: int = 1, batch_size: int = 1000) -> "Pipeline":
        """No-op for API parity — Spark pipelines stages natively
        (reference: laygo/pipeline.py:221-262; SURVEY.md §2.7)."""
        return self

    def catch(self, fn: Callable, schema: Any | None = None, on_error: Callable | None = None, mode: str = "batch") -> "Pipeline":
        """Convenience passthrough to Transformer.catch."""
        return self.apply(Transformer().catch(fn, schema=schema, on_error=on_error, mode=mode))

    def loop(self, body: Transformer, condition: Any, max_iterations: int = 100) -> "Pipeline":
        """Convenience passthrough to Transformer.loop."""
        return self.apply(Transformer().loop(body, condition, max_iterations))

    def loop_chunks(self, body: Any, condition: Callable, max_iterations: int = 100) -> "Pipeline":
        """Convenience passthrough to Transformer.loop_chunks."""
        return self.apply(Transformer().loop_chunks(body, condition, max_iterations))

    def short_circuit(self, fn: Callable) -> "Pipeline":
        """Convenience passthrough to Transformer.short_circuit."""
        return self.apply(Transformer().short_circuit(fn))

    # -- persistent-sink terminals (new capability; reference only
    # materializes to Python lists, laygo/pipeline.py:280-295) ------------
    def write_parquet(self, path: str, **kwargs: Any) -> tuple[None, dict]:
        from laygo_python_spark.sources.sinks import to_parquet

        to_parquet(self.df, path, **kwargs)
        return None, self._snapshot()

    def write_csv(self, path: str, **kwargs: Any) -> tuple[None, dict]:
        from laygo_python_spark.sources.sinks import to_csv

        to_csv(self.df, path, **kwargs)
        return None, self._snapshot()

    # -- terminal actions ------------------------------------------------------
    def _snapshot(self) -> dict:
        return self._context.to_dict()

    def to_list(self, ordered: bool = False) -> tuple[list[Any], dict]:
        """Materialize all results + final context snapshot
        (reference: laygo/pipeline.py:280-295).

        ``ordered=True`` restores SOURCE order (the reference's
        ``ordered=True`` guarantee, threaded.py:46-90) by sorting on the
        id stamped by ``Pipeline(..., ordered=True)`` — a driver-side
        sort of the already-collected rows, no extra Spark shuffle.
        Plans without shuffles return source order either way; the id
        protects across repartition/coalesce."""
        cols = self.df.columns
        rows = self.df.collect()
        if ordered:
            if ORDER_COL not in cols:
                raise ValueError(
                    "to_list(ordered=True) needs the source-order id: construct the "
                    "pipeline with Pipeline(..., ordered=True)"
                )
            idx = cols.index(ORDER_COL)
            rows = sorted(rows, key=lambda r: r[idx])
        return list(_Codec(self.df.schema).rows(rows)), self._snapshot()

    def first(self, n: int = 1) -> tuple[list[Any], dict]:
        """Take first n (reference: laygo/pipeline.py:321-344; the
        'iterator resumes after' semantics are dropped — DataFrames are
        re-usable instead). Spark plans a CollectLimit: upstream work
        beyond n partitions is not executed."""
        rows = self.df.limit(n).collect()
        return list(_Codec(self.df.schema).rows(rows)), self._snapshot()

    def each(self, fn: Callable) -> tuple[None, dict]:
        """Apply a side-effect per element, discard results
        (reference: laygo/pipeline.py:297-319)."""
        fn, aware = _with_ctx(fn)
        wctx = _worker_ctx(self._context, aware)
        codec = _Codec(self.df.schema)

        def run_partition(rows: Iterator[Row]) -> None:
            for x in codec.rows(rows):
                fn(x, wctx)

        self.df.foreachPartition(run_partition)
        return None, self._snapshot()

    def consume(self) -> tuple[None, dict]:
        """Drain for side effects only (reference: laygo/pipeline.py:346-365).
        Uses the noop sink — a full distributed execution with zero
        collection to the driver."""
        self.df.write.format("noop").mode("overwrite").save()
        return None, self._snapshot()

    def count(self) -> tuple[int, dict]:
        return self.df.count(), self._snapshot()

    def to_pandas(self) -> tuple[Any, dict]:
        """Materialize as a pandas DataFrame (Arrow transport) + context
        snapshot — the hand-off point to single-node Python tooling."""
        return self.df.toPandas(), self._snapshot()

    def reduce(self, fn: Callable, initial: Any) -> tuple[Any, dict]:
        """Whole-dataset sequential fold on the driver (reference terminal
        reduce, laygo/transformers/transformer.py:462-486). Inherently
        sequential for non-associative ``fn`` — exactly what the reference
        does, just with Spark streaming partitions to the driver one at a
        time. Rewrite to ``Transformer.agg`` for anything associative."""
        fn, _ = _with_ctx(fn, threshold=2)
        acc = initial
        snap = dict(self._context.to_dict())
        for x in _Codec(self.df.schema).rows(self.df.toLocalIterator()):
            acc = fn(acc, x, snap)
        return acc, self._snapshot()

    def __iter__(self) -> Iterator[Any]:
        """Stream results to the driver one partition at a time
        (reference: laygo/pipeline.py:264-278 → toLocalIterator)."""
        yield from _Codec(self.df.schema).rows(self.df.toLocalIterator())

    def iter_unordered(self, max_workers: int = 4) -> Iterator[Any]:
        """Stream results in partition-COMPLETION order — the reference's
        ``ordered=False`` as-completed guarantee
        (laygo/transformers/strategies/threaded.py:92-130), with Spark
        partitions as the chunk unit: each partition is fetched by its own
        job through a ``max_workers``-wide pool and yields the moment it
        finishes, so a straggler partition never blocks rows that are
        already done (``__iter__`` is the partition-ORDER complement).
        The in-flight window is ``max_workers + 1`` exactly like the
        reference's ``_unordered_generator``: bounded driver memory, one
        new partition submitted per completion. Upstream shuffle output
        is computed once and REUSED across the per-partition jobs (Spark
        keeps map output registered for the lineage), so the extra jobs
        cost scheduling latency only, not recomputation of wide stages."""
        import uuid
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        codec = _Codec(self.df.schema)
        rdd = self.df.rdd
        sc = self.df.sparkSession.sparkContext
        n = rdd.getNumPartitions()
        if n == 0:
            return
        group = f"iter_unordered-{uuid.uuid4().hex[:12]}"

        def fetch(i: int) -> list[Row]:
            # Job groups are thread-local — tag inside the pool thread so
            # the finally below can cancel IN-FLIGHT fetches, not just
            # queued ones (interruptOnCancel kills the running tasks).
            sc.setJobGroup(group, "Pipeline.iter_unordered", interruptOnCancel=True)
            return sc.runJob(rdd, lambda it: it, partitions=[i])

        ex = ThreadPoolExecutor(max_workers=max_workers)
        window = min(max_workers + 1, n)
        pending = {ex.submit(fetch, i) for i in range(window)}
        nxt = window
        try:
            while pending:
                done, pending = wait(pending, return_when=FIRST_COMPLETED)
                for fut in done:
                    rows = fut.result()
                    if nxt < n:
                        pending.add(ex.submit(fetch, nxt))
                        nxt += 1
                    yield from codec.rows(rows)
        finally:
            # Abandoned mid-stream (consumer break / error): drop the tail
            # instead of scheduling OR finishing it — reference
            # finally-block parity (threaded.py:126-130). cancelJobGroup
            # interrupts running partition fetches so generator close
            # never blocks behind a straggler; shutdown(wait=False)
            # releases the pool threads as those fetches unwind.
            for fut in pending:
                fut.cancel()
            if pending:
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # noqa: BLE001 — sc may already be stopped
                    pass
            ex.shutdown(wait=False, cancel_futures=True)

    # -- branch fan-out (reference: laygo/pipeline.py:459-555) -----------------
    def branch(
        self,
        branches: dict[str, Any],
        first_match: bool = True,
        max_workers: int | None = None,
    ) -> tuple[dict[str, list[Any]], dict]:
        """Terminal fan-out. Values are either a Transformer
        (unconditional — every row to every branch) or a
        ``(condition, Transformer)`` tuple:

        - ``first_match=True`` → router: a row goes to the FIRST branch
          whose condition matches (priority switch/case,
          laygo/pipeline.py:390-422) — compiled to exclusive predicates
          ``pred_i & ~pred_1 & ... & ~pred_{i-1}``.
        - ``first_match=False`` → conditional broadcast: a row goes to ALL
          branches whose condition matches (laygo/pipeline.py:424-457).

        The source is persisted once; branch actions run concurrently on
        driver threads (Spark's scheduler interleaves the jobs — the
        scalable analog of the reference's producer/consumer threads,
        laygo/pipeline.py:631-704). A branch whose plan fails returns []
        for that branch; others are unaffected (laygo/pipeline.py:613-618).
        """
        conditional = any(isinstance(v, tuple) for v in branches.values())
        # name -> (route: a Transformer from the source to the branch's
        # input, branch); no plan is built yet.
        routes: dict[str, tuple[Transformer, Any]] = {}
        if not conditional:
            routes = {name: (Transformer(), t) for name, t in branches.items()}
        else:
            specs = list(branches.items())
            for _, spec in specs:
                if not isinstance(spec, tuple):
                    raise ValueError("mixing conditional and unconditional branches is unsupported")
            is_py = [callable(c) and not isinstance(c, Column) for c, _ in (s for _, s in specs)]
            if first_match and any(is_py) and not all(is_py):
                # Exclusivity must compose across ALL earlier conditions;
                # a Column expression cannot see a Python predicate (and
                # vice versa), so a mixed router cannot honor first-match.
                raise ValueError(
                    "branch(first_match=True) cannot mix Column/SQL and Python-callable "
                    "conditions: use one kind for every branch (or first_match=False)"
                )
            prior_cols: list[Column] = []
            prior_fns: list[Callable] = []
            for (name, spec), py in zip(specs, is_py):
                cond, t = spec
                if py:
                    # Python predicate fallback (slow path, parity with
                    # laygo's lambda conditions). Under first_match the
                    # row goes to the FIRST matching branch only — the
                    # predicate excludes every earlier condition
                    # (reference: laygo/pipeline.py:390-422 breaks on
                    # first match; golden test tests/test_pipeline.py:507-538).
                    pred = _exclusive_pred(cond, tuple(prior_fns)) if first_match else cond
                    if first_match:
                        prior_fns.append(cond)
                    routes[name] = (Transformer().filter_rows(pred), t)
                else:
                    sel = c = _as_condition(cond)
                    if first_match:
                        for p in prior_cols:
                            # NULL-safe negation: a row where an earlier
                            # condition is NULL did NOT match it, so it
                            # must stay eligible here (~NULL is NULL and
                            # would silently drop the row).
                            sel = sel & ~F.coalesce(p, F.lit(False))
                        prior_cols.append(c)
                    routes[name] = (Transformer().filter(sel), t)

        def run(name: str) -> tuple[str, list[Any]]:
            # The plan is built here, inside the branch's own try: an
            # analysis error fails only its branch.
            route, t = routes[name]
            try:
                if isinstance(t, Transformer):
                    # One program, so a Python router fuses with the
                    # branch's first Python stages.
                    d = Transformer(route._steps + t._steps, t._chunker)(cached, self._context)
                else:
                    d = t(route(cached, self._context))
                return name, list(_Codec(d.schema).rows(d.collect()))
            except Exception:  # noqa: BLE001 — branch isolation (pipeline.py:613-618)
                return name, []

        cached = self.df.persist()
        try:
            with ThreadPoolExecutor(max_workers=max_workers or len(routes)) as pool:
                results = dict(pool.map(run, routes))
        finally:
            cached.unpersist()
        return results, self._snapshot()

    # -- misc -------------------------------------------------------------------
    def persist(self) -> "Pipeline":
        self.df = self.df.persist()
        return self

    def explain(self, mode: str = "formatted") -> "Pipeline":
        self.df.explain(mode)
        return self
