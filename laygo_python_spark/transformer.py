"""Transformer — a reusable, composable DataFrame -> DataFrame program.

Reference parity: laygo's ``Transformer`` (laygo/transformers/transformer.py:135-163)
builds a chunk-function by closure composition (``_pipe``, :215-227) and is
applied to data via ``__call__`` (:394-404). Here the "composed closure" is
a list of plan-building steps over a DataFrame; Catalyst's whole-stage
codegen performs the operator fusion that laygo's closure composition
hand-rolled (SURVEY.md §4).

Fast path vs slow path (decided at *build* time, mirroring laygo's
build-time arity dispatch, laygo/helpers.py:28-41):

- Column expressions / SQL strings compile to native Catalyst operators —
  predicate pushdown, column pruning and codegen apply.
- Arbitrary Python goes through Arrow-batched ``mapInPandas``
  (the closest match to laygo's ``(list[T], ctx) -> list[U]`` chunk
  contract, SURVEY.md §2.12) — never row-at-a-time Python UDFs.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterable
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from laygo_python_spark.context import Context
from laygo_python_spark.errors import ErrorHandler, PipelineAbortError
from laygo_python_spark.session import pin

# A step takes (df, worker_ctx_dict_or_None) and returns a DataFrame.
Step = Callable[[DataFrame, dict | None], DataFrame]

DEFAULT_MAX_LOOP_ITERATIONS = 100


def is_context_aware(fn: Callable, threshold: int = 1) -> bool:
    """Build-time arity sniffing — mirrors laygo/helpers.py:28-41.

    A user function with more than ``threshold`` positional params
    receives the context as its last argument.
    """
    try:
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        return len(params) > threshold
    except (TypeError, ValueError):
        return False


def _as_condition(cond: Column | str) -> Column:
    return F.expr(cond) if isinstance(cond, str) else cond


# -- mixed-type (tagged-union) element encoding ------------------------------
# ``Pipeline([1, "hello", 3.14], allow_mixed=True)`` encodes elements as
# (__tag, __v string) rows — a DataFrame column has exactly one type, so
# heterogeneous laygo sources (reference tests/test_pipeline.py:117-124)
# get an explicit variant encoding instead of silent stringification.
# Scalars carry their repr; dicts/lists carry JSON (when it round-trips
# exactly); anything else carries base64(pickle).
# map_rows/filter_rows decode to real Python values (the element
# convention), and terminal ops decode back, so lambdas never see tags.
MIXED_COLS = ["__tag", "__v"]
MIXED_SCHEMA = "__tag string, __v string"

# Source-order id column, attached by Pipeline(..., ordered=True) and
# consumed by Pipeline.to_list(ordered=True). Row-path operators strip
# it before applying the element convention and carry it through.
ORDER_COL = "__seq"


def encode_mixed(x: Any) -> tuple[str, str | None]:
    if x is None:
        return ("none", None)
    if isinstance(x, bool):  # BEFORE int: bool is an int subclass
        return ("bool", "1" if x else "")
    if isinstance(x, int):
        return ("int", str(x))
    if isinstance(x, float):
        return ("float", repr(x))  # repr = shortest exact round-trip
    if isinstance(x, str):
        return ("str", x)
    # Containers (reference pipelines carry dicts / nested lists —
    # tests/test_pipeline.py:117-124, tests/test_integration.py:50-58):
    # JSON when it round-trips EXACTLY (catches int dict keys that
    # json.dumps would silently stringify, NaN, tuples), else pickle.
    if isinstance(x, (dict, list)):
        import json

        try:
            enc = json.dumps(x)
            if json.loads(enc) == x:
                return ("dict" if isinstance(x, dict) else "list", enc)
        except (TypeError, ValueError):
            pass
    # Arbitrary Python objects (and non-JSON-able containers): pickle.
    # Same-session round-trip of the caller's own elements — the bytes
    # never outlive the pipeline and are only unpickled by its workers.
    import base64
    import pickle

    try:
        return ("pyobj", base64.b64encode(pickle.dumps(x)).decode("ascii"))
    except Exception as e:  # noqa: BLE001 — unpicklable: the one true dead end
        raise TypeError(
            f"allow_mixed element of type {type(x).__name__} is not picklable: {e}"
        ) from e


def decode_mixed(tag: str, v: str | None) -> Any:
    if tag == "none":
        return None
    if tag == "bool":
        return bool(v)
    if tag == "int":
        return int(v)
    if tag == "float":
        return float(v)
    if tag in ("dict", "list"):
        import json

        return json.loads(v)
    if tag == "pyobj":
        import base64
        import pickle

        return pickle.loads(base64.b64decode(v))
    return v


def _worker_ctx(context: Context | None) -> dict[str, Any]:
    """Snapshot the context for executor-side closures.

    Plain values are read-only copies (broadcast-style); registered
    accumulators pass through so ``ctx["n"] += 1`` works in workers
    (parity with laygo/context/parallel.py:71-92 lock-protected writes —
    accumulators are race-free without the lock).
    """
    if context is None:
        return {}
    snap = dict(context._data)
    snap.update(context._accumulators)
    return snap


class Transformer:
    """Immutable fluent program; every method returns a new Transformer.

    (The reference mutates in place and returns self,
    laygo/transformers/transformer.py:224-227 — immutability is a
    deliberate upgrade: a Transformer is a value, like a logical plan.)
    """

    def __init__(
        self, steps: tuple[Step, ...] = (), chunker: Callable | None = None
    ):  # noqa: D107
        self._steps = tuple(steps)
        self._chunker = chunker

    # -- composition core (parity: _pipe, transformer.py:215-227) ----------
    def _with(self, step: Step) -> "Transformer":
        return Transformer(self._steps + (step,), self._chunker)

    def __call__(self, df: DataFrame, context: Context | None = None) -> DataFrame:
        for step in self._steps:
            df = step(df, context)
        return df

    @classmethod
    def from_transformer(cls, other: "Transformer") -> "Transformer":
        """Clone (parity: transformer.py:165-184; trivially cheap here
        because Transformers are immutable values)."""
        return cls(other._steps, other._chunker)

    # -- projections / per-row transforms ----------------------------------
    def map(self, expr: Column | str | None = None, /, **named: Column | str) -> "Transformer":
        """Column-expression map (the fast path).

        ``map(**named)`` adds/replaces columns (withColumns);
        ``map(expr)`` projects to the given column(s).
        Reference: Transformer.map, transformer.py:229-243.
        """
        if expr is not None and named:
            raise ValueError("pass either a positional expression or keyword columns")
        if expr is not None:
            cols = [_as_condition(expr)]
            # A projection would silently drop the source-order id —
            # carry it when present (ordered pipelines).
            return self._with(
                lambda df, ctx: df.select(*cols, ORDER_COL)
                if ORDER_COL in df.columns
                else df.select(*cols)
            )
        resolved = {k: _as_condition(v) for k, v in named.items()}
        return self._with(lambda df, ctx: df.withColumns(resolved))

    def select(self, *cols: Column | str) -> "Transformer":
        return self._with(lambda df, ctx: df.select(*cols))

    def drop(self, *cols: str) -> "Transformer":
        return self._with(lambda df, ctx: df.drop(*cols))

    def rename(self, **mapping: str) -> "Transformer":
        return self._with(lambda df, ctx: df.withColumnsRenamed(mapping))

    def map_batches(self, fn: Callable, schema: Any | None = None) -> "Transformer":
        """Arbitrary-Python map over Arrow batches — the direct analog of
        laygo's chunk contract ``(list[In], ctx) -> list[Out]``
        (laygo/transformers/types.py:13). ``fn(pdf)`` or ``fn(pdf, ctx)``
        returns a pandas DataFrame; ``schema=None`` keeps the input schema.
        """
        ctx_aware = is_context_aware(fn)
        chunker = self._chunker

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            out_schema = schema if schema is not None else df.schema
            wctx = _worker_ctx(context) if ctx_aware else None

            def run(batches: Iterable[pd.DataFrame]):
                stream = chunker(batches) if chunker is not None else batches
                for pdf in stream:
                    out = fn(pdf, wctx) if ctx_aware else fn(pdf)
                    if out is not None and len(out):
                        yield out

            return df.mapInPandas(run, schema=out_schema)

        # Metadata for sub-pipeline fusion: catch/tap/loop_chunks compile
        # a Transformer made of such steps into ONE Arrow-batch function
        # (one error domain / one fixpoint body), mirroring the
        # reference's composed chunk closures (transformer.py:215-227).
        step._batch_fn = fn  # type: ignore[attr-defined]
        step._batch_ctx_aware = ctx_aware  # type: ignore[attr-defined]
        step._batch_schema = schema  # type: ignore[attr-defined]
        return self._with(step)

    def map_batches_http(
        self,
        url: str,
        schema: Any | None = None,
        timeout: float = 30.0,
        retries: int = 2,
        headers: dict[str, str] | None = None,
        concurrency: int = 1,
        on_error: str = "raise",
    ) -> "Transformer":
        """POST each Arrow batch to a remote HTTP worker and continue
        with its response rows — the Spark-idiomatic form of the
        reference's HTTPTransformer (laygo/transformers/http.py:97-295):
        ship DATA to a stateless service from every executor in
        parallel, instead of shipping code to a worker server. See
        operators/http.py for the JSON envelope, the server-side
        ``http_batch_handler`` twin, and the retry contract;
        ``on_error="drop"`` skips a batch whose retries are exhausted
        (the drop-the-chunk policy — note ``.catch`` guards its own fn,
        not upstream stages, so drop semantics live here). Fan-out =
        partition count × ``concurrency``; an upstream ``set_chunker``
        controls REQUEST size (one custom chunk = one POST)."""
        from laygo_python_spark.operators.http import post_batches

        chunker = self._chunker

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            out_schema = schema if schema is not None else df.schema
            return post_batches(
                df,
                url,
                out_schema,
                timeout=timeout,
                retries=retries,
                headers=headers,
                concurrency=concurrency,
                chunker=chunker,
                on_error=on_error,
            )

        return self._with(step)

    def map_batches_arrow(self, fn: Callable, schema: Any | None = None) -> "Transformer":
        """``map_batches`` on the pyarrow transport: ``fn(pa.RecordBatch)
        -> pa.RecordBatch`` with no pandas materialization (mapInArrow).
        Prefer it when the batch logic is arrow/numpy-native — the pandas
        round-trip is pure overhead there (same lesson as
        cogroup_apply_arrow / group_apply_arrow). Not fused by
        catch/tap/loop_chunks, which compile the pandas chunk contract.

        An upstream ``set_chunker(n)`` (int form) IS honored here — the
        record-batch stream is re-sliced to exactly n rows zero-copy
        before ``fn`` sees it. A CALLABLE chunker is a pandas-contract
        function (``Iterable[pd.DataFrame] -> Iterator``) and cannot
        govern an arrow stage; that combination raises at build time
        rather than silently ignoring the chunker (which would hand
        ``fn`` engine-default batches the pipeline explicitly opted out
        of) — use ``map_batches`` for that stage, or the int form."""
        chunker = self._chunker
        size = getattr(chunker, "_chunk_size", None)
        if chunker is not None and size is None:
            raise TypeError(
                "map_batches_arrow: a callable set_chunker has the pandas chunk "
                "contract and cannot re-chunk an arrow stage — use set_chunker(n) "
                "(int) or a pandas map_batches stage"
            )

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            out_schema = schema if schema is not None else df.schema

            def rechunk(batches):
                import pyarrow as pa

                buf, have = [], 0
                for rb in batches:
                    buf.append(rb)
                    have += rb.num_rows
                    while have >= size:
                        tbl = pa.Table.from_batches(buf)
                        head = tbl.slice(0, size).combine_chunks()
                        rest = tbl.slice(size)
                        yield from head.to_batches(max_chunksize=size)
                        buf = rest.to_batches()
                        have = rest.num_rows
                if have:
                    tail = pa.Table.from_batches(buf).combine_chunks()
                    yield from tail.to_batches(max_chunksize=size)

            def run(batches):
                stream = rechunk(batches) if size is not None else batches
                for rb in stream:
                    out = fn(rb)
                    if out is not None and out.num_rows:
                        yield out

            return df.mapInArrow(run, schema=out_schema)

        return self._with(step)

    def sort_within_partitions(self, *cols: Column | str) -> "Transformer":
        """Partition-local sort — no shuffle, no global order. The
        secondary-sort building block: repartition(key) then
        sort_within_partitions(key, ts) gives every consumer
        (mapInPandas, write) key-clustered, time-ordered rows at the
        cost of ONE exchange, where orderBy would add a global range
        exchange on top."""
        return self._with(lambda df, ctx: df.sortWithinPartitions(*cols))

    def _compile_batch_chain(self) -> tuple[Callable, Any | None]:
        """Fuse this transformer's steps into one ``(pdf, wctx) -> pdf``
        function + the declared output schema (None = input schema).

        Only Python stages (map_batches and everything built on it:
        map_rows, filter via callable, tap) fuse — a Column/SQL stage is
        a Catalyst plan node with no per-batch form, so a sub-pipeline
        containing one cannot run inside a single batch-level error
        domain. That boundary raises here with the alternatives named.
        """
        stages: list[tuple[Callable, bool]] = []
        out_schema: Any | None = None
        for s in self._steps:
            fn = getattr(s, "_batch_fn", None)
            if fn is None:
                raise TypeError(
                    "this sub-pipeline contains a Column/SQL (Catalyst-plan) stage, which "
                    "cannot run inside a per-batch scope. Use Python stages (map_batches/"
                    "map_rows/filter with a callable) in the sub-pipeline, or apply the "
                    "Transformer directly and use observe() for metrics."
                )
            stages.append((fn, s._batch_ctx_aware))
            if s._batch_schema is not None:
                out_schema = s._batch_schema

        def chain(pdf: pd.DataFrame, wctx: dict | None):
            for fn, aware in stages:
                if pdf is None or not len(pdf):
                    return None
                pdf = fn(pdf, wctx) if aware else fn(pdf)
            return pdf

        return chain, out_schema

    def map_rows(self, fn: Callable, schema: Any | None = None) -> "Transformer":
        """Per-row Python map (slowest path; parity with laygo map over
        elements, transformer.py:229-243). ``fn(elem[, ctx])`` where
        ``elem`` follows the element convention: a bare scalar for
        single-``value``-column frames (laygo scalar pipelines), a dict
        otherwise; non-dict returns wrap back into ``value``.
        Prefer ``map``/``map_batches``.
        """
        ctx_aware = is_context_aware(fn)

        def batch_fn(pdf: pd.DataFrame, ctx: dict | None = None) -> pd.DataFrame:
            # The order id rides along OUTSIDE the element convention:
            # lambdas never see it, and a 1:1 map re-attaches it.
            seq = pdf[ORDER_COL].tolist() if ORDER_COL in pdf.columns else None
            if seq is not None:
                pdf = pdf.drop(columns=[ORDER_COL])
            cols = list(pdf.columns)
            tagged = cols == MIXED_COLS
            if tagged:
                records: list[Any] = [
                    decode_mixed(t, v) for t, v in zip(pdf["__tag"], pdf["__v"])
                ]
            elif cols == ["value"]:
                records = pdf["value"].tolist()
            else:
                records = pdf.to_dict("records")
            out = [fn(r, ctx) if ctx_aware else fn(r) for r in records]
            if tagged:
                enc = [encode_mixed(o) for o in out]
                res = pd.DataFrame(
                    {"__tag": [t for t, _ in enc], "__v": [v for _, v in enc]}
                )
            elif out and not isinstance(out[0], dict):
                res = pd.DataFrame({"value": out})
            else:
                res = pd.DataFrame(out)
            if seq is not None:
                res[ORDER_COL] = seq
            return res

        # Re-expose the right arity so map_batches dispatches ctx correctly.
        if ctx_aware:
            return self.map_batches(lambda pdf, ctx: batch_fn(pdf, ctx), schema)
        return self.map_batches(lambda pdf: batch_fn(pdf), schema)

    # -- filters ------------------------------------------------------------
    def filter(self, cond: Column | str | Callable) -> "Transformer":
        """Native filter for Column/SQL (pushdown-eligible); Python
        callables fall back to a per-row predicate over Arrow batches.
        Reference: Transformer.filter, transformer.py:245-260.
        """
        if callable(cond) and not isinstance(cond, Column):
            return self.filter_rows(cond)
        c = _as_condition(cond)
        return self._with(lambda df, ctx: df.filter(c))

    def filter_rows(self, pred: Callable) -> "Transformer":
        """Python predicate filter. ``pred(elem[, ctx])`` receives the
        element convention: a bare scalar for single-``value``-column
        frames (laygo scalar pipelines, tests/test_pipeline.py:507-538
        route with ``lambda x: x > 100``), a dict otherwise.

        Built on map_batches so it participates in sub-pipeline fusion
        (catch/tap/loop_chunks)."""
        ctx_aware = is_context_aware(pred)

        def batch_fn(pdf: pd.DataFrame, ctx: dict | None = None) -> pd.DataFrame:
            if not len(pdf):
                return pdf
            # Decode elements WITHOUT the order id (lambdas never see
            # it); the mask then filters the full frame, so the id
            # column survives for to_list(ordered=True).
            data = pdf.drop(columns=[ORDER_COL]) if ORDER_COL in pdf.columns else pdf
            cols = list(data.columns)
            if cols == MIXED_COLS:
                items: list[Any] = [
                    decode_mixed(t, v) for t, v in zip(data["__tag"], data["__v"])
                ]
            elif cols == ["value"]:
                items = data["value"].tolist()
            else:
                items = data.to_dict("records")
            if ctx_aware:
                mask = [bool(pred(it, ctx)) for it in items]
            else:
                mask = [bool(pred(it)) for it in items]
            return pdf[pd.Series(mask, index=pdf.index)]

        if ctx_aware:
            return self.map_batches(lambda pdf, ctx: batch_fn(pdf, ctx))
        return self.map_batches(lambda pdf: batch_fn(pdf))

    # -- flatten / explode ---------------------------------------------------
    def flatten(self, col: str, into: str | None = None) -> "Transformer":
        """Explode an array column into one row per element
        (reference: Transformer.flatten, transformer.py:262-280 →
        SURVEY.md maps it to F.explode)."""
        out = into or col
        return self._with(
            lambda df, ctx: df.withColumn(out, F.explode(F.col(col))) if out == col
            else df.withColumn(out, F.explode(F.col(col))).drop(col)
        )

    # -- side effects ----------------------------------------------------------
    def tap(self, fn: "Callable | Transformer") -> "Transformer":
        """Side-effect per batch, data passes through unchanged
        (reference: Transformer.tap, transformer.py:282-333 — both
        overloads). ``fn`` is either:

        - a callable ``fn(pdf[, ctx])`` run per Arrow batch (use ctx
          accumulators for metrics), or
        - a sub-``Transformer`` of Python stages, run on a COPY of each
          batch for its side effects with its output discarded
          (reference tap(Transformer), tested at reference
          tests/test_transformer.py:51-58).
        """
        if isinstance(fn, Transformer):
            chain, _ = fn._compile_batch_chain()

            def sub_fn(pdf: pd.DataFrame, ctx: dict | None = None) -> pd.DataFrame:
                # copy: the sub-pipeline must not mutate the main stream
                chain(pdf.copy(), ctx)
                return pdf

            return self.map_batches(lambda pdf, ctx: sub_fn(pdf, ctx))

        ctx_aware = is_context_aware(fn)

        def batch_fn(pdf: pd.DataFrame, ctx: dict | None = None) -> pd.DataFrame:
            if ctx_aware:
                fn(pdf, ctx)
            else:
                fn(pdf)
            return pdf

        if ctx_aware:
            return self.map_batches(lambda pdf, ctx: batch_fn(pdf, ctx))
        return self.map_batches(lambda pdf: batch_fn(pdf))

    def observe(self, name: str, *exprs: Column) -> "Transformer":
        """Zero-cost, exactly-once metrics riding the main job — the
        scalable tap. Metrics appear in the context snapshot as
        ``"<name>.<metric>"`` after the pipeline's terminal action
        (unlike accumulators, observe metrics cannot double-count on
        stage re-execution)."""

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            from pyspark.sql import Observation

            obs = Observation(name)
            if context is not None:
                context._observations[name] = obs
            return df.observe(obs, *exprs)

        return self._with(step)

    # -- composition --------------------------------------------------------
    def apply(self, fn: Callable[["Transformer"], "Transformer"]) -> "Transformer":
        """Pass self through a transformer-building function
        (reference: Transformer.apply, transformer.py:335-344)."""
        return fn(self)

    def pipe(self, fn: Callable[[DataFrame], DataFrame]) -> "Transformer":
        """Escape hatch: splice any DataFrame -> DataFrame function into
        the program (the df.transform protocol)."""
        return self._with(lambda df, ctx: fn(df))

    # -- aggregation ----------------------------------------------------------
    def agg(self, *exprs: Column, group_by: list[str | Column] | None = None) -> "Transformer":
        """Expressible folds — ALWAYS prefer this to reduce_rows: Catalyst
        plans partial (map-side) + final aggregation automatically, which
        is the scalable form of laygo's per-chunk+terminal reduce split
        (transformer.py:406-486)."""
        if group_by:
            return self._with(lambda df, ctx: df.groupBy(*group_by).agg(*exprs))
        return self._with(lambda df, ctx: df.agg(*exprs))

    def reduce_rows(
        self,
        fn: Callable,
        initial: Any,
        schema: Any,
        per_chunk: bool = True,
    ) -> "Transformer":
        """Arbitrary-Python fold, one output row **per partition**
        (reference per_chunk=True path, transformer.py:436-460 — the
        'partial' half of a partial+final aggregation; laygo never does
        the final merge either). ``fn(acc, row_dict[, ctx]) -> acc``;
        the output row is ``{"value": acc}``-shaped per ``schema``.

        For a whole-dataset sequential fold (reference terminal path,
        transformer.py:462-486) use ``Pipeline.reduce`` — a general
        non-associative fold is inherently sequential and runs on the
        driver; rewrite to ``agg`` whenever possible.
        """
        if not per_chunk:
            raise ValueError("whole-dataset folds live on Pipeline.reduce; use agg for distributed folds")
        ctx_aware = is_context_aware(fn, threshold=2)

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            wctx = _worker_ctx(context) if ctx_aware else None

            def run(batches: Iterable[pd.DataFrame]):
                acc = initial
                seen = False
                for pdf in batches:
                    for r in pdf.to_dict("records"):
                        acc = fn(acc, r, wctx) if ctx_aware else fn(acc, r)
                        seen = True
                if seen:
                    yield pd.DataFrame([{"value": acc}])

            return df.mapInPandas(run, schema=schema)

        return self._with(step)

    # -- error isolation -------------------------------------------------------
    def catch(
        self,
        fn: "Callable | Transformer",
        schema: Any | None = None,
        on_error: Callable | ErrorHandler | None = None,
        mode: str = "batch",
    ) -> "Transformer":
        """Per-batch (or per-row) error isolation for a Python transform —
        a failing unit is dropped, the rest of the data continues
        (reference: Transformer.catch, transformer.py:488-535; failing
        chunk yields [] :524-533).

        ``fn`` is one of (reference parity: catch takes a sub-pipeline
        BUILDER, tested at reference tests/test_transformer.py:434-444):

        - a plain batch function ``fn(pdf[, ctx]) -> pdf``;
        - a sub-``Transformer`` of Python stages — the whole chain fuses
          into ONE error domain (a failure anywhere drops the batch);
        - a builder ``(Transformer) -> Transformer``, the reference's
          exact signature — detected by probing with a blank Transformer
          at build time (the reference also calls the builder at build
          time, transformer.py:515-518).

        ``mode="batch"``: try/except around each Arrow batch (closest to
        the reference's chunk semantics). ``mode="row"``: per-row salvage —
        finer error domain, higher cost (SURVEY.md §7.4.2 documents that
        batch boundaries differ from the reference's 1000-row chunks, so
        tests should assert on error *counts* and surviving rows).

        ``on_error(chunk_pdf, exception, ctx)`` runs executor-side.
        Register a ctx counter (e.g. ``ctx.counter("errors")``) before the
        terminal op to observe failure counts on the driver.
        """
        if mode not in ("batch", "row"):
            raise ValueError(f"mode must be 'batch' or 'row', got {mode!r}")
        sub: Transformer | None = None
        if isinstance(fn, Transformer):
            sub = fn
        elif callable(fn):
            try:
                probe = fn(Transformer())
                if isinstance(probe, Transformer):
                    sub = probe
            except Exception:  # noqa: BLE001 — not a builder: plain batch fn
                sub = None
        if sub is not None:
            chain, chain_schema = sub._compile_batch_chain()
            if schema is None:
                schema = chain_schema
            fn = lambda pdf, ctx: chain(pdf, ctx)  # noqa: E731
        handler = on_error
        fn_ctx_aware = is_context_aware(fn)
        chunker = self._chunker

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            out_schema = schema if schema is not None else df.schema
            wctx = _worker_ctx(context)

            def handle(pdf: pd.DataFrame, exc: Exception) -> None:
                if isinstance(handler, ErrorHandler):
                    handler.handle(pdf, exc, wctx)
                elif handler is not None:
                    handler(pdf, exc, wctx)

            def attempt(pdf: pd.DataFrame):
                try:
                    return True, (fn(pdf, wctx) if fn_ctx_aware else fn(pdf))
                except PipelineAbortError:
                    raise
                except Exception as exc:  # noqa: BLE001 — isolated error domain
                    return False, exc

            def salvage(pdf: pd.DataFrame):
                """Row-mode: bisect failing batches so fn stays vectorized —
                a poison row costs O(log batch) re-tries instead of running
                fn once per row. Binary split measured fastest (an 8-way
                fan-out doubled wall time at 2% poison density: every
                mid-level group still fails, and each failure then pays 8
                child attempts instead of 2). Requires fn to be row-wise
                (its output for a row must not depend on its batch)."""
                ok, out = attempt(pdf)
                if ok:
                    if out is not None and len(out):
                        yield out
                    return
                if len(pdf) == 1:
                    handle(pdf, out)
                    return
                mid = len(pdf) // 2
                yield from salvage(pdf.iloc[:mid])
                yield from salvage(pdf.iloc[mid:])

            def run(batches: Iterable[pd.DataFrame]):
                # A set_chunker installed upstream governs the error-domain
                # boundaries here too (batch-mode drops exactly one custom
                # chunk per failure), mirroring the reference where the
                # chunker defines the chunks catch operates on.
                stream = chunker(batches) if chunker is not None else batches
                for pdf in stream:
                    if mode == "batch":
                        ok, out = attempt(pdf)
                        if ok:
                            if out is not None and len(out):
                                yield out
                        else:
                            handle(pdf, out)
                    else:
                        yield from salvage(pdf)

            return df.mapInPandas(run, schema=out_schema)

        return self._with(step)

    # -- iteration ---------------------------------------------------------------
    def loop(
        self,
        body: "Transformer",
        condition: Column | str | Callable[[DataFrame], bool],
        max_iterations: int = DEFAULT_MAX_LOOP_ITERATIONS,
        checkpoint_every: int = 10,
    ) -> "Transformer":
        """Driver-side fixpoint iteration (reference: Transformer.loop,
        transformer.py:346-392 — per-chunk while-loop; here the unit is
        the whole dataset, the scalable granularity).

        ``condition`` as a Column/SQL string means "keep looping while any
        row matches"; a callable receives the DataFrame and returns bool.
        ``localCheckpoint`` every ``checkpoint_every`` iterations truncates
        lineage so plans don't grow unboundedly (SURVEY.md §7.4.3).
        """
        if max_iterations is None or max_iterations <= 0:
            raise ValueError("max_iterations must be a positive int (unbounded loops are unsupported)")

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            def should_continue(d: DataFrame) -> bool:
                if callable(condition) and not isinstance(condition, Column):
                    return bool(condition(d))
                return d.filter(_as_condition(condition)).limit(1).count() > 0

            i = 0
            while i < max_iterations and should_continue(df):
                df = body(df, context)
                i += 1
                if i % checkpoint_every == 0:
                    df = pin(df)
            return df

        return self._with(step)

    def loop_chunks(
        self,
        body: "Transformer | Callable",
        condition: Callable,
        max_iterations: int = DEFAULT_MAX_LOOP_ITERATIONS,
    ) -> "Transformer":
        """Per-chunk fixpoint — the reference's exact loop granularity
        (transformer.py:346-392 re-applies the body to EACH chunk until
        its condition fails; tested at reference
        tests/test_transformer.py:60-102). The unit here is the Arrow
        batch: each batch iterates independently inside one mapInPandas,
        so no driver round-trips and no growing lineage — the scalable
        form of a chunk-local while-loop.

        ``body``: a sub-``Transformer`` of Python stages (fused) or a
        batch function ``fn(pdf[, ctx]) -> pdf`` with an unchanged
        schema. ``condition(pdf[, ctx]) -> bool`` — loop while True.
        For a WHOLE-DATASET fixpoint (condition over the full frame,
        Column stages allowed) use ``loop``.
        """
        if max_iterations is None or max_iterations <= 0:
            raise ValueError("max_iterations must be a positive int (unbounded loops are unsupported)")
        if isinstance(body, Transformer):
            chain, _ = body._compile_batch_chain()
            body_fn, body_aware = chain, True
        else:
            body_fn, body_aware = body, is_context_aware(body)
        cond_aware = is_context_aware(condition)

        def batch_fn(pdf: pd.DataFrame, ctx: dict | None = None):
            i = 0
            while (
                pdf is not None
                and len(pdf)
                and i < max_iterations
                and (condition(pdf, ctx) if cond_aware else condition(pdf))
            ):
                pdf = body_fn(pdf, ctx) if body_aware else body_fn(pdf)
                i += 1
            return pdf

        return self.map_batches(lambda pdf, ctx: batch_fn(pdf, ctx))

    def short_circuit(self, fn: Callable[[dict], bool | None]) -> "Transformer":
        """Abort the whole run when ``fn(ctx)`` returns True (reference:
        transformer.py:537-567). Spark cannot cleanly abort a running
        stage from user code, so the check runs driver-side at this
        step's position in the program — i.e. the abort granularity is
        the action, not the chunk (documented, SURVEY.md §7.4.6)."""

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            snapshot = context.to_dict() if context is not None else {}
            if fn(snapshot):
                raise PipelineAbortError("short_circuit condition met")
            return df

        return self._with(step)

    # -- relational uplift (absent in reference — SURVEY.md §2.4-2.6) ---------
    def join(self, other: DataFrame, on: Any, how: str = "inner", broadcast: bool = False) -> "Transformer":
        return self._with(
            lambda df, ctx: df.join(F.broadcast(other) if broadcast else other, on, how)
        )

    def distinct(self, *cols: str) -> "Transformer":
        if cols:
            return self._with(lambda df, ctx: df.select(*cols).distinct())
        return self._with(lambda df, ctx: df.distinct())

    def union(self, other: DataFrame) -> "Transformer":
        return self._with(lambda df, ctx: df.unionByName(other))

    def intersect(self, other: DataFrame) -> "Transformer":
        return self._with(lambda df, ctx: df.intersect(other))

    def except_all(self, other: DataFrame) -> "Transformer":
        return self._with(lambda df, ctx: df.exceptAll(other))

    def group_apply(self, keys: list[str], fn: Callable, schema: Any) -> "Transformer":
        """Grouped arbitrary-Python transform (applyInPandas): ``fn`` gets
        one pandas DataFrame per key group. The grouped analog of
        map_batches — the escape hatch for per-group logic that Column
        algebra can't express (reference UDAF-analog, SURVEY.md §2.12)."""
        return self._with(lambda df, ctx: df.groupBy(*keys).applyInPandas(fn, schema=schema))

    def group_apply_arrow(self, keys: list[str], fn: Callable, schema: Any) -> "Transformer":
        """``group_apply`` on the pyarrow transport: ``fn(pa.Table) ->
        pa.Table`` per key group, no pandas materialization. Same shuffle
        plan; prefer it for many-small-groups workloads where the
        per-group cost is transport conversion, not logic (measured 2.3×
        on ~1k single-row cogroups — operators/cogroup.py). Keep the
        pandas form when per-group logic wants pandas semantics."""
        return self._with(lambda df, ctx: df.groupBy(*keys).applyInArrow(fn, schema=schema))

    def order_by(self, *cols: Column | str) -> "Transformer":
        return self._with(lambda df, ctx: df.orderBy(*cols))

    def limit(self, n: int) -> "Transformer":
        return self._with(lambda df, ctx: df.limit(n))

    # -- physical layout (parity: set_chunker, transformer.py:186-197) ---------
    def set_chunker(self, chunker: "Callable | int") -> "Transformer":
        """Custom chunk-boundary control for subsequent ``map_batches``
        stages — full parity with the reference's ``set_chunker``
        (transformer.py:186-197, an arbitrary ``Iterable ->
        Iterator[list]``), expressed at the Arrow level: ``chunker`` is
        ``Iterable[pd.DataFrame] -> Iterator[pd.DataFrame]`` and may
        split, coalesce, or regroup the incoming batch stream however
        it likes before the batch function sees it. An ``int`` is the
        common case — re-chunk to exactly that many rows per batch
        (tail excepted), whatever Arrow's maxRecordsPerBatch delivered.

        Scope mirrors the reference: the chunker governs chunking
        WITHIN a worker (here: within a partition); it cannot move rows
        across partitions — that is ``repartition``. Applies to stages
        added AFTER this call, like the reference's in-place setter."""
        if isinstance(chunker, int):
            if chunker <= 0:
                raise ValueError(f"set_chunker: chunk size must be positive, got {chunker}")
            size = chunker

            def fixed(batches: Iterable[pd.DataFrame]):
                buf: list[pd.DataFrame] = []
                have = 0
                for pdf in batches:
                    buf.append(pdf)
                    have += len(pdf)
                    while have >= size:
                        cat = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                        yield cat.iloc[:size]
                        rest = cat.iloc[size:]
                        buf, have = ([rest], len(rest)) if len(rest) else ([], 0)
                if have:
                    yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]

            # Arrow stages can't run a pandas-contract chunker, but the
            # int form has an exact arrow-level equivalent — carry the
            # size so map_batches_arrow re-slices record batches to it.
            fixed._chunk_size = size  # type: ignore[attr-defined]
            return Transformer(self._steps, fixed)
        return Transformer(self._steps, chunker)

    def repartition(self, n: int, *cols: str) -> "Transformer":
        return self._with(lambda df, ctx: df.repartition(n, *cols) if cols else df.repartition(n))

    def coalesce(self, n: int) -> "Transformer":
        return self._with(lambda df, ctx: df.coalesce(n))


def create_transformer(_type_hint: Any = None) -> Transformer:
    """Factory, parity with laygo's create_transformer
    (transformer.py:36-46 — the type hint is ignored at runtime there too)."""
    return Transformer()


def create_threaded_transformer(_type_hint: Any = None, max_workers: int = 4, ordered: bool = True) -> Transformer:
    """Parity alias for laygo's create_threaded_transformer
    (transformer.py:49-72): on Spark the strategy choice IS the
    partitioning — this returns a transformer that repartitions to
    ``max_workers`` so downstream per-batch work runs with that
    parallelism. ``ordered`` is accepted for API compatibility; DataFrame
    results are unordered sets unless an order_by is applied (SURVEY.md
    §7.4.4)."""
    return Transformer().repartition(max_workers)


def create_process_transformer(_type_hint: Any = None, max_workers: int = 4, ordered: bool = True) -> Transformer:
    """Parity alias for laygo's create_process_transformer
    (transformer.py:75-98). Spark executors already are separate
    processes; identical to create_threaded_transformer here."""
    return Transformer().repartition(max_workers)
