"""Transformer — a reusable, composable DataFrame -> DataFrame program.

Reference parity: laygo's ``Transformer`` (laygo/transformers/transformer.py:135-163)
builds a chunk-function by closure composition (``_pipe``, :215-227) and is
applied to data via ``__call__`` (:394-404). Here the "composed closure" is
a list of plan-building steps over a DataFrame; Catalyst's whole-stage
codegen performs the operator fusion that laygo's closure composition
hand-rolled (SURVEY.md §4).

Fast path vs slow path (decided at *build* time):

- Column expressions / SQL strings compile to native Catalyst operators —
  predicate pushdown, column pruning and codegen apply.
- Arbitrary Python goes through Arrow-batched ``mapInPandas``
  (the closest match to laygo's ``(list[T], ctx) -> list[U]`` chunk
  contract, SURVEY.md §2.12) — never row-at-a-time Python UDFs.

Each Python stage is a ``_Stage`` record (map_batches, map_rows,
filter_rows, tap, loop_chunks, catch, reduce_rows, map_batches_http).
Adjacent stages under one ``set_chunker`` value run as ONE ``mapInPandas``
(``_fuse``, as laygo's ``_pipe``), the chunker cutting each stage's input;
catch/tap/loop_chunks fuse their sub-Transformers the same way. A run ends
at a Column/SQL step, ``observe``, ``loop``, ``short_circuit``,
``map_batches_arrow`` or a new chunker. A user callable's context arity is
worked out once (``_with_ctx``, laygo/helpers.py:28-41). Row stages and
every ``Pipeline`` terminal see elements through one codec, ``_Codec``.
"""

from __future__ import annotations

import functools
import inspect
import itertools
from collections.abc import Callable, Iterable, Iterator, Sequence
from dataclasses import dataclass
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructType

from laygo_python_spark.context import Context
from laygo_python_spark.errors import ErrorHandler, PipelineAbortError
from laygo_python_spark.session import pin, release

# A step takes (df, worker_ctx_dict_or_None) and returns a DataFrame.
Step = Callable[[DataFrame, dict | None], DataFrame]

DEFAULT_MAX_LOOP_ITERATIONS = 100
# Transformer.loop pins its frame every this many iterations, so the plan
# does not grow without bound (SURVEY.md §7.4.3).
LOOP_PIN_EVERY = 10


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


def _with_ctx(fn: Callable, threshold: int = 1) -> tuple[Callable, bool]:
    """``fn`` as a callable that always takes the context last, and
    whether ``fn`` itself reads it (only then does its stage snapshot
    the context)."""
    if is_context_aware(fn, threshold):
        return fn, True
    return (lambda *args: fn(*args[:-1])), False


def _as_condition(cond: Column | str) -> Column:
    return F.expr(cond) if isinstance(cond, str) else cond


# -- mixed-type (tagged-union) element encoding ------------------------------
# ``Pipeline([1, "hello", 3.14], allow_mixed=True)`` encodes elements as
# (__tag, __v string) rows — a DataFrame column has exactly one type, so
# heterogeneous laygo sources (reference tests/test_pipeline.py:117-124)
# get an explicit variant encoding instead of silent stringification.
# Scalars carry their repr; dicts/lists carry JSON (when it round-trips
# exactly); anything else carries base64(pickle).
MIXED_COLS = ["__tag", "__v"]
MIXED_SCHEMA = "__tag string, __v string"

# Source-order id column, attached by Pipeline(..., ordered=True) and
# consumed by Pipeline.to_list(ordered=True).
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


def _worker_ctx(context: Context | None, aware: bool = True) -> dict[str, Any] | None:
    """Snapshot the context for executor-side closures; None for a
    stage whose callable does not read it.

    Plain values are read-only copies (broadcast-style); registered
    accumulators pass through so ``ctx["n"] += 1`` works in workers
    (parity with laygo/context/parallel.py:71-92 lock-protected writes —
    accumulators are race-free without the lock).
    """
    if not aware:
        return None
    if context is None:
        return {}
    snap = dict(context._data)
    snap.update(context._accumulators)
    return snap


class _Codec:
    """The element convention: how a frame's columns become laygo
    elements and back. Python stages decode their pandas batches here
    and ``Pipeline`` terminals their Rows, so both see the same elements:

    - a lone ``value`` column gives bare scalars;
    - the ``allow_mixed`` tagged union gives its decoded values;
    - any other frame gives dicts;
    - the order id is never part of an element;
    - NULL is None and an integral column gives int. pandas turns an
      integral column that holds a NULL into floats, so a batch decodes
      against the frame's Spark schema. In a float column pandas cannot
      tell NaN from NULL: a Python stage sees both as None.
    """

    def __init__(self, schema: StructType):
        self.columns = schema.names
        self.integral = {f.name for f in schema.fields if isinstance(f.dataType, IntegralType)}

    @staticmethod
    def _kind(names: list[str]) -> str:
        return "mixed" if names == MIXED_COLS else "value" if names == ["value"] else "dict"

    @staticmethod
    def _elements(kind: str, names: list[str], values: Iterable[Sequence]) -> Iterator[Any]:
        if kind == "mixed":
            return (decode_mixed(t, v) for t, v in values)
        if kind == "value":
            return (v for (v,) in values)
        return (dict(zip(names, vals)) for vals in values)

    @staticmethod
    def _column(s: pd.Series, integral: bool) -> list:
        values = s.tolist()
        if integral and s.dtype.kind == "f":
            return [None if v != v else int(v) for v in values]
        if s.dtype.kind in "fmM" and s.hasnans:
            return [None if v != v else v for v in values]
        return values

    def decode(self, pdf: pd.DataFrame, records: bool = False) -> list[Any]:
        """A pandas batch to its elements; ``records`` gives dicts
        whatever the frame's shape."""
        names = [c for c in pdf.columns if c != ORDER_COL]
        cols = [self._column(pdf[c], c in self.integral) for c in names]
        values = zip(*cols) if cols else [()] * len(pdf)
        return list(self._elements("dict" if records else self._kind(names), names, values))

    def rows(self, rows: Iterable[Row]) -> Iterator[Any]:
        """Collected or streamed Rows to their elements, lazily."""
        names = [c for c in self.columns if c != ORDER_COL]
        kind = self._kind(names)
        if kind == "dict":  # asDict also turns nested Rows into dicts
            values = ([d[c] for c in names] for d in (r.asDict(recursive=True) for r in rows))
        else:
            idx = [self.columns.index(c) for c in names]
            values = ([r[i] for i in idx] for r in rows)
        return self._elements(kind, names, values)

    @staticmethod
    def encode(out: list[Any], pdf: pd.DataFrame) -> pd.DataFrame:
        """``map_rows`` results for batch ``pdf`` back to a frame: a
        tagged-union input re-encodes, other non-dict results fill a
        ``value`` column, and ``pdf``'s order id rides along."""
        if _Codec._kind([c for c in pdf.columns if c != ORDER_COL]) == "mixed":
            res = pd.DataFrame([encode_mixed(o) for o in out], columns=MIXED_COLS)
        elif out and not isinstance(out[0], dict):
            res = pd.DataFrame({"value": out})
        else:
            res = pd.DataFrame(out)
        if ORDER_COL in pdf.columns:
            res[ORDER_COL] = pdf[ORDER_COL].tolist()
        return res


def _rechunk_frames(batches: Iterable[pd.DataFrame], size: int) -> Iterator[pd.DataFrame]:
    """Re-cut a stream of pandas batches to ``size`` rows each (tail excepted)."""
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


def _rechunk_arrow(batches: Iterable, size: int) -> Iterator:
    """Re-slice a stream of Arrow record batches to ``size`` rows each
    (tail excepted), zero-copy."""
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


@dataclass(frozen=True)
class _Stage:
    """A Python stage as data: ``build(in_schema, conform)`` gives its
    stream function ``(batches, wctx) -> batches``; ``schema`` is its
    declared output (None keeps the input's); ``chunker`` is the
    ``set_chunker`` value in force when it was added."""

    build: Callable[[StructType, Callable], Callable]
    schema: Any
    aware: bool
    chunker: Callable | int | None


def _per_batch(build: Callable) -> Callable:
    """A builder of a batch function ``(pdf, wctx) -> pdf | None`` as a
    builder of a stream function."""

    def stream(in_schema: StructType, conform: Callable) -> Callable:
        fn = build(in_schema, conform)
        return lambda batches, wctx: (fn(pdf, wctx) for pdf in batches)

    return stream


def _conformer(spark: SparkSession) -> Callable[[pd.DataFrame, StructType], pd.DataFrame]:
    """``conform(pdf, schema)`` casts ``pdf`` as a ``mapInPandas`` boundary
    does (out to Arrow and back, by pyspark's own serializer, with the
    session time zone and ``convertToArrowArraySafely``). Columns not
    matching ``schema`` are a stage's fault, not a row's, which ``catch``
    must not drop: they raise ``PipelineAbortError``."""
    from pyspark.errors import PySparkException
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    conf = spark._jconf
    large = conf.arrowUseLargeVarTypes()
    ser = ArrowStreamPandasUDFSerializer(conf.sessionLocalTimeZone(), conf.arrowSafeTypeConversion(),
                                         assign_cols_by_name=True, df_for_struct=True, arrow_cast=True)

    def conform(pdf: pd.DataFrame, schema: StructType) -> pd.DataFrame:
        from pyspark.worker import verify_pandas_result

        try:
            verify_pandas_result(pdf, schema, assign_cols_by_name=True, truncate_return_schema=True)
        except PySparkException as exc:
            raise PipelineAbortError(f"a Python stage's output does not fit the next stage: {exc}") from exc
        batch = ser._create_batch([(pdf, to_arrow_type(schema, prefers_large_types=large))])
        return ser.arrow_to_pandas(batch.column(0), 0)

    return conform


def _fuse(stages: Sequence[_Stage], schema: StructType, conform: Callable,
          chunker: Callable | int | None = None) -> tuple[Callable, StructType]:
    """``stages`` as one ``(batches, wctx) -> batches`` stream function over
    input of Spark schema ``schema``, and its output schema. A stage after
    the first sees the frames it would see as its own ``mapInPandas``:
    conformed to the schema the stage before declared or kept. Every
    stage's input is re-cut by ``chunker`` (a ``set_chunker`` value);
    empty frames are dropped."""
    chunk = functools.partial(_rechunk_frames, size=chunker) if isinstance(chunker, int) else chunker
    fns = []
    for s in stages:
        fns.append((s.build(schema, conform), schema if fns else None))
        if s.schema is not None:
            schema = StructType.fromDDL(s.schema) if isinstance(s.schema, str) else s.schema

    def nonempty(batches: Iterable[pd.DataFrame | None]) -> Iterator[pd.DataFrame]:
        return (pdf for pdf in batches if pdf is not None and len(pdf))

    def feed(batches: Iterable[pd.DataFrame | None], in_schema: StructType | None) -> Iterator[pd.DataFrame]:
        batches = nonempty(batches) if chunk is None else nonempty(chunk(nonempty(batches)))
        return batches if in_schema is None else (conform(pdf, in_schema) for pdf in batches)

    def pipe(batches: Iterable[pd.DataFrame], wctx: dict | None) -> Iterator[pd.DataFrame]:
        for fn, in_schema in fns:
            batches = fn(feed(batches, in_schema), wctx)
        return nonempty(batches)

    return pipe, schema


def _run_stages(df: DataFrame, stages: Sequence[_Stage], context: Context | None) -> DataFrame:
    """The module's one ``mapInPandas``: each partition's batches pass
    through every stage of a run; the run's ``set_chunker`` value cuts
    the input of every stage."""
    pipe, schema = _fuse(stages, df.schema, _conformer(df.sparkSession), stages[0].chunker)
    wctx = _worker_ctx(context, any(s.aware for s in stages))
    return df.mapInPandas(lambda batches: pipe(batches, wctx), schema=schema)


class Transformer:
    """Immutable fluent program; every method returns a new Transformer.

    (The reference mutates in place and returns self,
    laygo/transformers/transformer.py:224-227 — immutability is a
    deliberate upgrade: a Transformer is a value, like a logical plan.)
    """

    def __init__(self, steps: tuple[Step, ...] = (), chunker: Callable | int | None = None):  # noqa: D107
        self._steps = tuple(steps)
        self._chunker = chunker

    # -- composition core (parity: _pipe, transformer.py:215-227) ----------
    def _with(self, step: Step) -> "Transformer":
        return Transformer(self._steps + (step,), self._chunker)

    def _python_stage(self, build: Callable, schema: Any | None, aware: bool) -> "Transformer":
        return self._with(_Stage(build, schema, aware, self._chunker))

    def _python_stages(self) -> tuple[_Stage, ...]:
        """This transformer's steps, for fusion into one stream function.
        A Column/SQL stage is a Catalyst plan node with no per-batch form,
        so a sub-pipeline containing one raises here, naming the
        alternatives."""
        if not all(isinstance(s, _Stage) for s in self._steps):
            raise TypeError(
                "this sub-pipeline contains a Column/SQL (Catalyst-plan) stage, which "
                "cannot run inside a per-batch scope. Use Python stages (map_batches/"
                "map_rows/filter with a callable) in the sub-pipeline, or apply the "
                "Transformer directly and use observe() for metrics."
            )
        return self._steps

    def __call__(self, df: DataFrame, context: Context | None = None) -> DataFrame:
        # A run: adjacent Python stages under one chunker, or one other step.
        # A Column/SQL step, observe, loop, short_circuit, map_batches_arrow
        # or a new chunker ends a run of Python stages.
        key = lambda s: (s.chunker,) if isinstance(s, _Stage) else object()  # noqa: E731
        for chunker, run in itertools.groupby(self._steps, key):
            df = _run_stages(df, list(run), context) if isinstance(chunker, tuple) else next(run)(df, context)
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
        fn, aware = _with_ctx(fn)
        return self._python_stage(_per_batch(lambda _schema, _conform: fn), schema, aware)

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
        from laygo_python_spark.operators.http import post_stream

        run = post_stream(url, timeout=timeout, retries=retries, headers=headers,
                          concurrency=concurrency, on_error=on_error)
        return self._python_stage(lambda _s, _c: lambda batches, _ctx: run(batches), schema, False)

    def map_batches_arrow(self, fn: Callable, schema: Any | None = None) -> "Transformer":
        """``map_batches`` on the pyarrow transport: ``fn(pa.RecordBatch)
        -> pa.RecordBatch`` with no pandas materialization (mapInArrow).
        Prefer it when the batch logic is arrow/numpy-native — the pandas
        round-trip is pure overhead there (same lesson as
        cogroup_apply_arrow / group_apply_arrow). Not a pandas Python
        stage: it ends a fused run and cannot sit in a catch/tap/
        loop_chunks body, which compile the pandas chunk contract.

        An upstream ``set_chunker(n)`` (int form) IS honored here — the
        record-batch stream is re-sliced to exactly n rows zero-copy
        before ``fn`` sees it. A CALLABLE chunker is a pandas-contract
        function (``Iterable[pd.DataFrame] -> Iterator``) and cannot
        govern an arrow stage; that combination raises at build time
        rather than silently ignoring the chunker (which would hand
        ``fn`` engine-default batches the pipeline explicitly opted out
        of) — use ``map_batches`` for that stage, or the int form."""
        size = self._chunker
        if size is not None and not isinstance(size, int):
            raise TypeError(
                "map_batches_arrow: a callable set_chunker has the pandas chunk "
                "contract and cannot re-chunk an arrow stage — use set_chunker(n) "
                "(int) or a pandas map_batches stage"
            )

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            out_schema = schema if schema is not None else df.schema

            def run(batches):
                stream = _rechunk_arrow(batches, size) if size is not None else batches
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

    def map_rows(self, fn: Callable, schema: Any | None = None) -> "Transformer":
        """Per-row Python map (slowest path; parity with laygo map over
        elements, transformer.py:229-243). ``fn(elem[, ctx])`` gets the
        element ``to_list`` would return (see ``_Codec``); non-dict
        returns wrap back into ``value``. Prefer ``map``/``map_batches``.
        """
        fn, aware = _with_ctx(fn)

        def build(in_schema: StructType, _conform: Callable) -> Callable:
            codec = _Codec(in_schema)
            return lambda pdf, ctx: codec.encode([fn(x, ctx) for x in codec.decode(pdf)], pdf)

        return self._python_stage(_per_batch(build), schema, aware)

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
        """Python predicate filter. ``pred(elem[, ctx])`` gets the
        element ``to_list`` would return: a bare scalar for
        single-``value``-column frames (laygo scalar pipelines,
        tests/test_pipeline.py:507-538 route with ``lambda x: x > 100``),
        a dict otherwise.

        A Python stage, so it participates in sub-pipeline fusion
        (catch/tap/loop_chunks)."""
        pred, aware = _with_ctx(pred)

        def build(in_schema: StructType, _conform: Callable) -> Callable:
            codec = _Codec(in_schema)

            def keep(pdf: pd.DataFrame, ctx: dict | None) -> pd.DataFrame:
                mask = [bool(pred(x, ctx)) for x in codec.decode(pdf)]
                return pdf[pd.Series(mask, index=pdf.index, dtype=bool)]

            return keep

        return self._python_stage(_per_batch(build), None, aware)

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
        - a sub-``Transformer`` of Python stages (reference
          tap(Transformer), tested at reference
          tests/test_transformer.py:51-58).

        Either runs on a COPY of each batch, its output discarded.
        """
        sub = fn if isinstance(fn, Transformer) else Transformer().map_batches(fn)
        stages = sub._python_stages()

        def build(in_schema: StructType, conform: Callable) -> Callable:
            pipe, _ = _fuse(stages, in_schema, conform)

            def run(pdf: pd.DataFrame, ctx: dict | None) -> pd.DataFrame:
                list(pipe([pdf.copy()], ctx))
                return pdf

            return run

        return self._python_stage(_per_batch(build), None, any(s.aware for s in stages))

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
        Inside a catch/tap/loop_chunks body it folds each batch that
        scope hands it: laygo's per-chunk reduce.

        For a whole-dataset sequential fold (reference terminal path,
        transformer.py:462-486) use ``Pipeline.reduce`` — a general
        non-associative fold is inherently sequential and runs on the
        driver; rewrite to ``agg`` whenever possible.
        """
        if not per_chunk:
            raise ValueError("whole-dataset folds live on Pipeline.reduce; use agg for distributed folds")
        fn, aware = _with_ctx(fn, threshold=2)

        def build(in_schema: StructType, _conform: Callable) -> Callable:
            codec = _Codec(in_schema)

            def fold(batches: Iterable[pd.DataFrame], wctx: dict | None) -> Iterator[pd.DataFrame]:
                acc = initial
                seen = False
                for pdf in batches:
                    for r in codec.decode(pdf, records=True):
                        acc = fn(acc, r, wctx)
                        seen = True
                if seen:
                    yield pd.DataFrame([{"value": acc}])

            return fold

        return self._python_stage(build, schema, aware)

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
        sub = fn if isinstance(fn, Transformer) else None
        if sub is None and callable(fn):
            try:
                probe = fn(Transformer())
                sub = probe if isinstance(probe, Transformer) else None
            except Exception:  # noqa: BLE001 — not a builder: plain batch fn
                pass
        stages = (sub or Transformer().map_batches(fn))._python_stages()
        declared = next((s.schema for s in reversed(stages) if s.schema is not None), None)

        def build(in_schema: StructType, conform: Callable) -> Callable:
            pipe, _ = _fuse(stages, in_schema, conform)

            def attempt(pdf: pd.DataFrame, wctx: dict | None):
                try:
                    return True, list(pipe([pdf], wctx))
                except PipelineAbortError:
                    raise
                except Exception as exc:  # noqa: BLE001 — isolated error domain
                    return False, exc

            def salvage(pdf: pd.DataFrame, wctx: dict | None) -> Iterator[pd.DataFrame]:
                """Batch mode drops a failing batch whole. Row mode
                bisects it so fn stays vectorized — a poison row costs
                O(log batch) re-tries instead of running fn once per row.
                Binary split measured fastest (an 8-way fan-out doubled
                wall time at 2% poison density: every mid-level group
                still fails, and each failure then pays 8 child attempts
                instead of 2). Requires fn to be row-wise (its output for
                a row must not depend on its batch)."""
                ok, out = attempt(pdf, wctx)
                if ok:
                    yield from out
                elif mode == "batch" or len(pdf) == 1:
                    if isinstance(on_error, ErrorHandler):
                        on_error.handle(pdf, out, wctx)
                    elif on_error is not None:
                        on_error(pdf, out, wctx)
                else:
                    mid = len(pdf) // 2
                    yield from salvage(pdf.iloc[:mid], wctx)
                    yield from salvage(pdf.iloc[mid:], wctx)

            # The run's set_chunker cuts this stage's input, so it governs
            # the error-domain boundaries too (batch-mode drops exactly one
            # custom chunk per failure), mirroring the reference where the
            # chunker defines the chunks catch operates on.
            return lambda batches, wctx: (out for pdf in batches for out in salvage(pdf, wctx))

        aware = on_error is not None or any(s.aware for s in stages)
        return self._python_stage(build, declared if schema is None else schema, aware)

    # -- iteration ---------------------------------------------------------------
    def loop(
        self,
        body: "Transformer",
        condition: Column | str | Callable[[DataFrame], bool],
        max_iterations: int = DEFAULT_MAX_LOOP_ITERATIONS,
    ) -> "Transformer":
        """Driver-side fixpoint iteration (reference: Transformer.loop,
        transformer.py:346-392 — per-chunk while-loop; here the unit is
        the whole dataset, the scalable granularity).

        ``condition`` as a Column/SQL string means "keep looping while any
        row matches"; a callable receives the DataFrame and returns bool.
        Every ``LOOP_PIN_EVERY`` iterations the frame is pinned, which
        truncates its lineage so plans don't grow unboundedly
        (SURVEY.md §7.4.3), and the pin it supersedes is released.
        """
        if max_iterations is None or max_iterations <= 0:
            raise ValueError("max_iterations must be a positive int (unbounded loops are unsupported)")

        def step(df: DataFrame, context: Context | None) -> DataFrame:
            def should_continue(d: DataFrame) -> bool:
                if callable(condition) and not isinstance(condition, Column):
                    return bool(condition(d))
                return d.filter(_as_condition(condition)).limit(1).count() > 0

            i = 0
            pinned = None
            while i < max_iterations and should_continue(df):
                df = body(df, context)
                i += 1
                if i % LOOP_PIN_EVERY == 0:
                    df = pin(df)
                    release(pinned)
                    pinned = df
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
        if not isinstance(body, Transformer):
            body = Transformer().map_batches(body)
        stages = body._python_stages()
        condition, cond_aware = _with_ctx(condition)

        def build(in_schema: StructType, conform: Callable) -> Callable:
            pipe, _ = _fuse(stages, in_schema, conform)

            def run(pdf: pd.DataFrame, ctx: dict | None):
                i = 0
                while pdf is not None and i < max_iterations and condition(pdf, ctx):
                    out = list(pipe([pdf], ctx))  # a row-mode catch yields several frames
                    pdf = pd.concat(out, ignore_index=True) if out else None
                    i += 1
                return pdf

            return run

        return self._python_stage(_per_batch(build), None, cond_aware or any(s.aware for s in stages))

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
        common case — re-chunk to exactly that many rows per batch (tail
        excepted) before EVERY later Python stage, fused ones included,
        whatever Arrow's maxRecordsPerBatch or the stage before
        delivered; ``map_batches_arrow`` honors it too, on record batches.

        Scope mirrors the reference: the chunker governs chunking
        WITHIN a worker (here: within a partition); it cannot move rows
        across partitions — that is ``repartition``. Applies to stages
        added AFTER this call, like the reference's in-place setter."""
        if isinstance(chunker, int) and chunker <= 0:
            raise ValueError(f"set_chunker: chunk size must be positive, got {chunker}")
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
    """Parity alias for laygo's create_threaded_transformer and
    create_process_transformer (transformer.py:49-98): on Spark the
    strategy choice IS the partitioning — this returns a transformer that
    repartitions to ``max_workers`` so downstream per-batch work runs
    with that parallelism (Spark executors already are separate
    processes). ``ordered`` is accepted for API compatibility; DataFrame
    results are unordered sets unless an order_by is applied (SURVEY.md
    §7.4.4)."""
    return Transformer().repartition(max_workers)


create_process_transformer = create_threaded_transformer
