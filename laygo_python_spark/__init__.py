"""laygo_python_spark — a PySpark-native analytics engine with the
capabilities of ringoldsdev/laygo-python, re-expressed Spark-first.

The reference (read-only at /root/reference/) is a pure-Python fluent,
lazy, chunk-oriented pipeline library (Pipeline / Transformer / shared
context / branch fan-out — see SURVEY.md). This package keeps the fluent
API shape but compiles everything to vanilla DataFrame operations so that
Catalyst/Tungsten own optimization and execution:

- ``Pipeline``       — binds a source DataFrame to transformers + context
                       (reference: laygo/pipeline.py:71-112)
- ``Transformer``    — a reusable, composable DataFrame -> DataFrame
                       program (reference: laygo/transformers/transformer.py:135-163)
- ``Context``        — broadcast-read / accumulator-write shared state
                       (reference: laygo/context/parallel.py:39-138)
- ``operators``      — relational uplift + training-data-pipeline ops
                       (dedup, similarity search, text analysis, multimodal)
- ``streaming``      — Structured Streaming helpers (watermark, windows,
                       sessionization)

Design stance (SURVEY.md §7.1): fluent chaining, lazy execution until a
terminal op, reusable transformers, per-batch error isolation, and branch
fan-out are kept; single-use iterators become re-usable DataFrames; the
thread/process/HTTP strategy choice becomes partitioning/cluster config.
"""

import importlib

# Exports resolve on first access (PEP 562), so importing the package
# loads no pyspark: the worker daemon (``_daemon.py``) runs as a package
# submodule and must settle ``sys.path`` before pyspark's first import.
_EXPORTS = {
    "Context": "context",
    "PipelineContext": "context",
    "ErrorHandler": "errors",
    "raise_error": "errors",
    "Pipeline": "pipeline",
    "get_spark": "session",
    "read_table": "session",
    "read_tables": "session",
    "Transformer": "transformer",
    "create_transformer": "transformer",
}

__all__ = list(_EXPORTS)


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value


__version__ = "0.1.0"
