"""Query registry — the single source of truth for the engine's query
surface.

Every operator in SURVEY.md §2 (plus the LLM-pipeline extensions) is
declared here as a named pair:

* a Spark callable ``fn(spark, sf_dir) -> DataFrame`` (the engine),
  which applies :func:`encodesrv_spark.session.prep` to the session
  before it builds the frame, and
* an optional ANSI-SQL oracle string DuckDB runs on the same parquet
  tables (the correctness gate).  ``oracle=None`` marks genuinely
  non-SQL-expressible ops (the driver records a weaker rows-only check).

Column names must match exactly between the two — the driver sorts
columns by name before value-hashing.  Floating-point outputs are
rounded identically on both sides; timestamps are rendered as strings
so both engines agree byte-for-byte.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from encodesrv_spark.session import prep

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query under ``name``.

    It returns (and registers) a wrapper that applies ``prep`` to the
    session and then calls ``fn``, so every query runs under the
    engine's session settings whoever built the session.  The wrapper
    keeps ``fn``'s ``__module__`` and ``__doc__``, which the query index
    and the per-module bench split read."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def prepped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(prep(spark), sf_dir)

        _REGISTRY[name] = Query(name, prepped, oracle, tuple(tags), (fn.__doc__ or "").strip())
        return prepped

    return deco


def all_queries() -> dict[str, Query]:
    """Import all plan modules (side-effect registration) and return the
    map in registration order."""
    # Imports deferred so `import encodesrv_spark` stays cheap.
    from encodesrv_spark.plans import (  # noqa: F401
        corpus,
        curation,
        extended,
        llm,
        mining,
        parity,
        tpch,
        tpch_deep,
    )

    return _REGISTRY
