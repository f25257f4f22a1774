"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).  ``tools/check_oracle.py`` and
``tests/test_queries_oracle.py`` run the same comparison locally.

The real implementation lives in ``encodesrv_spark/``; this module is a
thin adapter over its query registry (encodesrv_spark/plans/registry.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from encodesrv_spark.plans.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's poll
    pipeline — filter → priority top-k → broadcast FK join (T1+J1)."""
    q = all_queries()["claim_join"]
    return q.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; omitted for non-SQL-
    expressible ops (driver records a rows-only check for those)."""
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
