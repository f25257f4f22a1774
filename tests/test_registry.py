"""The query registry's contract with the session it is handed: every
registered query normalizes the session settings before it builds, and
no query leaves session state (temp views) behind."""

from __future__ import annotations

from encodesrv_spark.plans.registry import all_queries
from encodesrv_spark.session import prep

QUERIES = all_queries()

PLAN_MODULES = {
    "corpus", "curation", "extended", "llm", "mining", "parity", "tpch", "tpch_deep",
}


def test_query_fn_applies_prep(spark, sf_dir):
    """Calling a registered query's ``fn`` restores the ``prep``
    settings, even for a query that only builds lazily; and the wrapper
    keeps the plan module and docstring the query index and the bench's
    per-module split read."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        QUERIES["poll_topk"].fn(spark, sf_dir)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        prep(spark)
    for name, q in QUERIES.items():
        pkg, _, mod = q.fn.__module__.rpartition(".")
        assert pkg == "encodesrv_spark.plans" and mod in PLAN_MODULES, name
        assert (q.fn.__doc__ or "").strip() == q.doc, name


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_sql_revenue_by_region_keeps_session_temp_views(spark, sf_dir):
    """The plain-SQL query reads its tables without registering session
    temp views: a caller's own ``region`` view keeps its rows, and the
    run adds no view."""
    own = spark.createDataFrame([(99, "MINE")], "r_regionkey int, r_name string")
    own.createOrReplaceTempView("region")
    try:
        before = _temp_views(spark)
        rows = QUERIES["sql_revenue_by_region"].fn(spark, sf_dir).collect()
        assert rows and "MINE" not in {r["r_name"] for r in rows}
        assert [tuple(r) for r in spark.table("region").collect()] == [(99, "MINE")]
        assert _temp_views(spark) == before
    finally:
        spark.catalog.dropTempView("region")
