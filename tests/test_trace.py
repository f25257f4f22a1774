"""The query trace (encodesrv_spark/trace.py): status-store reads after a
timed noop-sink run, and the parser for the store's metric strings."""

from __future__ import annotations

import json

import pytest

from encodesrv_spark.plans.registry import all_queries
from encodesrv_spark.trace import parse_metric, trace


@pytest.mark.parametrize(
    "text, value",
    [
        # display strings copied from a local run's status store
        ("32,496", 32496),
        ("64.2 MiB", round(64.2 * 2**20)),
        ("1018.0 KiB", 1018 * 2**10),
        ("0.0 B", 0),
        ("39 ms", 39),
        ("total (min, med, max (stageId: taskId))\n938 ms (6 ms, 222 ms, 231 ms (stage 0.0: task 0))", 938),
        (
            "total (min, med, max (stageId: taskId))\n128.5 MiB (64.2 MiB, 64.2 MiB, 64.2 MiB (stage 2.0: task 8))",
            round(128.5 * 2**20),
        ),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == value


def _trace(spark, sf_dir, name):
    return trace(spark, lambda: all_queries()[name].fn(spark, sf_dir))


def test_q1_trace_reads_operators_and_round_trips(spark, sf_dir):
    rec = _trace(spark, sf_dir, "q1_pricing_summary")
    assert len(rec["executions"]) == 1
    rows = {}
    for op in rec["executions"][0]["operators"]:
        rows.setdefault(op["name"], op.get("rows"))
    for name in ("Scan parquet", "Filter", "HashAggregate", "Exchange"):
        assert isinstance(rows[name], int) and rows[name] > 0, (name, rows)
    assert rec["jobs"] >= 1 and rec["stages"] and rec["wall_s"] > 0
    assert all(s["task_ms_max"] >= s["task_ms_med"] >= 0 for s in rec["stages"])
    assert json.loads(json.dumps(rec)) == rec


def test_trace_counts_every_sql_execution(spark, sf_dir):
    """bpe_merge_step checkpoints during its build: its eager checkpoint
    is an execution of its own, before the final save."""
    assert len(_trace(spark, sf_dir, "bpe_merge_step")["executions"]) >= 2
