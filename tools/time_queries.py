"""Time and trace registry queries under the frozen bench discipline.

Usage:
    python tools/time_queries.py [--reps N] [query ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32).  One warm-up + median of `--reps`
(default 3) noop-sink executions per query through bench.time_query,
so A/B numbers here compare directly with the BENCH artifacts.

With no query named, every registered query is traced: the records go
to BENCH_TRACE.json (one JSON object, one query per line) and PLANS.md
is regenerated from that file.  With named queries, each query's trace
is printed as one JSON line instead.  The last line printed is always
{"sf", "sf_dir", "master", "reps", "timings"}.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import time_query, warm  # noqa: E402
from encodesrv_spark.plans.registry import all_queries  # noqa: E402
from encodesrv_spark.session import get_spark  # noqa: E402

# PLANS.md plan columns -> the plan-graph operator names each counts; an
# operator matches a name alone or followed by a space and more
# ("WholeStageCodegen (3)", "Scan parquet <table>")
PLAN_COLUMNS = {
    "bhj": ("BroadcastHashJoin",),
    "smj": ("SortMergeJoin",),
    "shj": ("ShuffledHashJoin",),
    "bnlj": ("BroadcastNestedLoopJoin",),
    "cart": ("CartesianProduct",),
    "exch": ("Exchange", "BroadcastExchange"),
    "topk": ("TakeOrderedAndProject",),
    "sort": ("Sort",),
    "wscg": ("WholeStageCodegen",),
    "win": ("Window",),
    "expand": ("Expand",),
    "scans": ("Scan parquet",),
}


def write_plans(trace_path: str, out_md: str) -> None:
    """PLANS.md: one row per query of the trace file at `trace_path`."""
    with open(trace_path) as f:
        header = json.load(f)
    records = header.pop("queries")
    cols = list(PLAN_COLUMNS) + ["execs", "jobs", "skew", "persisted"]
    lines = [
        "# PLANS — physical-plan audit of every registry query",
        "",
        "Generated by `python tools/time_queries.py` from `BENCH_TRACE.json`",
        f"(sf{header['sf']}, {header['master']}).  The counts cover every",
        "SQL execution of a query (eager checkpoints during the build as well",
        "as the final save), in final (post-AQE) plans read from Spark's plan",
        "graph, where a reused subquery or exchange is one node.",
        "Plan columns count operators by name (`exch` includes broadcasts, `scans`",
        "are parquet scans).  Red flags at scale: `cart` > 0, `smj` on a",
        "dimension-sized side, `sort` without `topk` on an unbounded result,",
        "`scans` re-reading a fact table.  `skew` is max/median task time in the",
        "stage with the slowest task; `persisted` counts RDDs the run left persisted.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for name, rec in sorted(records.items()):
        ops = [o["name"] for e in rec["executions"] for o in e["operators"]]
        row = [sum(o == n or o.startswith(n + " ") for o in ops for n in names) for names in PLAN_COLUMNS.values()]
        top = max(rec["stages"], key=lambda s: s["task_ms_max"], default={"task_ms_max": 1, "task_ms_med": 1})
        skew = round(top["task_ms_max"] / max(top["task_ms_med"], 1), 1)
        row += [len(rec["executions"]), rec["jobs"], skew, rec["persisted_rdds"]]
        lines.append(f"| {name} | " + " | ".join(map(str, row)) + " |")
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_queries")
    qs = all_queries()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    header = {"sf": sf, "sf_dir": sf_dir, "master": spark.sparkContext.master, "reps": reps}
    records = {}
    for name in args or qs:
        warm(spark, qs, name, sf_dir)
        records[name] = time_query(spark, qs, name, sf_dir, reps=reps)
        if args:
            print(json.dumps({name: records[name]}, sort_keys=True))
    if not args:
        trace_path = os.path.join(ROOT, "BENCH_TRACE.json")
        rows = ",\n".join(f"{json.dumps(n)}: {json.dumps(r, sort_keys=True)}" for n, r in records.items())
        with open(trace_path, "w") as f:
            f.write(json.dumps(header)[:-1] + ', "queries": {\n' + rows + "\n}}\n")
        write_plans(trace_path, os.path.join(ROOT, "PLANS.md"))
    print(json.dumps({**header, "timings": {n: r["wall_s"] for n, r in records.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
