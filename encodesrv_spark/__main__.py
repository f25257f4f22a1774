"""Command-line entry point — the reference's `server.py` / `__main__.py`
operational surface (start the daemon loop; run things in the foreground
for debugging, reference __main__.py:2-4) re-expressed for the Spark
engine:

    python -m encodesrv_spark list                     # registered queries
    python -m encodesrv_spark query <name> [--sf-dir D] [--explain] [-n N]
    python -m encodesrv_spark scheduler --jobs-store P --formats F [...]
    python -m encodesrv_spark bench                    # delegate to bench.py

`query` is the foreground debugging mode; `scheduler` runs poll→claim→
execute→publish cycles against a JobStore (the daemonized mode — under
an init system rather than a double-fork, which containers/k8s made
obsolete)."""

from __future__ import annotations

import argparse
import os
import sys


def _cmd_list() -> int:
    from encodesrv_spark.plans.registry import all_queries

    for name, q in sorted(all_queries().items()):
        kind = "oracle" if q.oracle else "rows-only"
        print(f"{name:32s} [{kind}] {q.doc.splitlines()[0] if q.doc else ''}")
    return 0


def _cmd_query(name: str, sf_dir: str, explain: bool, n: int) -> int:
    from encodesrv_spark.plans.registry import all_queries
    from encodesrv_spark.session import get_spark

    qs = all_queries()
    if name not in qs:
        print(f"unknown query {name!r}; `python -m encodesrv_spark list`", file=sys.stderr)
        return 2
    spark = get_spark(f"query:{name}")
    df = qs[name].fn(spark, sf_dir)
    if explain:
        df.explain("formatted")
    df.show(n, truncate=False)
    return 0


def _cmd_scheduler(args: argparse.Namespace) -> int:
    from encodesrv_spark.jobs.process import ProcessConfig
    from encodesrv_spark.jobs.scheduler import Scheduler, SchedulerConfig, prepare_formats
    from encodesrv_spark.jobs.state import JobStore
    from encodesrv_spark.session import get_spark

    spark = get_spark("scheduler")
    jobs = JobStore(spark, args.jobs_store)
    formats = prepare_formats(spark.read.parquet(args.formats))
    sched = Scheduler(
        spark,
        jobs,
        formats,
        process_cfg=ProcessConfig(server=args.server),
        cfg=SchedulerConfig(
            server=args.server,
            mount_prefix=args.mount_prefix,
            max_concurrent=args.max_concurrent,
            poll_interval_s=args.poll_interval,
        ),
    )
    sched.startup_reset()
    sched.loop(max_cycles=args.cycles)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="encodesrv_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    qp = sub.add_parser("query", help="run one query in the foreground")
    qp.add_argument("name")
    qp.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    qp.add_argument("--explain", action="store_true")
    qp.add_argument("-n", type=int, default=20, help="rows to show")

    sp = sub.add_parser("scheduler", help="run poll/claim/execute cycles")
    sp.add_argument("--jobs-store", required=True)
    sp.add_argument("--formats", required=True)
    sp.add_argument("--server", default="Encode Server")
    sp.add_argument("--mount-prefix", default="")
    sp.add_argument("--max-concurrent", type=int, default=4)
    sp.add_argument("--poll-interval", type=float, default=60.0)
    sp.add_argument("--cycles", type=int, default=1)

    xp = sub.add_parser("sql", help="run ad-hoc SQL over the testdata views")
    xp.add_argument("statement")
    xp.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    xp.add_argument("-n", type=int, default=20)

    sub.add_parser("bench", help="run the benchmark harness")

    args = p.parse_args(argv)
    if args.cmd == "list":
        return _cmd_list()
    if args.cmd == "query":
        return _cmd_query(args.name, args.sf_dir, args.explain, args.n)
    if args.cmd == "scheduler":
        return _cmd_scheduler(args)
    if args.cmd == "sql":
        from encodesrv_spark.catalog import register_views
        from encodesrv_spark.session import get_spark

        spark = get_spark("sql")
        register_views(spark, args.sf_dir)
        spark.sql(args.statement).show(args.n, truncate=False)
        return 0
    if args.cmd == "bench":
        import bench

        bench.main()
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
