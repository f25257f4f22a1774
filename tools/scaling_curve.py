"""Measure how each headline query's wall time scales with data size.

Runs the bench headline set at sf0.001 / sf0.01 / sf0.1 (100x data
range), median-of-3 warm reps each, and writes SCALING.md with
per-query times and the sf0.1/sf0.01 ratio against the 10x data
growth.  Ratio well under 10 = fixed-cost amortization headroom;
ratio near 10 = already data-bound (linear); ratio over 10 = a
super-linear term that needs explaining.

Usage: python tools/scaling_curve.py [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, time_query, warm
from encodesrv_spark.plans.registry import all_queries
from encodesrv_spark.session import get_spark

SFS = ["0.001", "0.01", "0.1"]


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else "SCALING.md"
    spark = get_spark("scaling")
    qs = all_queries()
    times: dict[str, dict[str, float]] = {n: {} for n in HEADLINE}
    for sf in SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        for name in HEADLINE:
            warm(spark, qs, name, sf_dir)
        for name in HEADLINE:
            times[name][sf] = time_query(spark, qs, name, sf_dir)["wall_s"]

    lines = [
        "# SCALING — measured wall time vs data size (headline queries)",
        "",
        "Generated by `python tools/scaling_curve.py`: median of 3 warm",
        f"reps per query per scale factor on {spark.sparkContext.master}.  `x0.1/0.01` is",
        "the time ratio across a 10x data growth — well under 10 means",
        "the plan still amortizes fixed cost (scheduling, codegen,",
        "exchange setup) and has headroom; near 10 means data-bound",
        "(linear, the expected asymptote); over 10 would flag a",
        "super-linear term.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | x0.1/0.01 |",
        "|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        t = times[name]
        ratio = round(t["0.1"] / t["0.01"], 2) if t["0.01"] else float("nan")
        lines.append(
            f"| {name} | {t['0.001']:.3f} | {t['0.01']:.3f} | {t['0.1']:.3f} | {ratio} |"
        )
    tot = {sf: round(sum(times[n][sf] for n in HEADLINE), 3) for sf in SFS}
    lines.append(
        f"| **total** | {tot['0.001']:.3f} | {tot['0.01']:.3f} | {tot['0.1']:.3f} "
        f"| {round(tot['0.1'] / tot['0.01'], 2)} |"
    )
    lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}")
    spark.stop()


if __name__ == "__main__":
    main()
