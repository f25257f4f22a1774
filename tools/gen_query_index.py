"""Generate QUERIES.md — the user-facing index of every registry
query: name, module, tags, and the first docstring line.

Usage: python tools/gen_query_index.py [out_md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from encodesrv_spark.plans.registry import all_queries


def main() -> None:
    out_md = sys.argv[1] if len(sys.argv) > 1 else "QUERIES.md"
    qs = all_queries()
    lines = [
        "# QUERIES — the engine's full query surface",
        "",
        f"{len(qs)} registered queries (generated by"
        " `python tools/gen_query_index.py`; run one with"
        " `python -m encodesrv_spark query <name>`)."
        " Ordering below = registration order.",
        "",
        "| # | query | module | tags | what it does |",
        "|---|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(qs.items(), 1):
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        doc = " ".join((q.doc or "").split("\n\n")[0].split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        oracle = "" if q.oracle else " *(rows-only: no SQL oracle)*"
        lines.append(
            f"| {i} | `{name}` | {mod} | {', '.join(q.tags)} | {doc}{oracle} |"
        )
    lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md} ({len(qs)} queries)")


if __name__ == "__main__":
    main()
