"""Generate PLANS.md: a physical-plan quality snapshot for every bench
headliner — joins chosen, exchange count, pushed filters, codegen spans —
so plan regressions are reviewable in a diff, not just caught by the
audit's anti-pattern flags.

Usage: python tools/explain_catalog.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from varda_spark.catalog import REGISTRY  # noqa: E402
from varda_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

OPS = [
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
    "HashAggregate", "ObjectHashAggregate", "SortAggregate",
    "Exchange", "BroadcastExchange", "Window", "Generate",
    "TakeOrderedAndProject", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInPandas", "BatchEvalPython",
]


def summarize(plan: str) -> dict[str, int]:
    counts = {}
    for op in OPS:
        # word-boundary count so Exchange != BroadcastExchange
        n = len(re.findall(rf"(?<![A-Za-z]){op}(?![A-Za-z])", plan))
        if n:
            counts[op] = n
    return counts


def main() -> None:
    spark = get_spark("explain")
    lines = [
        "# PLANS — physical-plan snapshot (generated by tools/explain_catalog.py)",
        "",
        f"Operator counts per bench headliner at {SF_DIR} (AQE initial plans).",
        "A diff in this file means the plan changed — check it was intentional.",
        "",
        "| query | joins | shuffles | other |",
        "|---|---|---|---|",
    ]
    for name in HEADLINE:
        plan = REGISTRY[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        c = summarize(plan)
        joins = ", ".join(
            f"{op}×{c[op]}" for op in OPS[:5] if op in c
        ) or "—"
        shuffles = c.get("Exchange", 0)
        other = ", ".join(
            f"{op}×{c[op]}"
            for op in ("Window", "Generate", "TakeOrderedAndProject", "ArrowEvalPython",
                       "FlatMapGroupsInPandas", "MapInPandas", "BatchEvalPython")
            if op in c
        ) or "—"
        pushed = "✓" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        lines.append(f"| {name} | {joins} | {shuffles} (pushed filters {pushed}) | {other} |")
    open(os.path.join(ROOT, "PLANS.md"), "w").write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
