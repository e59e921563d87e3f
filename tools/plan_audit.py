#!/usr/bin/env python
"""Physical-plan audit: for every suite query, count the plan features
that matter at scale (exchanges, broadcasts, pushed filters, codegen
coverage, cartesian products) and write PLANS.md.

Usage: python tools/plan_audit.py   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def audit(plan: str) -> dict:
    return {
        "shuffles": len(re.findall(r"Exchange hashpartitioning", plan)),
        "round_robin": len(re.findall(r"Exchange RoundRobinPartitioning", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "bnl_cross": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        # codegen stages print as "*(N) Operator" — count distinct N
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": len(re.findall(r"(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)", plan)),
    }


def main() -> int:
    import __spark_entry__ as se
    from chroma_rs_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of every suite query",
        "",
        f"Generated by `tools/plan_audit.py` at sf_dir={SF_DIR}. Columns:",
        "hash-partition shuffles / explicit fan-outs / broadcast exchanges /",
        "pushed-filter scans / whole-stage-codegen spans / Arrow-Python stages.",
        "`CartesianProduct` (the unbounded kind, distinct from the broadcast",
        "nested-loop used deliberately for tiny query sets in KNN) must stay 0.",
        "",
        "| query | shuffles | fan-out | bcast | pushed | codegen | python | cartesian |",
        "|---|---|---|---|---|---|---|---|",
    ]
    worst = 0

    def row(name: str, fn) -> None:
        nonlocal worst
        plan = (
            fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        a = audit(plan)
        worst = max(worst, a["cartesian"])
        lines.append(
            f"| {name} | {a['shuffles']} | {a['round_robin']} | {a['broadcasts']} "
            f"| {a['pushed']} | {a['codegen']} | {a['python']} | {a['cartesian']} |"
        )

    for name, fn in se.queries().items():
        row(name, fn)

    from chroma_rs_spark.suite import all_queries

    declared = set(se.queries())
    extras = {
        k: v for k, v in all_queries(include_extra=True).items() if k not in declared
    }
    if extras:
        lines += [
            "",
            "Extra rows (outside suite.DECLARED, same audit):",
            "",
            "| query | shuffles | fan-out | bcast | pushed | codegen | python | cartesian |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for name, qd in extras.items():
            row(name, qd.fn)
    lines.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written; max cartesian products in any plan: {worst}")
    spark.stop()
    return 1 if worst else 0


if __name__ == "__main__":
    raise SystemExit(main())
