"""Generate PLANS.md — physical-plan evidence for the headline queries.

For each bench headline query: the executed plan's shape summary
(exchanges, broadcasts, whole-stage-codegen spans, pushed filters) and
the full formatted plan. Run after plan-affecting changes:

    python tools/plan_report.py          # writes PLANS.md at the repo root
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    from sentiment_analysis_data_engineering_spark.session import get_spark

    import __spark_entry__ as entrymod
    from bench import HEADLINE

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    lines = [
        "# PLANS — physical-plan evidence (generated by tools/plan_report.py)",
        "",
        f"Scale factor dir: `{SF_DIR}`. Each query is executed first so the",
        "plan shown is the FINAL adaptive plan (AQE re-optimization applied,",
        "whole-stage-codegen span markers present). Counts are occurrences",
        "in the final plan TEXT: AQE prints each materialized query stage",
        "with its exchange again, so exchange counts read ~2x the physical",
        "shuffle count — comparable across queries, not absolute.",
        "",
        "| query | exchanges | broadcasts | codegen spans | pushed filters |",
        "|---|---|---|---|---|",
    ]
    details = []
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            df = fn(spark, SF_DIR)
            # collect() executes THIS DataFrame's queryExecution (a
            # noop write would execute a separate command plan), so
            # AQE finalizes and codegen span markers appear
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # pragma: no cover
            lines.append(f"| {name} | ERROR {type(ex).__name__} | | | |")
            continue
        n_ex = len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))
        n_bc = plan.count("BroadcastExchange")
        n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        lines.append(f"| {name} | {n_ex} | {n_bc} | {n_wsc} | {pushed} |")
        details.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    out = "\n".join(lines) + "\n\n" + "\n".join(details)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(details)} plans)")


if __name__ == "__main__":
    main()
