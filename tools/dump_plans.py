"""Dump ``explain("formatted")`` for named registry queries to files.

Usage:
    python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query, planned at
$SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so size estimates
and join strategies in the dump match what the bench runs). Planning
only — nothing executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from sentiment_analysis_data_engineering_spark.session import get_spark

    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
