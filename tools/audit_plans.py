"""Global plan-hygiene audit: the 100 TB questions asked of EVERY
registered query's physical plan at once.

Rules:
  - no CartesianProduct anywhere (an unkeyed join dies at scale)
  - no per-row Python UDF (BatchEvalPython, ArrowEvalPython)
  - every Python batch stage (MapInArrow, MapInPandas,
    FlatMapCoGroupsInPandas) names a stage declared through
    clj_nlp_parse_spark/functions/kernel.py (kernel.STAGES)

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

PY_NODE = re.compile(r"\b(MapInArrow|MapInPandas|FlatMapCoGroupsInPandas)\b")
# the stage function a Python node maps: `MapInArrow natlog_rows(...)`;
# a cogroup node lists its two key sets first
PY_STAGE = re.compile(
    r"\b(?:MapInArrow|MapInPandas|FlatMapCoGroupsInPandas) "
    r"(?:\[[^\]]*\], \[[^\]]*\], )?(\w+)\(")


def plan_failures(name: str, plan: str, stages) -> list[str]:
    """Rule violations of one executed plan's string; `stages` is the set
    of declared Python stage names."""
    failures = []
    if "CartesianProduct" in plan:
        failures.append(f"{name}: CartesianProduct")
    if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
        failures.append(f"{name}: per-row Python UDF")
    named = PY_STAGE.findall(plan)
    if len(named) != len(PY_NODE.findall(plan)):
        failures.append(f"{name}: unreadable Python stage name")
    failures += [f"{name}: undeclared Python stage {fn}"
                 for fn in named if fn not in stages]
    return failures


def main() -> None:
    from clj_nlp_parse_spark import queries as Q
    from clj_nlp_parse_spark.functions import kernel
    from clj_nlp_parse_spark.session import get_spark
    spark = get_spark(app_name="plan-audit", parallelism=8,
                      shuffle_partitions=8)
    failures = []
    for name, fn in Q.QUERIES.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        found = plan_failures(name, plan, kernel.STAGES)
        failures += found
        print(f"== {name}  {'FAIL' if found else 'OK'}")
    print(f"\nqueries: {len(Q.QUERIES)}  FAILURES: {failures or 'none'}")
    spark.stop()
    if failures:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
