"""Full-registry physical-plan audit: nested loops + Python boundaries.

Scans every registered query's executed plan for
BroadcastNestedLoopJoin / CartesianProduct (the O(n²) red flags) and for
Python-eval nodes (Arrow-vectorized seams vs row-at-a-time
BatchEvalPython). Backs the audit tables in SCALE.md.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

NLJ = re.compile(r"BroadcastNestedLoopJoin|CartesianProduct")
PY = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas|PythonUDTF|MapInArrow"
)


def main() -> int:
    from entity_etl_spark.queries import REGISTRY
    from entity_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark(app_name="audit-plans")
    spark.sparkContext.setLogLevel("ERROR")

    nlj_hits: dict[str, int] = {}
    py_hits: dict[str, list[str]] = {}
    row_at_a_time: list[str] = []
    errors: list[str] = []
    for name, q in REGISTRY.items():
        try:
            plan = (
                q.fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001
            errors.append(f"{name}: {e}")
            continue
        n = len(NLJ.findall(plan))
        if n:
            nlj_hits[name] = n
        kinds = sorted(set(PY.findall(plan)))
        if kinds:
            py_hits[name] = kinds
        if "BatchEvalPython" in plan:
            row_at_a_time.append(name)

    print(f"registry: {len(REGISTRY)} queries; plan errors: {len(errors)}")
    for e in errors:
        print("  ERROR", e)
    print(f"\nnested-loop occurrences: {len(nlj_hits)} queries")
    for name, n in sorted(nlj_hits.items()):
        print(f"  {name}: {n}")
    print(f"\npython-boundary queries: {len(py_hits)}")
    for name, kinds in sorted(py_hits.items()):
        print(f"  {name}: {','.join(kinds)}")
    print(f"\nrow-at-a-time BatchEvalPython: {len(row_at_a_time)}")
    for name in row_at_a_time:
        print("  ", name)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
