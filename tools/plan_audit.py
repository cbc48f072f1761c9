"""Physical-plan audit: regenerate PLANS.md from the live query catalog.

Usage: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.01)

For every registered query this captures the executed SparkPlan and
summarizes the properties that matter at 100 TB: shuffle count, join
strategies, Python/Arrow operators, cartesian products, and parquet scan
pushdown. The table is committed (PLANS.md) so plan regressions show up
in review diffs, not just in test failures — tests/test_plans.py holds
the hard gates (no cartesians, no row-wise Python, shuffle budgets);
this is the human-readable census of all 50 plans.
"""

from __future__ import annotations

import os
import re
import sys

# run as ``python tools/plan_audit.py`` sys.path[0] is tools/; the package
# lives in the repo root, this file's parent directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def audit_one(plan: str) -> dict:
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    py = re.findall(
        r"(MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
        r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandasWithState)",
        plan,
    )
    return {
        "exchanges": plan.count("Exchange "),
        "joins": sorted(set(joins)),
        "python": sorted(set(py)),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "cartesian": "CartesianProduct" in plan,
        "row_python": "BatchEvalPython" in plan,
        "codegen": "WholeStageCodegen" in plan,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from php_ec_spark.catalog import all_queries
    from php_ec_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    bad = []
    for name, q in sorted(all_queries().items()):
        try:
            df = q.spark(spark, sf_dir)
            a = audit_one(plan_text(df))
        except Exception as e:  # noqa: BLE001 - audit must list, not die
            rows.append((name, "ERROR", "", "", str(e)[:60]))
            bad.append(name)
            continue
        notes = []
        if a["cartesian"]:
            notes.append("CARTESIAN")
            bad.append(name)
        if a["row_python"]:
            notes.append("ROW-PYTHON")
            bad.append(name)
        rows.append(
            (
                name,
                str(a["exchanges"]),
                "+".join(j.replace("Join", "") for j in a["joins"]) or "—",
                "+".join(p.replace("FlatMapCoGroupsInPandas", "FMCGiP")
                         .replace("FlatMapGroupsInPandas", "FMGiP")
                         .replace("MapInPandas", "MiP") for p in a["python"])
                or "—",
                " ".join(notes),
            )
        )

    lines = [
        "# PLANS — physical-plan census (generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Regenerate after plan-shaping",
        "changes; the hard gates live in `tests/test_plans.py` — this file",
        "is the reviewable evidence. `Exchanges` counts shuffle boundaries",
        "in the executed plan (AQE may merge at runtime); `Python` lists",
        "Arrow-batched operators (row-wise `BatchEvalPython` would be a",
        "red flag and appears in NOTES).",
        "",
        "| query | exchanges | joins | python | notes |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(r) + " |")
    lines += [
        "",
        f"Total queries: {len(rows)}; flagged: {sorted(set(bad)) or 'none'}.",
        "",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written: {len(rows)} queries, flagged={sorted(set(bad))}")


if __name__ == "__main__":
    main()
