"""Physical-plan audit helpers.

The reference has no optimizer at all (SURVEY.md §4.1); here Catalyst
is the optimizer and our job is to *verify* the plans it produces are
the ones we'd want at 100 TB: filters pushed to the parquet scan,
small dims broadcast, aggregates partial+final, codegen spans wide.
These helpers turn ``.explain`` into assertable strings for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain()`` as a string instead of stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def plan_audit(df: DataFrame) -> dict[str, bool | int]:
    """Coarse plan-quality signals for a DataFrame's physical plan."""
    import re

    plan = explain_str(df)
    # Under AQE the pre-execution plan carries no `*(n)` codegen tags;
    # "codegen" mode reports "Found N WholeStageCodegen subtrees".
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees",
                  explain_str(df, "codegen"))
    return {
        "has_broadcast_join": "BroadcastHashJoin" in plan,
        "has_sortmerge_join": "SortMergeJoin" in plan,
        "has_partial_agg": "partial_" in plan or "HashAggregate" in plan,
        "has_pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        "codegen_stages": int(m.group(1)) if m else 0,
        "has_python_udf": any(n in plan for n in (
            "BatchEvalPython", "ArrowEvalPython", "MapInArrow")),
    }
