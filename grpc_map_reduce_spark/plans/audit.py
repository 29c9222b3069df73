"""The one reader of query plans.

The reference has no optimizer at all (SURVEY.md §4.1); here Catalyst
is the optimizer and our job is to *verify* the plans it produces are
the ones we'd want at 100 TB: filters pushed to the parquet scan,
small dims broadcast, aggregates partial+final, codegen spans wide.
Every plan inspection in the package and its tools goes through this
module:

* before execution, :func:`explain_str` renders a plan and
  :func:`plan_audit` counts its nodes (the PLANS.md static table);
* after execution, :func:`final_plan` is the AQE-final tree,
  :func:`iter_executed_nodes` / :func:`node_metrics` walk it with its
  SQL metrics, and :func:`final_plan_audit` counts what AQE changed
  (the PLANS.md runtime appendix).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: Python nodes that exchange Arrow batches with the workers (pandas
#: UDF, mapInPandas, applyInPandas, mapInArrow, UDTF).
_ARROW_PY = r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow|BatchEvalPythonUDTF"


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain()`` as a string instead of stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def plan_audit(df: DataFrame) -> dict[str, int]:
    """The scale-relevant node counts of ``df``'s physical plan, before
    execution.  Formatted mode prints each node once as a numbered
    ``(n) Node`` header, which the join and exchange counts match."""
    plan = explain_str(df)
    # Under AQE the pre-execution plan carries no `*(n)` codegen tags;
    # "codegen" mode reports "Found N WholeStageCodegen subtrees".
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees",
                  explain_str(df, "codegen"))
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "bcast_joins": len(re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan)),
        "sm_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "global_sorts": len(re.findall(r"rangepartitioning", plan)),
        "partial_aggs": len(re.findall(r"Functions \[\d+\]: \[partial_", plan)),
        "arrow_py": len(re.findall(_ARROW_PY, plan)),
        "row_py": len(re.findall(r"\(\d+\) BatchEvalPython\b", plan)),
        "codegen": int(m.group(1)) if m else 0,
    }


def executed_plan(df: DataFrame):
    """``df``'s executed physical plan as a JVM node.  Run ``df`` first
    (``collect()``, not a write: a write plans its own copy), or an
    adaptive plan is not final yet."""
    return df._jdf.queryExecution().executedPlan()


def final_plan(df: DataFrame) -> str:
    """The executed plan as a string, final tree only.  An adaptive
    plan prints "== Final Plan ==" and then "== Initial Plan ==";
    counting the whole string counts every node twice and reports the
    pre-AQE joins as survivors."""
    return executed_plan(df).toString().split("== Initial Plan ==", 1)[0]


def iter_executed_nodes(jnode):
    """DFS over an EXECUTED physical plan, descending through the
    adaptive wrappers py4j would otherwise treat as leaves:
    `AdaptiveSparkPlanExec` hides the re-planned tree behind
    `executedPlan()`, materialized `QueryStageExec`s behind `plan()`,
    and `ReusedExchangeExec` behind `child()` — none of which appear
    in `children()`."""
    yield jnode
    cls = jnode.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from iter_executed_nodes(jnode.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from iter_executed_nodes(jnode.plan())
        return
    ch = jnode.children()
    for i in range(ch.size()):
        yield from iter_executed_nodes(ch.apply(i))


def node_metrics(jnode) -> dict[str, int]:
    """A plan node's SQL metrics as {key: value} (post-execution)."""
    out = {}
    it = jnode.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def final_plan_audit(df: DataFrame) -> dict:
    """Execute ``df`` and count what AQE changed in its final plan:
    sort-merge joins before and after, broadcast joins, and the
    ``AQEShuffleRead`` nodes that coalesce or split skewed partitions."""
    df.collect()  # heavy-family outputs are reduced tables — bounded
    final = final_plan(df)
    static = df._jdf.queryExecution().sparkPlan().toString()
    # A plan with no exchanges/subqueries never gets an
    # AdaptiveSparkPlan wrapper — that's a plan too simple for AQE,
    # not an AQE failure.
    adaptive = "AdaptiveSparkPlan" in final
    return {
        "is_final": ("isFinalPlan=true" in final) or not adaptive,
        "adaptive": adaptive,
        "smj_static": static.count("SortMergeJoin"),
        "smj_final": final.count("SortMergeJoin"),
        "bhj_final": final.count("BroadcastHashJoin"),
        "aqe_reads": final.count("AQEShuffleRead"),
        "aqe_coalesced": final.count("AQEShuffleRead coalesced"),
        "aqe_skewed": len(re.findall(r"skewed=true|AQEShuffleRead skewed", final)),
        "bloom_runtime": ("bloomfilter" in final.lower()
                          or "might_contain" in final),
    }
