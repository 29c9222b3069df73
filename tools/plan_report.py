#!/usr/bin/env python3
"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query this reports the scale-relevant plan signals — shuffle
(Exchange) count, broadcast joins, sort-merge joins, global sorts,
Arrow-vs-row Python nodes, whole-stage-codegen span count — so plan
regressions show up as a diff, not as a surprise at 100 TB.

The two iterative graph queries (dedup_clusters, pagerank_neardup)
execute their fixed-point loop at plan-build time; their edge-gen plan
is identical to dedup_lsh_neardup's, which IS audited, so they are
listed with a note instead of a full audit.

NOTE for plan-only tooling (ADVICE r6): several registry entries
execute real work at DataFrame-CONSTRUCTION time — dedup_triangles
pins its edge table eagerly (``pin(..., eager=True)``, the measured
disk-peak fix) plus its wedge-count sizing aggregate, and
ann_ivf_topk / embedding_kmeans run first()/count() model actions.
Merely building those queries (e.g. for explain here or in
test_plan_quality) executes their upstream chain; that is the
documented tradeoff, not a regression signal.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grpc_map_reduce_spark import get_spark, registry
from grpc_map_reduce_spark.plans.audit import explain_str

ITERATIVE = {
    "dedup_clusters": "edge-gen == dedup_lsh_neardup; CC loop audited in test_lsh_recall/test_clustering",
    "pagerank_neardup": "edge-gen == dedup_lsh_neardup; iteration plan audited in test_clustering",
    "vocab_bpe_merges": "merge loop runs at plan-build time; gated exactly in test_bpe.py",
}


def audit(plan: str, codegen_plan: str) -> dict:
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", codegen_plan)
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "bcast_joins": len(re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan)),
        "sm_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "global_sorts": len(re.findall(r"rangepartitioning", plan)),
        "arrow_py": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow|BatchEvalPythonUDTF", plan)),
        "row_py": len(re.findall(r"\(\d+\) BatchEvalPython\b", plan)),
        "codegen": int(m.group(1)) if m else 0,
        "pushed": "PushedFilters: [" in plan
        and re.search(r"PushedFilters: \[\]", plan) is None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, q in sorted(registry.all_queries().items()):
        if name in ITERATIVE:
            rows.append((name, None))
            continue
        df = q.spark_fn(spark, sf_dir)
        rows.append((name, audit(explain_str(df), explain_str(df, "codegen"))))

    out = [
        "# PLANS — physical-plan audit of the full query inventory",
        "",
        f"Generated by `tools/plan_report.py` against `{sf_dir}` "
        "(plan *shapes* are scale-independent; AQE may further convert "
        "sort-merge joins to broadcast at runtime).",
        "",
        "Columns: shuffles = Exchange nodes; bcast/smj = broadcast / "
        "sort-merge joins; gsort = range-partitioned (global) sorts; "
        "arrowPy = Arrow-batched Python nodes (pandas UDF / mapInPandas "
        "/ mapInArrow / UDTF); rowPy = row-at-a-time Python (only the documented "
        "`map_reduce` RDD escape hatch may ever show one); wscg = "
        "whole-stage-codegen subtrees.",
        "",
        "Caveats: lazily-checkpointed subplans (the shared shingle/LSH "
        "tables) appear as `Scan ExistingRDD`, so their upstream UDF + "
        "repartition stages are counted where they first materialize, "
        "not in every consumer; `wordcount_mapreduce` is the documented "
        "RDD escape hatch — its Python runs outside SQL explain "
        "entirely; map-only rows (0 shuffles, wscg ≥ 1) are genuinely "
        "shuffle-free single-pass scans.",
        "",
        "Fault tolerance: the iterative family (CC / LPA / pagerank / "
        "Lloyd) truncates lineage per round via `iter_checkpoint` "
        "(plans/checkpoint.py) — executor-local by default (blocks die "
        "with their executor; fine in local[32]); setting "
        "`spark.graft.reliableCheckpointDir` switches every round to a "
        "reliable `checkpoint()` to storage so an executor loss on a "
        "real cluster costs one re-read, not the job.",
        "",
        "| query | shuffles | bcast | smj | gsort | arrowPy | rowPy | wscg |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if a is None:
            out.append(f"| {name} | *{ITERATIVE[name]}* |||||||")
            continue
        out.append(
            f"| {name} | {a['exchanges']} | {a['bcast_joins']} | {a['sm_joins']} "
            f"| {a['global_sorts']} | {a['arrow_py']} | {a['row_py']} | {a['codegen']} |"
        )

    audited = [a for _, a in rows if a]
    out += [
        "",
        f"**Sweep totals** ({len(audited)} audited + {len(ITERATIVE)} "
        f"iterative): {sum(a['row_py'] for a in audited)} row-at-a-time "
        f"Python nodes, {sum(a['global_sorts'] for a in audited)} global "
        f"sorts, {sum(a['sm_joins'] for a in audited)} sort-merge joins "
        f"across the whole inventory at fixture scale.",
        "",
    ]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    # Preserve the runtime (AQE-final) appendix across regens — it is
    # produced by tools/runtime_plan_report.py, not by this static
    # audit, and a regen must not silently delete its evidence.
    appendix = ""
    if os.path.exists(path):
        cur = open(path).read()
        marker = "## Runtime appendix"
        if marker in cur:
            appendix = "\n" + cur[cur.index(marker):].rstrip() + "\n"
    with open(path, "w") as f:
        f.write("\n".join(out) + appendix)
    print(f"PLANS.md written: {len(audited)} plans audited"
          + (" (+ runtime appendix preserved)" if appendix else ""))


if __name__ == "__main__":
    main()
