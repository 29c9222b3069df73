#!/usr/bin/env python3
"""Generate PLANS.md: the physical-plan audit of every registered query.

One run writes the whole file, every section at one scale factor
(``$SPARK_GRAFT_SF_DIR``, default sf0.001), reading plans only through
``plans/audit.py``:

* the static table — per query, the scale-relevant plan signals of
  ``plan_audit``: shuffle (Exchange) count, broadcast and sort-merge
  joins, global sorts, Arrow-vs-row Python nodes, whole-stage-codegen
  span count — so plan regressions show up as a diff, not as a
  surprise at 100 TB;
* the runtime appendix — the ``HEAVY`` family executed and its
  AQE-final plans counted by ``final_plan_audit``;
* the runtime bloom and skew-split witnesses and the AQE-vs-salting
  skew walls of ``plans/runtime_witness.py``, at probe volume.

The iterative queries (dedup_clusters, pagerank_neardup,
vocab_bpe_merges) execute their fixed-point loop at plan-build time;
their edge-gen plan is identical to dedup_lsh_neardup's, which IS
audited, so the static table lists them with a note instead.

NOTE for plan-only tooling (ADVICE r6): several registry entries
execute real work at DataFrame-CONSTRUCTION time — dedup_triangles
pins its edge table eagerly (``pin(..., eager=True)``, the measured
disk-peak fix) plus its wedge-count sizing aggregate, and
ann_ivf_topk / embedding_kmeans run first()/count() model actions.
Merely building those queries (e.g. for explain here or in
test_plan_quality) executes their upstream chain; that is the
documented tradeoff, not a regression signal.

Usage: python tools/plan_report.py
Exits 1 if a heavy query's plan never finalized or a mechanism did
not fire.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grpc_map_reduce_spark import get_spark, registry
from grpc_map_reduce_spark.plans.audit import final_plan_audit, plan_audit
from grpc_map_reduce_spark.plans.checkpoint import pins
from grpc_map_reduce_spark.plans.runtime_witness import (
    bloom_pruning_witness,
    skew_split_witness,
    skew_walls,
)

ITERATIVE = {
    "dedup_clusters": "edge-gen == dedup_lsh_neardup; CC loop audited in test_lsh_recall/test_clustering",
    "pagerank_neardup": "edge-gen == dedup_lsh_neardup; iteration plan audited in test_clustering",
    "vocab_bpe_merges": "merge loop runs at plan-build time; gated exactly in test_bpe.py",
}

#: The heavy family: driver warm-median top-5 (VERDICT r8) plus the
#: LSH/retrieval chains whose static audit shows SMJs or wide joins.
HEAVY = [
    "dedup_rule_attribution",
    "dedup_canonical",
    "docs_leakage_safe_split",
    "pagerank_neardup",
    "dedup_communities_lpa",
    "dedup_clusters",
    "docs_split_contamination",
    "dedup_lsh_neardup_guarded",
    "semdedup",
    "hybrid_rrf_retrieval",
]

def static_section(spark, sf_dir: str) -> list[str]:
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
    audits = []
    for name, q in sorted(registry.all_queries().items()):
        if name in ITERATIVE:
            out.append(f"| {name} | *{ITERATIVE[name]}* |||||||")
            continue
        with pins():
            a = plan_audit(q.spark_fn(spark, sf_dir))
        audits.append(a)
        out.append(
            f"| {name} | {a['exchanges']} | {a['bcast_joins']} | {a['sm_joins']} "
            f"| {a['global_sorts']} | {a['arrow_py']} | {a['row_py']} | {a['codegen']} |"
        )
    return out + [
        "",
        f"**Sweep totals** ({len(audits)} audited + {len(ITERATIVE)} "
        f"iterative): {sum(x['row_py'] for x in audits)} row-at-a-time "
        f"Python nodes, {sum(x['global_sorts'] for x in audits)} global "
        f"sorts, {sum(x['sm_joins'] for x in audits)} sort-merge joins "
        f"across the whole inventory at fixture scale.",
    ]


def runtime_section(spark, sf_dir: str) -> tuple[list[str], bool]:
    """The AQE-final appendix, and whether every adaptive plan
    finalized."""
    qs = registry.all_queries()
    rows = []
    for name in HEAVY:
        with pins():
            rows.append({"query": name, **final_plan_audit(qs[name].spark_fn(spark, sf_dir))})
        print(json.dumps(rows[-1]), flush=True)
    survivors = [r["query"] for r in rows if r["smj_final"]]
    out = [
        "",
        "## Runtime appendix — post-execution (AQE-final) plans of the heavy family",
        "",
        "Static explain cannot show what AQE does once real statistics arrive.",
        f"The same run executes the ten heaviest queries at `{sf_dir}` and",
        "counts the **Final Plan** section of each executed plan",
        "(`plans.audit.final_plan_audit`; the Initial section is excluded —",
        "counting the whole string double-counts).  Gate: every static",
        "SortMergeJoin must convert to broadcast at runtime or be a documented",
        "bounded/large-large survivor (pytest twin:",
        "`test_plan_quality.py::test_aqe_final_plan_converts_smj`).",
        "",
        "| query | smj static→final | bhj final | AQE reads (coalesced/skewed) | runtime bloom |",
        "|---|---|---|---|---|",
        *(f"| {r['query']} | {r['smj_static']}→{r['smj_final']} "
          f"| {r['bhj_final']} | {r['aqe_reads']} "
          f"({r['aqe_coalesced']}/{r['aqe_skewed']}) "
          f"| {'yes' if r['bloom_runtime'] else '—'} |" for r in rows),
        "",
        f"Readings: {sum(r['smj_static'] for r in rows)} static SMJs across the",
        f"family, {sum(r['smj_final'] for r in rows)} in the final plans"
        f" (survivors: {', '.join(survivors) or 'none'}).  hybrid_rrf's",
        "SMJ is the FULL-OUTER merge of two TakeOrdered top-k lists (≤ 50 rows",
        "per side by construction — broadcast conversion doesn't apply to that",
        "full-outer shape and the inputs are corpus-size-independent, so the",
        "SMJ is correct at any scale).  A final frame with no exchanges (loop",
        "state materialized through checkpoint pins, as in `pagerank_neardup`)",
        "never gets an AdaptiveSparkPlan wrapper — too simple for AQE, not an",
        "AQE miss.  Skew splits are not expected at fixture scale (the skew",
        "probes live in tools/scaling_probe.py `--zipf-hot` / `--hot-cluster`",
        "and in the mechanism witnesses below).  The runtime bloom column is carried for",
        "evidence; at fixture scale the optimizer's size estimates stay under",
        "the injection threshold on this family (the TPC-H joins it targets",
        "are audited statically in the table above).",
    ]
    return out, all(r["is_final"] for r in rows)


def mechanism_section(spark) -> tuple[list[str], bool]:
    """The witness table and the skew walls, and whether both
    mechanisms fired."""
    bw = bloom_pruning_witness(spark)
    print(json.dumps({"bloom_witness": bw}), flush=True)
    sw = skew_split_witness(spark)
    print(json.dumps({"skew_witness": sw}), flush=True)
    walls = skew_walls(spark)
    print(json.dumps({"skew_walls": walls}), flush=True)
    out = [
        "",
        "### Synthetic mechanism witnesses — bloom + skew-split observed LIVE",
        "",
        "Fixture estimates stay under the bloom injection threshold and no",
        "fixture partition crosses the skew threshold, so the same run executes",
        "the two smallest shapes that cross (lowered) thresholds for the same",
        "reason real volumes cross the defaults at 100 TB, and reads the",
        "evidence out of the executed plan's SQL metrics",
        "(plans/runtime_witness.py; pytest twins:",
        "tests/test_runtime_mechanisms.py):",
        "",
        "| mechanism | fired | runtime evidence |",
        "|---|---|---|",
        f"| runtime bloom filter | {'yes' if bw['bloom_filter_nodes'] else 'NO'} | "
        f"{bw['rows_pruned']:,} of {bw['fact_rows_scanned']:,} fact rows pruned "
        f"before the shuffle ({bw['rows_after_bloom']:,} survive might_contain, "
        f"{bw['rows_joined']:,} join); wall on/off "
        f"{bw['wall_bloom_on_s']}/{bw['wall_bloom_off_s']} s |",
        f"| AQE skew-join split | {'yes' if sw['num_skewed_splits'] else 'NO'} | "
        f"{sw['num_skewed_partitions']} skewed partition(s) split into "
        f"{sw['num_skewed_splits']} reads (AQEShuffleRead metrics, final plan); "
        f"wall {sw['wall_s']} s |",
        "",
        "Bloom wall clock: locally the bloom-ON run can be *slower* — the",
        "probe's shuffle lands in page cache, so the bytes saved cost ~nothing",
        "here while the per-row `xxhash64` + `might_contain` evaluation and the",
        "blocking dim subquery are real CPU.  The transferable evidence is the",
        "PRUNING METRIC: at 100 TB the application side's shuffle is",
        "network+disk and most of it disappears; the creation-side cost stays",
        "proportional to the (small, filtered) dim.  This is why the session",
        "leaves `applicationSideScanSizeThreshold` at its 10 GB default instead",
        "of forcing bloom everywhere.",
        "",
        "### AQE skew split vs salting",
        "",
        f"The planted hot-key join ({walls['probe_rows']:,} probe rows, 40% on",
        f"one key, {walls['build_rows']:,} build keys, skew thresholds lowered",
        f"to {walls['threshold_mb']} MB), timed three ways on one pinned pair",
        "(`runtime_witness.skew_walls`):",
        "",
        "| variant | wall s |",
        "|---|---|",
        f"| sort-merge join, AQE skew split off | {walls['smj_skew_split_off_s']} |",
        f"| sort-merge join, AQE skew split on (fired: "
        f"{'yes' if walls['skew_split_fired'] else 'NO'}) | {walls['smj_skew_split_on_s']} |",
        f"| `salted_shuffle_join`, 8 salts | {walls['salted_shuffle_join_s']} |",
        "",
        "Decision rule (operators/skew.py): under AQE, do not salt a plain",
        "shuffle equi-join — the runtime split never pays the n_salts x",
        "build-side replication.  Salting still pays where AQE cannot split:",
        "aggregation skew (`salted_aggregate`) and non-equi/custom shapes.",
    ]
    fired = bw["bloom_filter_nodes"] and sw["num_skewed_splits"] and walls["skew_split_fired"]
    return out, bool(fired)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    out = static_section(spark, sf_dir)
    runtime, finalized = runtime_section(spark, sf_dir)
    mech, fired = mechanism_section(spark)
    out += runtime + mech
    ok = finalized and fired
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"PLANS.md written ({'ok' if ok else 'GATE FAILED'})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
