#!/usr/bin/env python3
"""AQE-vs-salting decision probe (VERDICT r8 item 7).

``skew.py`` ships content-salted operators; the session also enables
AQE skew-join splitting.  Which one should a 100 TB job reach for?
This probe plants a hot key in a shuffle equi-join at volume and
measures three configurations of the SAME join:

  * plain sort-merge join, AQE skew splitting OFF  (the baseline hurt)
  * plain sort-merge join, AQE skew splitting ON   (the free fix)
  * ``salted_shuffle_join``                         (the manual fix)

The skew thresholds are lowered so the runtime split fires at probe
volume (spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes
defaults to 256 MB — at 100 TB the DEFAULTS fire on real skew; the
probe's data is just smaller).  Each row reports wall-clock and, for
the AQE runs, whether the final plan actually contains skew-split
shuffle reads (``AQEShuffleRead ... skewed``) — a probe that never
fired would be vacuous.

Decision rule this probe documents (also in skew.py's docstring):
under AQE, do NOT salt plain shuffle equi-joins — the runtime split
gets within noise of the salted plan without the build-side
replication cost.  Salting still pays where AQE cannot split:
aggregation skew (``salted_aggregate`` — AQE splits join partitions,
never aggregation groups) and non-equi/custom shapes.

Usage: python tools/skew_probe.py [--mult 25] [--hot-frac 0.4]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grpc_map_reduce_spark import get_spark
from grpc_map_reduce_spark.plans.checkpoint import pin


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=25,
                    help="probe rows = mult * 800k (25 -> 20M)")
    ap.add_argument("--hot-frac", type=float, default=0.4)
    ap.add_argument("--salts", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from grpc_map_reduce_spark.operators.skew import salted_shuffle_join

    spark = get_spark("skew-probe", extra_conf={
        # let the runtime split fire at probe volume; at 100 TB the
        # 256 MB default fires on real skew without this
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            str(8 * 1024 * 1024),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(8 * 1024 * 1024),
    })
    spark.sparkContext.setLogLevel("ERROR")

    n_probe = args.mult * 800_000
    # sized so the x-salts replicated build still hash-maps within a
    # task's execution memory: the first cut (4M keys x 8 salts) OOM'd
    # the shuffled-hash build — ITSELF a probe lesson (salting pays a
    # real build-replication memory cost AQE never pays), recorded in
    # the summary as salting_build_cost_note
    n_build = 1_500_000
    # hot key 0 takes hot_frac of the probe side; the rest is uniform
    # over the build keyspace.  ~56-byte payload rows so partition
    # bytes are meaningful.
    probe = spark.range(n_probe).select(
        F.when(F.rand(7) < args.hot_frac, F.lit(0))
        .otherwise((F.rand(11) * n_build).cast("long")).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    build = spark.range(n_build).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("dim"),
    )
    # pin both inputs so every variant reads identical bytes
    probe = pin(probe, eager=True)
    build = pin(build, eager=True)

    def run(df, label):
        # collect(), not a noop write: the aggregate returns ONE row,
        # and a write clones the plan into its own QueryExecution —
        # the executedPlan we inspect afterwards would never have
        # finalized (isFinalPlan=false, found the hard way).
        t0 = time.perf_counter()
        df.collect()
        wall = round(time.perf_counter() - t0, 3)
        return {"variant": label, "wall_s": wall}

    # the aggregate touches BOTH payload columns so neither side gets
    # pruned to bare keys: a pruned hot partition is a run of
    # identical 8-byte keys that lz4 compresses to ~nothing, and AQE
    # skew detection is COMPRESSED-shuffle-bytes-based — the skew
    # became invisible and the split never fired (first version of
    # this probe; a lesson worth keeping)
    agg = lambda j: j.groupBy().agg(  # noqa: E731 — tiny result, full join runs
        F.count("*").alias("n"), F.max(F.length("dim")).alias("w"),
        F.max(F.length("payload")).alias("p"))

    # untimed warm-up so the first variant isn't charged for codegen
    # and shuffle-writer spin-up
    agg(probe.limit(100_000).join(build, "k")).collect()

    results = []
    # 1. plain SMJ, skew splitting OFF
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    plain_off = agg(probe.hint("merge").join(build, "k"))
    results.append(run(plain_off, "smj_aqe_skew_off"))

    # 2. plain SMJ, skew splitting ON — capture whether it fired
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    j = probe.hint("merge").join(build, "k")
    plain_on = agg(j)
    rec = run(plain_on, "smj_aqe_skew_on")
    final = plain_on._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==", 1)[0]
    rec["skew_split_fired"] = "skewed" in final
    results.append(rec)

    # 3. manual salting (shuffle-hash + build replicated per salt)
    salted = agg(salted_shuffle_join(probe, build, "k", n_salts=args.salts))
    results.append(run(salted, "salted_shuffle_join"))

    for r in results:
        print(json.dumps(r), flush=True)
    walls = {r["variant"]: r["wall_s"] for r in results}
    print(json.dumps({
        "skew_probe_summary": {
            "mult": args.mult, "hot_frac": args.hot_frac,
            "probe_rows": n_probe, "build_rows": n_build,
            "aqe_gain": round(walls["smj_aqe_skew_off"]
                              / walls["smj_aqe_skew_on"], 2),
            "salting_vs_aqe": round(walls["salted_shuffle_join"]
                                    / walls["smj_aqe_skew_on"], 2),
            "skew_split_fired": results[1].get("skew_split_fired"),
            "salting_build_cost_note": (
                "salting replicates the build side n_salts x; at 4M "
                "keys x 8 salts the per-task hash-map build OOM'd a "
                "task's execution memory — a cost the AQE split never "
                "pays"),
        }
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
