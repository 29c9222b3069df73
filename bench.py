#!/usr/bin/env python3
"""Benchmark harness — runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "queries_cold": {...},
     "repeats": 3, "sf": 0.1}          <- full record, first
    {"metric": "...", "value": ..., "slowest": {...},
     "regressed": {...}, ...}           <- compact summary, LAST

Truncation discipline (round 7, re-measured round 12): the driver
keeps only the last ~8 KB of stdout and parses the FINAL line —
rounds 10/11 printed the per-query map only on line 1 and the
driver's PERF artifact lost every per-query/geomean/scaling signal
(``per_query: {}``, VERDICT r11 item 1).  The harness therefore ENDS
with one compact line (~6.5 KB at 175 queries, gated < 8 KB in
test_bench_contract.py) carrying the headline number, the FULL warm
per-query min map (``queries``), the top-10 warm mins, and warm
regressions (>= 1.3x AND >= 0.5 s slower) vs the previous full run
(snapshot at tools/bench_prev_sf*.json, rewritten after each full
inventory run, compared only when it was taken at the same
``defaultParallelism``) — so the driver's tail always parses, always names
the slow queries, and can rebuild the per-query round-over-round
table.  The full record (cold map, cold_minus_warm) stays on line 1.

Measurement discipline (round 5, re-armored round 11): per query,
ONE untimed-in-spirit warm-up execution (reported separately as
``queries_cold``) and then ``$SPARK_GRAFT_BENCH_REPEATS`` (default 2)
timed executions — repeated over ``$SPARK_GRAFT_BENCH_PASSES``
(default 2) FULL-INVENTORY passes, with the per-query reported number
the MIN across all timed runs of all passes.  Rationale, in two
layers:

  * round 5: a single cold measurement per query manufactured
    phantom 2–6× "regressions" in two consecutive rounds
    (BENCH_r03/r04) — first-run Python-worker spawn, JIT, and
    host-contention spikes all land on whichever query runs
    first/under load.
  * round 11: per-query medians of CONSECUTIVE runs are still
    load-correlated — a multi-minute host spike covers all repeats
    of several adjacent queries, and round 10's driver artifact
    flagged 10 "regressions" that were 100% this (same-code totals
    spanned 164.9–208.3 s, ±13%; VERDICT r10).  Timing noise on an
    otherwise-idle host is strictly ADDITIVE, so the min is the
    consistent estimator of plan cost, and separating the two
    samples of each query by a full inventory pass (~7 min apart)
    decorrelates them from any one spike.

``value`` is the sum of per-query mins; ``pass_totals`` (per-pass
sums) and ``spread_pct`` quantify the residual host noise so a
round-over-round delta inside the spread is never read as a
regression; ``loadavg`` records the 1-min load average at start/end.
The cold map preserves the first-run cost signal (codegen + Arrow
worker spin-up) without letting it masquerade as engine cost.

Each query is executed with a `noop` sink write so the full physical
plan runs (scan → shuffle → agg) without result materialization on
the driver — the timing measures the engine, not ``collect()``.
One SparkSession is reused across all queries (BASELINE.md: session
startup is the binding constant at these scales).
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from grpc_map_reduce_spark import get_spark, registry
from grpc_map_reduce_spark.plans.checkpoint import pins

#: Queries between JVM ``System.gc()`` calls.  A same-code A/B at
#: sf0.1 measured every-8 a geomean 1.051x FASTER per query than
#: every-1 — even starting under a worse 1-min load (4.18 vs 0.59) —
#: and it removes ~350 full-GC pauses (~2-4 min of wall) per inventory
#: run; the per-run pins scope already releases the pinned blocks the
#: old every-query cadence existed to flush.
GC_EVERY = 8


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(
        "grpc-map-reduce-spark-bench",
        # The status store retains per-execution metrics for 1000 SQL
        # executions by default — 125 AQE-heavy queries of listener
        # state is pure driver-heap ballast in a bench session.
        extra_conf={"spark.sql.ui.retainedExecutions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Absorb JVM/executor/Arrow-worker startup outside the timed
    # region so the first query isn't charged for session warmup.
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10).write.format(
        "noop"
    ).mode("overwrite").save()
    # ...and the Python/Arrow worker pool (pandas-UDF operators).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop_udf(s):
        return s

    spark.range(10_000).select(_noop_udf("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    # Optional subset (comma-separated names) — lets the contract test
    # exercise the full harness in seconds instead of minutes.  The
    # driver never sets this; the output shape is identical.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only_set = set(only.split(",")) if only else None

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    try:
        load_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_start = None

    names = [n for n in sorted(registry.all_queries())
             if only_set is None or n in only_set]
    qmap = registry.all_queries()
    all_runs: dict[str, list[float]] = {n: [] for n in names}
    pass_mins: list[dict[str, float]] = []
    cold: dict[str, float] = {}
    n_done = 0
    for p in range(passes):
        this_pass: dict[str, float] = {}
        for name in names:
            q = qmap[name]
            runs: list[float] = []
            # pass 0 run 0 = warm-up / cold number; later passes are
            # warm already (same JVM, codegen + page cache live).
            n_runs = (1 + repeats) if p == 0 else repeats
            for _rep in range(n_runs):
                # Label the jobs so the UI / event log attributes every
                # stage to its query (guide §1.5); thread-local, reset
                # after the timed region.
                # try/finally (ADVICE r11): a raising query must not
                # leak its stale label onto subsequent jobs.  The pins
                # scope releases the execution's pinned blocks when it
                # exits, after the timed region.
                spark.sparkContext.setJobDescription(
                    f"bench:{name}@pass{p}")
                try:
                    with pins():
                        t0 = time.perf_counter()
                        df = q.spark_fn(spark, sf_dir)
                        df.write.format("noop").mode("overwrite").save()
                        runs.append(time.perf_counter() - t0)
                finally:
                    spark.sparkContext.setJobDescription(None)
                # Untimed housekeeping between executions: drop the Python
                # references to finished plans so the JVM ContextCleaner can
                # release their broadcasts — without this, 80+ queries of
                # accumulated state inflate the later queries' timings by
                # up to 2× (GC pressure, not plan cost).
                df = None
                gc.collect()
            if p == 0:
                cold[name] = round(runs[0], 3)
                runs = runs[1:]
            all_runs[name].extend(runs)
            this_pass[name] = round(min(runs), 3)
            n_done += 1
            # Python gc does NOT collect the JVM: broadcasts, shuffle
            # state and RDD metadata pile up until a JVM GC lets the
            # ContextCleaner's weak-reference queue drain (its built-in
            # periodic GC runs every 30 min — never, in a 4-min bench).
            # One System.gc() per GC_EVERY queries keeps late queries
            # from paying earlier queries' garbage (measured: the same
            # query is up to ~8x slower 60 queries into the session
            # otherwise).
            if n_done % GC_EVERY == 0:
                spark.sparkContext._jvm.System.gc()
        pass_mins.append(this_pass)

    timings = {n: round(min(rs), 3) for n, rs in all_runs.items()}
    pass_totals = [round(sum(pm.values()), 3) for pm in pass_mins]
    spread_pct = (
        round((max(pass_totals) - min(pass_totals)) / min(pass_totals) * 100, 1)
        if len(pass_totals) > 1 and min(pass_totals) > 0 else 0.0
    )
    try:
        load_end = round(os.getloadavg()[0], 2)
    except OSError:
        load_end = None

    total = round(sum(timings.values()), 3)
    cold_total = round(sum(cold.values()), 3)
    print(json.dumps({
        "metric": (
            "total wall-clock for full query inventory, one reused "
            f"session; per query: warm-up then min over {passes} "
            f"passes x {repeats} timed runs "
            "(cold first-run times in queries_cold)"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        # First-run premium per query (round 6): codegen + plan
        # compilation + Arrow-worker spin-up.  Gated in
        # test_bench_contract.py — inventory cold total must stay
        # < 1.5x warm total, so a per-query cold-cost regression
        # (e.g. a codegen explosion like quality_auc's r5 HUGEINT
        # spike) can't hide behind the warm medians.
        "cold_minus_warm": {
            n: round(cold[n] - timings[n], 3) for n in timings
        },
        "cold_over_warm": (
            round(cold_total / total, 3) if total else None
        ),
        "repeats": repeats,
        "passes": passes,
        "pass_totals": pass_totals,
        "spread_pct": spread_pct,
        "loadavg": [load_start, load_end],
        "sf": sf,
    }))

    # Compact summary LAST (the only line guaranteed to survive the
    # driver's ~8 KB stdout tail): headline total, the FULL warm
    # per-query map (VERDICT r11 item 1 — the driver's per-query /
    # geomean / scaling artifacts parse THIS line, and rounds 10–11
    # lost all three to the map living only on line 1), the 10
    # slowest warm mins, and warm regressions >= 1.3x vs the
    # previous full-run snapshot.
    # The snapshot is rewritten only on full-inventory runs
    # so a subset smoke (SPARK_GRAFT_BENCH_ONLY) can't poison it.
    # Snapshot is PER-SF (the contract test's full sf0.001 inventory
    # run must not become the "previous run" for a driver sf0.1 run —
    # every query would trivially flag as a cross-sf regression), and
    # it is compared only at the width it was taken at: a snapshot
    # from local[32] says nothing about a local[4] run.
    prev_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools",
        f"bench_prev_sf{sf}.json",
    )
    cpus = spark.sparkContext.defaultParallelism
    regressed: dict[str, float] = {}
    try:
        with open(prev_path) as fh:
            snap = json.load(fh)
        prev = snap.get("queries", {}) if snap.get("cpus") == cpus else {}
        for n, warm in timings.items():
            p = prev.get(n)
            # Ratio alone amplifies jitter on sub-second queries: the
            # round-11 no-change rerun still flagged 4 names whose
            # absolute deltas were 0.13–0.47 s (min-of-4 wobble on
            # 0.1–0.9 s queries under varying host load).  Require a
            # 0.5 s absolute delta too — a regression that matters at
            # inventory scale (~160 s total) always clears it, and a
            # 0.2 s query must triple before it can flag.
            if p and p > 0.05 and warm / p >= 1.3 and warm - p >= 0.5:
                regressed[n] = round(warm / p, 2)
        # keep the compact line compact: worst 10 only
        regressed = dict(
            sorted(regressed.items(), key=lambda kv: -kv[1])[:10]
        )
    except (OSError, ValueError):
        pass
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": (
            "sum of per-query warm mins over "
            f"{passes} passes (cold map on line 1)"
        ),
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "repeats": repeats,
        "passes": passes,
        "pass_totals": pass_totals,
        "spread_pct": spread_pct,
        "loadavg": [load_start, load_end],
        "cold_over_warm": round(cold_total / total, 3) if total else None,
        "queries": timings,
        "slowest": slowest,
        "regressed": regressed,
    }))
    if only_set is None and timings:
        try:
            with open(prev_path, "w") as fh:
                json.dump({"sf": sf, "cpus": cpus, "queries": timings}, fh)
        except OSError:
            pass
    spark.stop()


if __name__ == "__main__":
    main()
