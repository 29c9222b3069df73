"""Witness the two E5 runtime mechanisms actually FIRING (VERDICT r9
item 1): runtime bloom-filter join pruning and AQE skew-join splits.

`PLANS.md`'s runtime appendix audits the heavy registered family, but
at fixture scale the optimizer's size estimates never cross the bloom
injection threshold and no shuffle partition crosses the skew
threshold — so those two columns had never been observed non-zero in
a captured FINAL plan.  This module builds the two smallest shapes
that make each mechanism fire FOR THE SAME REASON it fires at 100 TB
(thresholds are lowered so probe-scale data crosses them; at real
scale the DEFAULTS cross on real volumes), executes them, and reads
the evidence out of the executed plan's own SQL metrics:

* **bloom**: a fact⋈selectively-filtered-dim sort-merge join with
  both sides too big to broadcast — `InjectRuntimeFilter` plants a
  `bloom_filter_agg` subquery on the dim side and a `might_contain`
  filter above the fact scan.  Witness = the `might_contain` Filter
  node in the FINAL plan plus its `numOutputRows` metric vs the rows
  scanned: the ROWS PRUNED BEFORE THE SHUFFLE.
* **skew**: the :func:`planted_pair` hot-key equi-join under AQE skew
  splitting — witness = `AQEShuffleRead` nodes whose
  `numSkewedPartitions` / `numSkewedSplits` metrics are > 0 in the
  executed plan.  :func:`skew_walls` times the same join with the
  split off, on, and salted instead (the decision rule in
  ``operators/skew.py``).

Both witnesses are pytest-gated (tests/test_runtime_mechanisms.py)
and surfaced in PLANS.md's runtime appendix by `tools/plan_report.py`.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.skew import salted_shuffle_join
from grpc_map_reduce_spark.plans.audit import (
    executed_plan,
    final_plan,
    iter_executed_nodes,
    node_metrics,
)
from grpc_map_reduce_spark.plans.checkpoint import pin, pins
from grpc_map_reduce_spark.session import sql_conf


def _wall(df: DataFrame) -> tuple[list, float]:
    """``df.collect()`` and its wall seconds.  collect(), not a noop
    write: a write plans its own copy, and the executed plan read
    afterwards would never have finalized."""
    t0 = time.perf_counter()
    rows = df.collect()
    return rows, round(time.perf_counter() - t0, 3)


def _join_stats(joined: DataFrame) -> DataFrame:
    """One row over a join of a ``payload`` side and a ``dim`` side.
    Both payload columns are carried through the aggregate: AQE skew
    detection reads COMPRESSED map-output sizes, and a pruned hot
    partition of identical 8-byte keys lz4-compresses to ~nothing and
    evades it (r8 probe lesson)."""
    return joined.groupBy().agg(
        F.count("*").alias("n"),
        F.max(F.length("payload")).alias("p"),
        F.max(F.length("dim")).alias("d"),
    )


def bloom_pruning_witness(
    spark: SparkSession, n_fact: int = 20_000_000, n_dim: int = 200_000,
    sel_mod: int = 97,
) -> dict:
    """Run the bloom shape and return the observed runtime evidence.

    The dim keeps 1/``sel_mod`` of its keys behind a selective
    predicate; the fact is ``n_fact`` rows over the dim keyspace.
    Broadcast is disabled (at 100 TB neither side fits — that is
    exactly when the bloom pays) and the application-side scan
    threshold is lowered so probe-scale estimates cross it.  Returns
    rows scanned / rows surviving `might_contain` / rows pruned, and
    a with-vs-without wall comparison on identical inputs.
    """
    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    with sql_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        bloom_key: "true",
        # default 10 GB: the witness's whole point is crossing it with
        # probe-scale stats (Range leaf stats are exact: 8 B/row)
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": str(8 * 1024 * 1024),
    }):
        fact = spark.range(n_fact).select(
            (F.col("id") % n_dim).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        # NOT localCheckpoint-ed: LogicalRDD stats default to
        # spark.sql.defaultSizeInBytes (Long.Max), which fails the
        # CREATION-side `< creationSideThreshold` check — the witness
        # needs real leaf stats, so both sides stay Range-rooted.
        # The selective predicate is on a NON-key column: a key-based
        # predicate (e.g. k % m == 0) gets INFERRED across the join
        # onto the fact side as a static filter (constraint
        # propagation), which would pre-prune the fact and leave the
        # bloom nothing to witness — exactly the dim shape (filter on
        # an attribute, join on the surrogate key) the mechanism
        # targets at 100 TB.
        dim = spark.range(n_dim).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("dim"),
        ).filter(
            (F.conv(F.substring("dim", 1, 4), 16, 10).cast("long")
             % sel_mod) == 0
        )

        # untimed warm-up (codegen + shuffle-writer spin-up) so the
        # first timed variant isn't charged for session cold-start
        fact.limit(100_000).join(dim, "k").groupBy().agg(
            F.count("*")).collect()

        q = _join_stats(fact.join(dim, "k"))
        rows, wall_bloom = _wall(q)
        bloom_filters = [
            n for n in iter_executed_nodes(executed_plan(q))
            if n.getClass().getSimpleName() == "FilterExec"
            and "might_contain" in n.condition().toString()
        ]
        rows_after = sum(
            int(node_metrics(n).get("numOutputRows", 0))
            for n in bloom_filters
        )

        # identical query, bloom off — the pruning's wall-clock value
        spark.conf.set(bloom_key, "false")
        _, wall_off = _wall(_join_stats(fact.join(dim, "k")))

        return {
            "bloom_filter_nodes": len(bloom_filters),
            "might_contain_in_final": "might_contain" in final_plan(q),
            "fact_rows_scanned": n_fact,
            "rows_after_bloom": rows_after,
            "rows_pruned": n_fact - rows_after if bloom_filters else 0,
            "rows_joined": rows[0]["n"],
            "wall_bloom_on_s": wall_bloom,
            "wall_bloom_off_s": wall_off,
        }


def planted_pair(spark: SparkSession, n_probe: int,
                 n_build: int) -> tuple[DataFrame, DataFrame]:
    """The planted hot-key join inputs: ``n_probe`` probe rows, 40% of
    them on key 0 and the rest uniform over the ``n_build`` build keys.
    Each row carries an md5 ``payload`` / ``dim`` string so partition
    bytes are meaningful."""
    probe = spark.range(n_probe).select(
        F.when(F.rand(7) < 0.4, F.lit(0))
        .otherwise((F.rand(11) * n_build).cast("long")).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    build = spark.range(n_build).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("dim"),
    )
    return probe, build


def _skew_conf(threshold_mb: int) -> dict[str, str]:
    """AQE skew splitting with its thresholds lowered to
    ``threshold_mb`` so probe volume crosses them — at 100 TB the
    256 MB default crosses on real skew."""
    mb = str(threshold_mb * 1024 * 1024)
    return {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": mb,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": mb,
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }


def skew_split_witness(
    spark: SparkSession, n_probe: int = 8_000_000, n_build: int = 1_000_000,
    threshold_mb: int = 4,
) -> dict:
    """Run the planted-hot-key sort-merge join under AQE skew
    splitting and return the executed plan's skew metrics: the RUNTIME
    ARTIFACT the r9 audit had never observed, `AQEShuffleRead` metrics
    `numSkewedPartitions` / `numSkewedSplits` > 0 in a final plan."""
    with sql_conf(spark, _skew_conf(threshold_mb)):
        probe, build = planted_pair(spark, n_probe, n_build)
        q = _join_stats(probe.hint("merge").join(build, "k"))
        _, wall = _wall(q)

        skewed_parts = skewed_splits = aqe_reads = 0
        for n in iter_executed_nodes(executed_plan(q)):
            if n.getClass().getSimpleName() == "AQEShuffleReadExec":
                aqe_reads += 1
                m = node_metrics(n)
                skewed_parts += int(m.get("numSkewedPartitions", 0))
                skewed_splits += int(m.get("numSkewedSplits", 0))
        return {
            "aqe_reads": aqe_reads,
            "num_skewed_partitions": skewed_parts,
            "num_skewed_splits": skewed_splits,
            "skewed_in_final_str": "skewed" in final_plan(q),
            "wall_s": wall,
        }


#: Planted-pair volume of :func:`skew_walls`: 20 M probe rows over
#: 1.5 M build keys, skew thresholds lowered to 8 MB.  The build side
#: must keep the 8x replicated build hash map within a task's execution
#: memory: 4 M keys x 8 salts OOM'd it (round 9) — a cost of salting
#: the AQE split never pays.
WALLS_PROBE_ROWS = 20_000_000
WALLS_BUILD_ROWS = 1_500_000
WALLS_THRESHOLD_MB = 8


def skew_walls(spark: SparkSession) -> dict:
    """Wall seconds of the planted-hot-key join three ways, on ONE
    pinned :func:`planted_pair` so every variant reads identical
    bytes: sort-merge with the AQE skew split off, with it on (and
    whether it fired), and ``salted_shuffle_join`` with 8 salts."""
    skew_key = "spark.sql.adaptive.skewJoin.enabled"
    with sql_conf(spark, _skew_conf(WALLS_THRESHOLD_MB)), pins():
        probe, build = (pin(side, eager=True) for side in planted_pair(
            spark, WALLS_PROBE_ROWS, WALLS_BUILD_ROWS))
        # untimed warm-up so the first variant isn't charged for
        # codegen and shuffle-writer spin-up
        _join_stats(probe.limit(100_000).join(build, "k")).collect()

        spark.conf.set(skew_key, "false")
        _, off = _wall(_join_stats(probe.hint("merge").join(build, "k")))
        spark.conf.set(skew_key, "true")
        split = _join_stats(probe.hint("merge").join(build, "k"))
        _, on = _wall(split)
        _, salted = _wall(_join_stats(
            salted_shuffle_join(probe, build, "k", n_salts=8)))
        return {
            "probe_rows": WALLS_PROBE_ROWS,
            "build_rows": WALLS_BUILD_ROWS,
            "threshold_mb": WALLS_THRESHOLD_MB,
            "smj_skew_split_off_s": off,
            "smj_skew_split_on_s": on,
            "salted_shuffle_join_s": salted,
            "skew_split_fired": "skewed" in final_plan(split),
        }
