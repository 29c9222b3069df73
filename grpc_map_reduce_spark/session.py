"""SparkSession factory with a 100 TB-posture default configuration.

The reference hand-rolls its cluster lifecycle (spawning master /
mapper / reducer OS processes over fixed ports — main.go:39-68,
master.go:46-65).  On Spark the entire lifecycle is
``SparkSession.builder.getOrCreate()``; what we contribute instead is
a configuration tuned for scale-out execution:

  * AQE on (runtime partition coalescing, skew-join splitting) — the
    reference has no skew handling at all (README.md:180).
  * Sized shuffle partitioning instead of the reference's fixed
    nReducers (config.json:3-4).
  * Arrow-batched Python interop for the few operators that need
    pandas UDFs.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Tuned for the local[32] test harness; on a real cluster these come
# from spark-submit / cluster defaults and only the sql.* knobs matter.
DEFAULT_CONF: dict[str, str] = {
    # Adaptive execution: re-plan post-shuffle with real statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start from one shuffle partition per core locally; AQE coalesces
    # down when maps are small and splits skewed reduces.  At 100 TB
    # this would be O(2-3x total cores) instead.
    "spark.sql.shuffle.partitions": "32",
    # ...but a FIXED partition count is itself the classic scale
    # cliff: at the 625x probe tier the LSH rescore shuffle put
    # ~1.4 GiB through each of 32 sort tasks and spilled past the
    # host's disk (SURVEY §8, round 10).  Over-provision the INITIAL
    # post-shuffle partition count and let AQE coalesce small
    # shuffles back down (with the default parallelismFirst=true AQE
    # coalesces toward default parallelism, not all the way to the
    # 64 MiB advisory size — deliberate: one partition per core keeps
    # every core busy on small shuffles) — partition width then
    # tracks actual shuffle volume instead of a static conf.  This is
    # the pre-start FLOOR; get_spark() re-derives it from the live
    # executor fleet (16 x defaultParallelism, min 512) right after
    # session build, so the 625x fix travels to a real cluster
    # without anyone reading a comment.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Dimension tables (region/nation/customer/supplier/part at any
    # realistic SF ratio) should broadcast rather than shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB scan splits — the parquet-side analog of the reference's
    # one-file-one-map-task granularity (master.go:112-158), but sized
    # to survive 100 TB inputs.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Runtime bloom-filter join pruning: when a fact table sort-merge
    # joins a selectively-filtered side too big to broadcast, inject a
    # bloom filter built from the filtered side's join keys into the
    # fact scan — at 100 TB this skips the shuffle for every fact row
    # whose key cannot match (the dynamic-filtering analog of static
    # partition pruning).  Threshold lowered so fixture-scale plans
    # exercise the same path the big cluster relies on.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": str(
        64 * 1024 * 1024
    ),
    # Deliberately NOT set: spark.sql.adaptive.
    # maxShuffledHashJoinLocalMapThreshold (AQE SMJ->SHJ conversion).
    # Measured at the 625x probe tier (round 10): AQE coalesces the
    # build side up to the 64 MiB advisory size BEFORE the conversion
    # check, so every one of 32 concurrent tasks built a ~64 MiB map
    # output into a several-hundred-MiB UnsafeHashedRelation and the
    # execution pool threw "not enough memory to build hash map"
    # (the build path cannot spill).  initialPartitionNum above is
    # the fix that holds: SMJ over 512-way shuffles sorts ~90 MiB per
    # task in memory — no hash-build cliff, bounded sort spill.
    # Reliable-checkpoint retention: without this, every per-round
    # checkpoint() under spark.graft.reliableCheckpointDir lives until
    # the app exits — unbounded storage growth over a long job.  With
    # it, the ContextCleaner deletes a round's checkpoint files once
    # the frame is GC'd (i.e. when later rounds no longer reference
    # it).  Static conf, read at SparkContext construction — it must
    # live here, not in plans/checkpoint.py (too late to set there).
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # The ContextCleaner only reclaims dead shuffle files / checkpoint
    # blocks when a JVM GC runs, and the default periodic-GC interval
    # is 30 MINUTES — longer than any single query.  An iterative
    # chain that checkpoints its edge set (pagerank/CC over LSH
    # edges) turns its whole edge-generation shuffle into dead weight
    # mid-query, but the files sit on disk until the query ends: at
    # the 625x tier pagerank_neardup exhausted the probe host's disk
    # on exactly this (~46 GB of dead rescore shuffle + live
    # iteration shuffles).  2 minutes bounds the dead-file window;
    # the bench's between-query System.gc() is the same medicine at
    # a coarser grain.
    "spark.cleaner.periodicGC.interval": "2min",
    # Janino's compiled-class cache holds 100 entries by default, but
    # one pass of the 9-query perfbench `query_mix` generates 111
    # distinct classes and one pass of the 175-query inventory at
    # sf0.01 generates 2,086: with 100 slots every repeated query
    # recompiles (77 classes per warm query_mix pass) and the JIT then
    # compiles the fresh classes again.  4096 holds the whole
    # inventory with headroom; metaspace was ~200 MB after that
    # inventory pass.  Static SQL conf: read at session start only.
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # local[32] packs driver + all executor threads into ONE JVM whose
    # default heap is 1 GiB — 32 concurrent tasks' shuffle/agg buffers
    # plus 100+ queries of session state in 1 GiB is permanent GC
    # pressure (measured: late-session queries up to 8x slower before
    # the bench added periodic System.gc()).  8 GiB is still tiny
    # against the 128 GiB host but removes the artificial ceiling.
    # Only effective when the JVM starts through this factory; a
    # pre-existing session keeps its own heap (harmless no-op).
    "spark.driver.memory": "8g",
}


def get_spark(app_name: str = "grpc-map-reduce-spark", *, cpus: int | str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Create (or fetch) the SparkSession used by every operator.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then 32, matching the
    driver's bench harness.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER overrides the master URL — e.g.
    # `local-cluster[2,2,2048]` runs REAL separate executor JVMs with
    # netty shuffle transport (the multi-JVM evidence tier,
    # tests/test_multi_jvm.py), or a spark:// URL on a real cluster.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    # local-cluster[n,cores,mem]'s third argument sizes the WORKER,
    # not the executor JVM — executors silently run at the 1 GiB
    # spark.executor.memory default and a probe-scale broadcast OOMs
    # them (measured round 11: 268 MiB shingle-set broadcast killed
    # every 8192 MiB-worker executor with exit 52).  Derive executor
    # heap = worker memory so the multi-JVM tiers mean what their
    # master string says; an explicit extra_conf still wins.
    m = re.match(r"local-cluster\[\d+,\d+,(\d+)\]", master)
    if m and "spark.executor.memory" not in (extra_conf or {}):
        builder = builder.config("spark.executor.memory", f"{m.group(1)}m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Derive the AQE initial shuffle width from the LIVE executor
    # fleet (a runtime SQL conf, so it can be set post-start): 16 x
    # defaultParallelism, floored at the 512 the 625x tier validated.
    # A literal would silently under-provision the moment the fleet
    # grows past 32 cores — the exact way the round-10 static-width
    # cliff would come back on a real cluster.  An explicit
    # extra_conf value wins (probes pin widths deliberately).
    width_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    if width_key not in (extra_conf or {}):
        width = max(512, 16 * spark.sparkContext.defaultParallelism)
        spark.conf.set(width_key, str(width))
    return spark


@contextmanager
def sql_conf(spark: SparkSession, confs: dict[str, str]):
    """Set the runtime SQL ``confs`` for the block.  On exit, also by
    an exception, each key gets its previous value back, or is unset
    if it had none — a reused session keeps no override."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
