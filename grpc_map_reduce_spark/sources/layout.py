"""Storage layout for scale: bucketing and partitioned writes.

At 100 TB the dominant cost of a fact-fact join is shuffling both
sides on the join key — unless the data was WRITTEN co-located.
These helpers own that layout contract:

  * ``write_bucketed`` — hash-bucket + sort by the join/agg key at
    write time.  Two tables bucketed the same way join with ZERO
    exchanges (Spark reads bucket i of A and bucket i of B into the
    same task); aggregations on the bucket key skip their shuffle
    too.  The write itself pays one shuffle — amortized over every
    downstream join against the layout.
  * ``write_date_partitioned`` — hive-style directory partitioning
    on a date column.  Date-range predicates prune entire
    directories at planning time (``PartitionFilters`` in the scan,
    0 files read outside the range) — the storage analog of parquet
    row-group pushdown, and the difference between scanning 100 TB
    and scanning one day.

Bucketed tables go through the session catalog (``saveAsTable``) —
bucket metadata lives in the table definition, which is what lets
the planner trust the layout.  Plan-level guarantees are asserted in
``tests/test_layout.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from grpc_map_reduce_spark.plans.checkpoint import pin
from grpc_map_reduce_spark.session import sql_conf


def write_bucketed(df: DataFrame, table_name: str, key: str,
                   n_buckets: int = 8) -> None:
    """Persist ``df`` hash-bucketed and sorted by ``key``."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key.

    With matching bucket specs the physical plan has no Exchange on
    either side — assert via ``plans.audit.explain_str``.
    """
    return spark.table(left_table).join(spark.table(right_table), key)


def write_date_partitioned(df: DataFrame, path: str, date_col: str) -> None:
    """Write hive-style ``{path}/{date_col}=YYYY-MM-DD/...`` layout."""
    df.write.mode("overwrite").partitionBy(date_col).parquet(path)


def compact(spark: SparkSession, path: str,
            target_bytes: int = 128 * 1024 * 1024) -> tuple[int, int]:
    """Rewrite a parquet directory into ~``target_bytes`` files.

    Streaming ingest and partition-granular upserts both strand small
    files; at 100 TB the cost is real — every scan pays one task +
    footer read per file, and tiny row groups defeat min/max skipping.
    Compaction = read, repartition to ceil(bytes/target), rewrite.
    The frame is localCheckpoint-ed because the write overwrites its
    own input (same contract as :func:`upsert_date_partitions`).
    Returns (files_before, files_after).
    """
    import glob

    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes))  # ceil
    df = pin(spark.read.parquet(path).repartition(n_out), eager=True)
    df.write.mode("overwrite").parquet(path)
    return len(files), len(glob.glob(f"{path}/**/*.parquet", recursive=True))


def upsert_date_partitions(spark: SparkSession, path: str, updates: DataFrame,
                           date_col: str, key_col: str) -> None:
    """MERGE (upsert) into a date-partitioned parquet layout at
    partition granularity — the maintenance op a table format's
    ``MERGE INTO`` compiles to, done with plain Spark primitives:

      1. list the partitions ``updates`` touches (O(affected days)
         scalars to the driver — bounded by the delta, never by the
         table);
      2. read ONLY those partitions (the ``isin`` filter is a
         partition filter — planning-time pruning, untouched days are
         never scanned);
      3. anti-join out the keys being replaced, union the updates;
      4. dynamic-partition-overwrite: Spark rewrites exactly the
         partitions present in the result, leaving every other
         directory byte-identical.

    The merged frame is localCheckpoint-ed before the write because
    the write overwrites files the plan is lazily reading — without
    materialization Spark would delete its own input mid-job.  On a
    cluster, checkpoint to durable storage instead.
    """
    # scope the dynamic-overwrite mode to this write: a leaked
    # "dynamic" would silently turn every later plain
    # mode("overwrite").partitionBy(...) in the session into a
    # partition-granular overwrite instead of a full-table one
    with sql_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        days = [r[0] for r in updates.select(date_col).distinct().collect()]
        existing = spark.read.parquet(path).filter(F.col(date_col).isin(days))
        merged = pin(
            existing.join(updates.select(key_col), key_col, "left_anti")
            .unionByName(updates.select(*existing.columns)),
            eager=True,
        )
        merged.write.mode("overwrite").partitionBy(date_col).parquet(path)


# --------------------------------------------------------------------------
# Z-order clustering: multi-dimensional data skipping.
#
# Directory partitioning and linear sort each prune on ONE column; a
# scan filtered on a *different* column reads everything.  Z-ordering
# interleaves the bits of several columns into one sort key, so rows
# close in the multi-dimensional space land in the same files — every
# file then covers a small hyper-rectangle, its parquet min/max stats
# are narrow on EVERY z-column, and predicates on ANY of them skip
# row groups / files.  (Same layout contract as Delta/Iceberg
# ``OPTIMIZE ZORDER BY``; with a plain parquet directory the pruning
# happens at row-group level via pushed filters, with a table format
# the identical layout also drives file-level skipping.)


#: Bits per dimension of the z-curve key.
Z_BITS = 16


def z_value(cols: list[Column | str]) -> Column:
    """Interleave the low ``Z_BITS`` bits of each (already range-scaled,
    non-negative) column into one z-curve key — pure JVM bit math, one
    whole-stage-codegen expression, no UDF.  Callers scale raw values
    into ``[0, 2**Z_BITS)`` first (:func:`scale_to_bits`) so the HIGH
    bits of each dimension — the ones that decide locality — survive.
    """
    cs = [F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
          for c in cols]
    z = F.lit(0).cast("long")
    for b in range(Z_BITS):
        for i, c in enumerate(cs):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)),
                    b * len(cs) + i,
                )
            )
    return z


def scale_to_bits(col: Column | str, lo: float, hi: float) -> Column:
    """Affinely map ``[lo, hi]`` into the integer grid ``[0, 2**Z_BITS)``
    (values outside clamp to the edges)."""
    c = F.col(col) if isinstance(col, str) else col
    top = (1 << Z_BITS) - 1
    scaled = ((c - F.lit(lo)) * F.lit(float(top)) / F.lit(float(hi - lo)))
    return F.least(
        F.greatest(F.round(scaled).cast("long"), F.lit(0)), F.lit(top)
    )


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   n_files: int = 16) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    z-curve over ``cols``.

    Each column's (min, max) for bit scaling comes from one
    O(1)-to-driver aggregate (two scalars per column).  The write
    shuffles once
    (``repartitionByRange`` on the z key — contiguous z ranges per
    file, the property that makes the per-file bounding boxes tight).
    """
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    row = df.agg(*aggs).first()
    z = z_value([scale_to_bits(c, row[f"__lo_{c}"], row[f"__hi_{c}"])
                 for c in cols])
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
