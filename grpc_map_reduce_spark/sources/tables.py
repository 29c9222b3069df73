"""Parquet fixture sources (TESTDATA.md / FIXTURES.md).

The reference's only source is a directory scan that ships whole text
files by value over gRPC (main.go:94-118, master.go:71-90).  Spark
reads straight from storage with column pruning and predicate
pushdown, so the "ingest/staging" operators (SURVEY.md §2 O1/O2)
reduce to ``spark.read.parquet`` here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables small enough (relative to the fact tables at any SF) that a
#: join against them should broadcast, never shuffle.
DIMENSION_TABLES: frozenset[str] = frozenset(
    {"region", "nation", "customer", "supplier", "part"}
)


#: SQL confs whose values change the schema Spark infers from parquet
#: footers: the ones ``ParquetToSparkSchemaConverter`` reads, plus
#: ``mergeSchema``, which decides which footers are read.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

#: path -> (fingerprint, inferred schema); see ``table``.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    The inferred schema is cached per path, so only the first call
    runs Spark's one-task schema-inference job (``mergeSchemasInParallel``)
    and later calls read with ``spark.read.schema(s)``.  The cache
    keys on the path, the length and modification time of every file
    under it (one Hadoop ``FileSystem.listFiles`` call, so it works on
    any filesystem Spark reads), and the values of the confs in
    ``_SCHEMA_CONFS``: a rewritten file or a changed conf infers
    again.  It holds the ``StructType``, never the DataFrame, because
    every call must return a fresh relation with its own attribute
    ids: a query that reads one table twice (q21 reads ``lineitem``
    twice) self-joins on them.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _events_table(spark, sf_dir)
    return _parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema cache of ``table``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    files = fs.listFiles(jpath, True)
    stats = []
    while files.hasNext():
        st = files.next()
        stats.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    fingerprint = (tuple(stats), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == fingerprint:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (fingerprint, df.schema)
    return df


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure ``df`` enters heavy per-row compute with at least one
    partition per core.

    The fixture parquet ships as SINGLE-row-group files, so every scan
    collapses to one split and the first stage of a map-only operator
    runs on one core — a harness artifact (measured: 4.5M bounded
    levenshteins serialized onto one thread), not a property of the
    operator.  At production scale the scan already carries ≥ cores
    splits and this returns ``df`` unchanged — NO shuffle; below that
    it inserts one round-robin (or hash, if ``cols`` are given)
    exchange of the raw scan, i.e. the same distribution a properly
    row-grouped file would have given the scan for free.

    Use at the head of CPU-heavy map-only / explode-first operators
    only; aggregation-first plans parallelize at their own shuffle.
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    # .rdd compiles the physical plan to read its partitioning but
    # launches no job; for a file scan this is the split count.
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p, *cols) if cols else df.repartition(p)


def _events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(NANOS) — which
    Spark's vectorized reader only accepts as a raw int64 via the
    legacy conf — and plain TIMESTAMP(MICROS).  Detect which layout
    this fixture uses and normalize to a microsecond timestamp; the
    nanos→micros truncation matches DuckDB's ``CAST(ts AS TIMESTAMP)``
    so oracles agree either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _parquet(spark, os.path.join(sf_dir, "events.parquet"))
    if isinstance(df.schema["ts"].dataType, LongType):
        # `div` (integer division) — `/` would route int64 nanos
        # through a double and round away microseconds above 2^53.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # TIMESTAMP(MICROS) without tz reads as TIMESTAMP_NTZ; cast to
        # LTZ (a no-op on wall-clock values — session tz is pinned to
        # UTC in session.py) so watermarks/windows accept it and the
        # type matches what timestamp_micros produced on old fixtures.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the fixture tables into a dict of lazy DataFrames."""
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}
