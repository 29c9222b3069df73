"""CSV / JSON-lines ingest and export — interchange formats around the
parquet-native core.

The reference consumes plain text only (SURVEY.md §2.1 "File
formats"); a production corpus arrives as whatever upstream emits —
CSV dumps, JSONL crawl shards — and lands in parquet for everything
downstream.  These helpers encode the two rules that matter at 100 TB:

  * **Always pass an explicit schema.**  Schema inference is a full
    extra pass over the data before the real read even starts (and
    for JSON it samples types per file, so two shards can disagree).
    Every reader here REQUIRES a DDL schema string.
  * **Text formats are a landing zone, not a query target.**  CSV and
    JSON rows are parsed per-read, carry no column statistics, and
    support no predicate/column pushdown beyond partition pruning —
    `to_parquet` is the first pipeline stage, after which every scan
    gets row-group pruning and pushed filters for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read headed CSV with an explicit DDL ``schema`` (no inference
    pass).  ``FAILFAST`` surfaces malformed rows immediately."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read newline-delimited JSON with an explicit DDL ``schema``.

    One JSON object per line is the only splittable JSON layout —
    multi-line documents force one task per file.
    """
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)


def to_parquet(df: DataFrame, path: str, *,
               partition_by: list[str] | None = None) -> None:
    """Land an interchange-format read as parquet — the first stage of
    any ingest pipeline (see module docstring).  ``partition_by``
    controls directory-level partition pruning for downstream scans."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """Export as headed CSV part files (one per partition, written in
    parallel by executors — no driver collect)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """Export as newline-delimited JSON part files."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC — the other columnar interchange format.  Unlike the
    text formats above, ORC carries its own schema and column
    statistics, so no DDL string is required and scans get predicate
    pushdown + column pruning exactly like parquet."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Export as ORC part files (columnar, stats-bearing — a query
    target in its own right, not just a landing zone)."""
    df.write.mode("overwrite").orc(path)
