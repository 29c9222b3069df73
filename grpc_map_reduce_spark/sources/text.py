"""Raw text-corpus ingestion — parity with the reference's native input.

The reference consumes a directory of UTF-8 text files, one map task
per file (master.go:112-158), with the file *name* carried along as
the inverted-index document id (mapper.go:191-203).  The Spark-native
equivalent keeps file granularity without ever buffering files on a
coordinator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_corpus(spark: SparkSession, path: str, *, whole_files: bool = True) -> DataFrame:
    """Read a directory of text files as ``(source, text)`` rows, with
    ``source`` the file's bare on-disk name.

    ``whole_files=True`` matches the reference's one-row-per-file
    granularity through the JVM-native ``binaryFile`` source: no
    Python worker and no schema-inference job.  A file of zero bytes
    yields no row; it carries no tokens, so ``wc``/``ii`` output is
    the same as if it had one.  ``False`` reads line-per-row (better
    scan parallelism for very large single files — the reference's
    >5 MB failure mode, README.md:158, does not exist here).
    """
    if whole_files:
        # `path` is the decoded on-disk path; strip the directory the
        # way invIndexReduce strips the staging prefix "input_"
        # (reducer.go:181).
        return spark.read.format("binaryFile").load(path).select(
            F.element_at(F.split("path", "/"), -1).alias("source"),
            F.col("content").cast("string").alias("text"),
        )
    # `_metadata.file_name` is URI-encoded ("%20" for a space, "%25"
    # for "%").  `url_decode` is form decoding, which would also turn
    # a literal "+" into a space, so "+" is escaped first.
    name = F.url_decode(F.regexp_replace("_metadata.file_name", r"\+", "%2B"))
    return spark.read.text(path).select(name.alias("source"), F.col("value").alias("text"))
