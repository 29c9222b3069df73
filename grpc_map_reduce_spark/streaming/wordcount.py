"""The reference's flagship job as a stream: wordcount over a text
directory that keeps growing — the streaming-ingest form of ``main
client <dir> wc`` (main.go:82-89).

The reference re-runs the whole batch pipeline per corpus drop; here
the SAME tokenize→count plan runs under Structured Streaming, so each
micro-batch shuffles only the new files' partial counts into the
aggregation state (complete-mode output = the full up-to-date word
table).  State is O(vocabulary) — bounded, and exactly what the batch
job would shuffle anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words


def read_text_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """Line-granularity text-file stream (column ``value``)."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(input_dir)


def streaming_wordcount(lines: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.wordcount.wordcount`` — identical
    tokenize→explode→count plan under the micro-batch engine, with
    reference-parity tokenization (the CLI contract)."""
    w = words(F.col("value"), lowercase=False, unicode_letters=True)
    return (
        lines.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
