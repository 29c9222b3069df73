"""Streaming drift monitor — the continuous twin of
``operators.data_quality.source_quality_psi``.

A corpus that ingests continuously needs its drift signal maintained
continuously: each micro-batch of documents is reduced to its
``(source, bin, c)`` quality-histogram delta (the PSI's mergeable
sufficient statistic — plain counts, so per-batch histograms SUM into
the corpus histogram), written to an idempotent per-batch delta
directory (path = f(batch_id): a replayed batch overwrites itself —
the ``incremental_minute_rollup`` exactly-once contract), and the
serving view merges the deltas and runs the SAME PSI fold as the
batch operator (``psi_from_counts`` is literally shared code), so

    serve_source_psi(deltas of any replay) == source_quality_psi(all docs)

— which tests/test_streaming.py asserts on a multi-micro-batch
replay.  Compaction story is the rollup maintainer's: counts are
associative, so offline re-aggregation of deltas into one snapshot
is the same read path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.data_quality import (
    psi_from_counts,
    quality_bin_counts,
)


def read_docs_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """A documents-shaped parquet directory as a stream; cap files per
    trigger to force multi-batch replays in tests."""
    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def _bind_delta_to_checkpoint(delta_dir: str, checkpoint_dir: str) -> None:
    """Guard the exactly-once contract's blind spot (ADVICE r5):
    delta paths are keyed by batch_id, and batch ids RESTART AT ZERO
    under a fresh checkpoint — so re-pointing a new stream at an old
    ``delta_dir`` would silently overwrite earlier deltas and
    undercount the served PSI.  A ``_STREAM_BINDING.json`` marker
    (underscore-prefixed: invisible to parquet readers) pins the
    delta dir to its checkpoint; a mismatch raises with the retire-
    them-together instruction instead of corrupting the history.
    Only enforceable for local paths — on scheme-qualified storage
    (s3://, hdfs://) the contract is documentation: delta_dir and
    checkpoint_dir live and die together.
    """
    import json
    import os

    if "://" in delta_dir:
        return
    marker = os.path.join(delta_dir, "_STREAM_BINDING.json")
    binding = os.path.abspath(checkpoint_dir)
    if os.path.exists(marker):
        with open(marker) as f:
            prev = json.load(f)["checkpoint_dir"]
        if prev != binding:
            raise ValueError(
                f"delta_dir {delta_dir!r} is bound to checkpoint "
                f"{prev!r} but this stream uses {binding!r}: batch ids "
                "would restart at 0 and overwrite earlier deltas. "
                "Retire delta_dir and checkpoint_dir together (or point "
                "the new stream at a fresh delta_dir)."
            )
    else:
        os.makedirs(delta_dir, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"checkpoint_dir": binding}, f)


def incremental_quality_bins(docs: DataFrame, delta_dir: str,
                             checkpoint_dir: str) -> None:
    """Maintain the (source, bin, c) histogram under ``delta_dir``,
    one idempotent hive partition per micro-batch.  ``delta_dir`` is
    bound to ``checkpoint_dir`` on first use — see
    :func:`_bind_delta_to_checkpoint`."""
    _bind_delta_to_checkpoint(delta_dir, checkpoint_dir)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            quality_bin_counts(batch_df)
            # overwrite, not append: a replayed batch replaces its own
            # delta — exactly-once on a plain parquet sink
            .write.mode("overwrite")
            .parquet(f"{delta_dir}/batch_id={batch_id}")
        )

    (
        docs.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def serve_source_psi(spark: SparkSession, delta_dir: str) -> DataFrame:
    """The live PSI over every committed histogram delta — identical
    to the batch ``source_quality_psi`` of the same documents."""
    merged = (
        spark.read.parquet(delta_dir)
        .groupBy("source", "bin")
        .agg(F.sum("c").alias("c"))
    )
    return psi_from_counts(merged)
