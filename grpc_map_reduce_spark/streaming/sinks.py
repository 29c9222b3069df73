"""Streaming sinks: exactly-once parquet ingest.

The reference's sink story is a one-shot text collection at job end
(master.go:198-229); a production ingest pipeline instead runs
CONTINUOUSLY and must survive restarts without dropping or
double-writing batches.  Structured Streaming's file sink gives
exactly-once for free: the checkpoint directory records which source
files each committed micro-batch consumed, and the sink's transaction
log records which output files each batch produced — a restarted
query resumes from the last committed batch and readers ignore
uncommitted files.

``ingest_to_parquet`` is the canonical raw-ingest hop (the "bronze"
step): stream in, optionally transform, append parquet partitions
out.  Downstream batch operators (everything in ``operators/``) read
the growing parquet directory with the normal ``spark.read`` path —
the handoff point between the streaming and batch halves of the
pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.money import cents


def ingest_to_parquet(df: DataFrame, output_dir: str, checkpoint_dir: str,
                      partition_by: str | None = None) -> None:
    """Append-mode parquet ingest with exactly-once checkpointing.

    An ``availableNow`` trigger drains the current backlog and stops
    (the batch-replay mode).  ``partition_by`` writes hive-style directories so
    downstream readers get partition pruning (sources/layout.py).
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.trigger(availableNow=True).start().awaitTermination()


# --------------------------------------------------------------------------
# Incremental continuous aggregate: the streaming maintainer of the
# batch minute-grain rollup (operators.events.cascading_rollup).
#
# Each micro-batch is reduced to its minute-grain partial aggregate
# and written to a per-batch delta directory whose PATH IS A PURE
# FUNCTION OF THE BATCH ID.  That makes the foreachBatch body
# idempotent — a batch replayed after a crash OVERWRITES its own
# delta rather than appending a duplicate — which is exactly the
# contract foreachBatch requires for end-to-end exactly-once on a
# plain parquet sink (no table format with MERGE needed).
#
# The serving view re-merges the deltas at read time (count/sum/max
# are associative, so delta-merge == full recompute).  Delta count
# grows with batches, so a real deployment periodically compacts:
# read all deltas, re-aggregate, write one snapshot, drop the
# replaced deltas — the same read path, run offline.
def incremental_minute_rollup(events: DataFrame, delta_dir: str,
                              checkpoint_dir: str) -> None:
    """Maintain a minute-grain rollup of the events stream under
    ``delta_dir`` (one hive partition ``batch_id=N`` per micro-batch),
    exactly-once under replay."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        vc = cents("value")
        (
            batch_df.groupBy(
                F.date_trunc("minute", "ts").alias("w"), "event_type"
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(vc).alias("total_value_cents"),
                F.max(vc).alias("max_value_cents"),
            )
            # overwrite, not append: replaying batch N replaces its
            # own delta — idempotent by construction
            .write.mode("overwrite")
            .parquet(f"{delta_dir}/batch_id={batch_id}")
        )

    (
        events.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def serve_minute_rollup(spark: SparkSession, delta_dir: str) -> DataFrame:
    """The merged minute-grain rollup over every committed delta —
    identical to the batch minute aggregate of the same events."""
    return (
        spark.read.parquet(delta_dir)
        .groupBy("w", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value_cents").alias("total_value_cents"),
            F.max("max_value_cents").alias("max_value_cents"),
        )
    )
