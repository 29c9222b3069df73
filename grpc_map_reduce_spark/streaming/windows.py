"""Structured Streaming operators over the ``events`` stream.

The reference has no streaming at all (its gRPC "stream" is a bulk
file upload — SURVEY.md §2.1); this module supplies the streaming
surface the way Spark means it: ``readStream`` file source →
event-time windows with watermarks → any sink.  The batch twins in
:mod:`grpc_map_reduce_spark.operators.events` are the oracle-checked
versions; tests assert stream == batch on a replayed corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.money import cents
from grpc_map_reduce_spark.operators.events import WINDOW_SLIDE, WINDOW_WIDTH

#: Event-time watermark of every streaming window, join and dedup.
WATERMARK = "2 hours"

def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of events with a proper timestamp column.

    A directory of parquet files is the canonical replay/backfill
    source; in production the same dataflow reads Kafka — only this
    function changes.  The streaming file source needs an up-front
    schema, so probe it from a (lazy, footer-only) batch read — this
    also tells us whether this fixture stores ts as int64 nanos
    (legacy layout, needs conversion) or native TIMESTAMP(MICROS).
    """
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.parquet(f"{sf_dir}/events*.parquet").schema
    reader = spark.readStream.schema(probe)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Glob, not a bare file path — the streaming file source requires
    # a directory/pattern it can re-list for new files.
    df = reader.parquet(f"{sf_dir}/events*.parquet")
    if isinstance(probe["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # NTZ → LTZ (no-op wall-clock under the UTC session tz): the
        # watermark operator requires TIMESTAMP, not TIMESTAMP_NTZ.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def streaming_tumbling_agg(events: DataFrame, width: str = WINDOW_WIDTH,
                           watermark: str = WATERMARK) -> DataFrame:
    """Streaming twin of ``operators.events.tumbling_window_agg``.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and dropped from the store, so state size
    is O(active windows), not O(stream length).

    Emits ``total_value_cents`` in exact integer cents — the SAME
    contract as the batch twin (functions.money): no rounded double
    ever leaves a windowed aggregate.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("total_value_cents"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value_cents",
            "approx_users",
        )
    )


def streaming_sliding_agg(events: DataFrame) -> DataFrame:
    """Sliding (hopping) windows: each event lands in width/slide
    overlapping windows.  State cost scales with the overlap factor —
    at 100 TB keep width/slide small (here 2×) or pre-aggregate into
    slide-sized tumbling panes and roll up downstream."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW_WIDTH, WINDOW_SLIDE).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("total_value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value_cents",
        )
    )


def streaming_session_agg(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.events.q_session_window``: the
    SAME ``session_window`` expression runs under Structured
    Streaming — sessions merge across micro-batches in the state
    store and finalize once the watermark passes their 30-minute gap
    horizon."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("session_value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value_cents",
        )
    )


def stream_stream_purchase_click_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join: each purchase to every click by the
    same user within the preceding hour.

    Both sides carry watermarks and the join condition bounds
    click_ts to [purchase_ts − 1 hour, purchase_ts], so Spark can
    size the join state store from watermark + time bound and evict
    rows that can no longer match — without the interval condition a
    stream-stream join would buffer both streams forever."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
    ).select(
        "purchase_id", "p_user_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts",
    )


def stream_static_enrich(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich each event with a STATIC per-user
    dimension (here: first-seen timestamp + lifetime event count).

    The static side is a plain DataFrame — Spark re-plans it per
    micro-batch, broadcasts it when small, and requires no watermark
    or state store (nothing on the static side ever changes mid-query;
    at 100 TB the dim would be a broadcast-able keyed table or a
    bucketed join).  This is the canonical enrichment pattern: facts
    arrive as a stream, dimensions sit in storage."""
    return events.join(F.broadcast(user_dim), "user_id", "left").select(
        "event_id", "ts", "user_id", "event_type",
        "first_seen", "lifetime_events",
    )


def user_first_seen_dim(batch_events: DataFrame) -> DataFrame:
    """The static dimension for :func:`stream_static_enrich`, built
    from the batch events table: one row per user."""
    return batch_events.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.count("*").alias("lifetime_events"),
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id: ``dropDuplicates`` keyed by
    id + event-time with a watermark, so the dedup state store is
    bounded by the watermark horizon instead of growing forever — the
    streaming-ingest form of extension E1."""
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id", "ts"])


def streaming_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming dedup on event_id ALONE via
    ``dropDuplicatesWithinWatermark``: unlike :func:`streaming_dedup`
    (whose key must include the event-time column for state eviction),
    the within-watermark form dedups on the business key and still
    evicts state once the watermark passes — the right semantics when
    retried deliveries can carry jittered timestamps."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a running per-user value total + event count, carried in explicit
    per-key state across micro-batches (the engine-managed analog of
    the reference reducer's in-memory ``map[string][]string``,
    reducer.go:47 — but bounded, partitioned, and fault-tolerant)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            total_cents, n = state.get
        else:
            total_cents, n = 0, 0
        for pdf in pdf_iter:
            # Exact integer cents per the batch contract (functions
            # .money): round each 2-decimal value, THEN sum — float
            # accumulation would drift from the batch twin.
            total_cents += int((pdf["value"] * 100).round().astype("int64").sum())
            n += len(pdf)
        state.update((total_cents, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value_cents": [total_cents], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, total_value_cents long, n_events long",
        stateStructType="total_cents long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(df: DataFrame, query_name: str,
                  output_mode: str = "complete"):
    """Replay the whole backlog (availableNow) into an in-memory table
    and block until done — the test/bench harness for streaming ops.
    Returns the finished StreamingQuery so callers can inspect
    ``recentProgress`` (per-batch state-store metrics).

    Use ``complete`` for windowed aggregations (emits every window);
    ``applyInPandasWithState`` plans only support ``update``/``append``.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
