"""Streaming == batch parity on a replayed corpus: the whole events
table goes through Structured Streaming (availableNow) and must agree
with the batch operators the DuckDB oracles already check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.events import tumbling_window_agg
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    stateful_user_totals,
    stream_static_enrich,
    streaming_dedup,
    streaming_sliding_agg,
    streaming_tumbling_agg,
    user_first_seen_dim,
)


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Every streamed event picks up its user's static dim row; the
    result must equal the same join done in batch."""
    dim = user_first_seen_dim(table(spark, sf_dir, "events"))
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(stream_static_enrich(stream, dim), "stream_enrich",
                  output_mode="append")
    got = {
        (r.event_id, r.first_seen, r.lifetime_events)
        for r in spark.table("stream_enrich").collect()
    }
    batch = table(spark, sf_dir, "events").join(dim, "user_id", "left")
    want = {
        (r.event_id, r.first_seen, r.lifetime_events) for r in batch.collect()
    }
    assert got == want


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    run_to_memory(streaming_tumbling_agg(stream), "stream_tumbling")
    got = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.total_value_cents)
        for r in spark.table("stream_tumbling").collect()
    }
    batch = tumbling_window_agg(table(spark, sf_dir, "events"))
    want = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.total_value_cents)
        for r in batch.collect()
    }
    assert got == want


def test_streaming_sliding_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(streaming_sliding_agg(stream), "stream_sliding")
    got = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.total_value_cents)
        for r in spark.table("stream_sliding").collect()
    }
    from grpc_map_reduce_spark.functions.money import cents

    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(cents("value")).alias("v"))
    )
    want = {(r.w.start, r.w.end, r.event_type): (r.n, r.v) for r in batch.collect()}
    assert got == want
    # every event is in exactly width/slide = 2 windows
    n_events = table(spark, sf_dir, "events").count()
    assert sum(n for n, _ in got.values()) == 2 * n_events


def test_streaming_dedup_bounds_duplicates(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(streaming_dedup(stream), "stream_dedup", output_mode="append")
    deduped = spark.table("stream_dedup")
    batch = table(spark, sf_dir, "events").dropDuplicates(["event_id", "ts"])
    assert deduped.count() == batch.count()
    assert deduped.select("event_id", "ts").distinct().count() == deduped.count()


def test_streaming_dedup_within_watermark_keys_unique(spark, sf_dir):
    """The within-watermark form dedups on event_id ALONE: every
    batch-distinct event_id survives exactly once."""
    from grpc_map_reduce_spark.streaming.windows import (
        streaming_dedup_within_watermark,
    )

    stream = read_events_stream(spark, sf_dir)
    run_to_memory(streaming_dedup_within_watermark(stream), "stream_dedup_ww",
                  output_mode="append")
    got = spark.table("stream_dedup_ww")
    batch_ids = {r.event_id
                 for r in table(spark, sf_dir, "events").select("event_id").collect()}
    assert got.count() == len(batch_ids)
    assert {r.event_id for r in got.select("event_id").collect()} == batch_ids


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(stateful_user_totals(stream), "stream_user_totals",
                  output_mode="update")
    rows = spark.table("stream_user_totals").collect()
    # availableNow may run several micro-batches; the *last* update per
    # user is the final state.  With one input file there is exactly
    # one update per user.
    got = {r.user_id: (r.total_value_cents, r.n_events) for r in rows}
    from grpc_map_reduce_spark.functions.money import cents

    want = {
        r.user_id: (r.total_value_cents, r.n_events)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(cents("value")).alias("total_value_cents"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == want


def test_streaming_session_window_matches_batch(spark, sf_dir):
    from grpc_map_reduce_spark.operators.events import q_session_window
    from grpc_map_reduce_spark.streaming.windows import streaming_session_agg

    stream = read_events_stream(spark, sf_dir)
    run_to_memory(streaming_session_agg(stream), "stream_sessions")
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.session_value_cents)
        for r in spark.table("stream_sessions").collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.session_value_cents)
        for r in q_session_window(spark, sf_dir).collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from grpc_map_reduce_spark.streaming.windows import (
        stream_stream_purchase_click_join,
    )

    stream = read_events_stream(spark, sf_dir)
    run_to_memory(
        stream_stream_purchase_click_join(stream), "stream_ss_join",
        output_mode="append",
    )
    got = sorted(
        (r.purchase_id, r.click_id)
        for r in spark.table("stream_ss_join").collect()
    )
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = sorted(
        (r.purchase_id, r.click_id)
        for r in purchases.join(
            clicks,
            (F.col("p_user_id") == F.col("user_id"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    )
    assert len(got) > 0
    assert got == want


def test_streaming_wordcount_matches_batch(spark, tmp_path):
    """The reference's flagship job under Structured Streaming: replay
    a text corpus one file per micro-batch; the complete-mode count
    table must equal the batch wordcount (reference-parity tokenizer,
    case + Unicode preserved)."""
    from grpc_map_reduce_spark.operators.wordcount import wordcount
    from grpc_map_reduce_spark.sources import read_text_corpus
    from grpc_map_reduce_spark.streaming.wordcount import (
        read_text_stream,
        streaming_wordcount,
    )

    d = tmp_path / "wc_corpus"
    d.mkdir()
    (d / "a.txt").write_text("The quick fox; the fox", encoding="utf-8")
    (d / "b.txt").write_text("naïve Σigma fox 42", encoding="utf-8")

    stream = read_text_stream(spark, str(d), max_files_per_trigger=1)
    run_to_memory(streaming_wordcount(stream), "stream_wc")
    got = {r.word: r.cnt for r in spark.table("stream_wc").collect()}

    batch = wordcount(read_text_corpus(spark, str(d)), reference_parity=True)
    want = {r.word: r.cnt for r in batch.collect()}
    assert got == want
    assert got["fox"] == 3 and got["The"] == 1 and got["naïve"] == 1


def test_parquet_ingest_sink_exactly_once(spark, sf_dir, tmp_path):
    """Stream events into a parquet directory with checkpointing; the
    landed rows must equal the source exactly.  Re-running the same
    query against the same checkpoint must be a no-op (exactly-once:
    the committed batch is not re-ingested)."""
    from grpc_map_reduce_spark.streaming.sinks import ingest_to_parquet

    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    stream = read_events_stream(spark, sf_dir)
    ingest_to_parquet(
        stream.withColumn("event_date", F.to_date("ts")),
        out, ckpt, partition_by="event_date",
    )
    landed = spark.read.parquet(out)
    src = table(spark, sf_dir, "events")
    assert landed.count() == src.count()
    assert sorted(map(tuple, landed.select("event_id", "value").collect())) == \
        sorted(map(tuple, src.select("event_id", "value").collect()))
    # hive partition dirs exist → downstream partition pruning works
    import os

    assert any(d.startswith("event_date=") for d in os.listdir(out))

    # restart against the same checkpoint: backlog already committed
    ingest_to_parquet(
        read_events_stream(spark, sf_dir).withColumn("event_date", F.to_date("ts")),
        out, ckpt, partition_by="event_date",
    )
    assert spark.read.parquet(out).count() == src.count(), "batch re-ingested"


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Append-mode windows finalize when the watermark passes; a row
    arriving after its window finalized must be dropped, not
    double-counted.  Two files replayed one per micro-batch: the
    second re-delivers an hour-0 event after the watermark (max event
    time − 1 h = hour 4) has passed that window."""
    import os

    import pandas as pd

    from grpc_map_reduce_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        streaming_tumbling_agg,
    )

    base_ns = int(pd.Timestamp("2024-01-01").value)
    hour_ns = 3_600 * 10**9

    def write(name, eids, hours, mtime):
        pdf = pd.DataFrame({
            "event_id": pd.array(eids, dtype="int64"),
            "ts": pd.array([base_ns + h * hour_ns for h in hours], dtype="int64"),
            "user_id": pd.array([1] * len(eids), dtype="int64"),
            "event_type": ["click"] * len(eids),
            "value": [1.0] * len(eids),
            "props": ["{}"] * len(eids),
        })
        p = str(tmp_path / name)
        pdf.to_parquet(p)
        os.utime(p, (mtime, mtime))

    write("events_a.parquet", [1, 2, 3, 4, 5, 6], [0, 1, 2, 3, 4, 5], 1_000)
    write("events_b.parquet", [8], [6], 2_000)  # advances watermark to hour 5
    # hour-0 re-delivery, 5 h past the watermark.  (One batch earlier
    # it would be MERGED, not dropped: the admission filter uses the
    # previous batch's watermark, so a just-advanced watermark only
    # drops data from the batch after next — lag probed empirically.)
    write("events_c.parquet", [7], [0], 3_000)

    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    agg = streaming_tumbling_agg(stream, width="1 hour", watermark="1 hour")
    run_to_memory(agg, "late_test", output_mode="append")

    got = {
        int((r.window_start - pd.Timestamp("2024-01-01")).total_seconds() // 3600):
            r.n_events
        for r in spark.table("late_test").collect()
    }
    # final watermark = hour 6 − 1 h = hour 5: windows 0–4 finalized
    # with exactly one on-time event each; the late hour-0 row was
    # dropped (not double-counted).  Windows 5–6 still open: unemitted.
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}


def test_incremental_minute_rollup_matches_batch_and_replays(spark, sf_dir, tmp_path):
    """foreachBatch continuous aggregate: the served minute rollup must
    equal the batch minute aggregate of the same events, and re-running
    against the same checkpoint must not change it (idempotent deltas)."""
    from grpc_map_reduce_spark.functions.money import cents
    from grpc_map_reduce_spark.streaming.sinks import (
        incremental_minute_rollup,
        serve_minute_rollup,
    )

    delta = str(tmp_path / "rollup_delta")
    ckpt = str(tmp_path / "rollup_ckpt")

    incremental_minute_rollup(read_events_stream(spark, sf_dir), delta, ckpt)
    served = serve_minute_rollup(spark, delta)

    vc = cents("value")
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("minute", "ts").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(vc).alias("total_value_cents"),
            F.max(vc).alias("max_value_cents"),
        )
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(served) == key(batch)

    # restart with the same checkpoint: backlog committed, no new deltas
    incremental_minute_rollup(read_events_stream(spark, sf_dir), delta, ckpt)
    assert key(serve_minute_rollup(spark, delta)) == key(batch)


def test_streaming_psi_matches_batch_and_replays(spark, sf_dir, tmp_path):
    """The continuously-maintained drift monitor must equal the batch
    PSI of the same documents after a multi-micro-batch replay, and a
    restart against the same checkpoint must not change it."""
    from grpc_map_reduce_spark.operators.data_quality import source_quality_psi
    from grpc_map_reduce_spark.streaming.drift import (
        incremental_quality_bins,
        read_docs_stream,
        serve_source_psi,
    )

    docs = table(spark, sf_dir, "documents")
    src = str(tmp_path / "psi_docs")
    docs.repartition(4).write.parquet(src)  # 4 files → 4 micro-batches
    delta = str(tmp_path / "psi_delta")
    ckpt = str(tmp_path / "psi_ckpt")

    stream = read_docs_stream(spark, src, max_files_per_trigger=1)
    incremental_quality_bins(stream, delta, ckpt)

    key = lambda df: sorted(map(tuple, df.collect()))
    want = key(source_quality_psi(docs))
    assert key(serve_source_psi(spark, delta)) == want and len(want) > 0

    # restart on the same checkpoint: nothing new, result unchanged
    incremental_quality_bins(
        read_docs_stream(spark, src, max_files_per_trigger=1), delta, ckpt
    )
    assert key(serve_source_psi(spark, delta)) == want

    # a FRESH checkpoint against the same delta dir would restart
    # batch ids at 0 and overwrite history — the binding guard must
    # refuse (ADVICE r5) before any data is touched
    import pytest

    with pytest.raises(ValueError, match="[Rr]etire"):
        incremental_quality_bins(
            read_docs_stream(spark, src, max_files_per_trigger=1),
            delta, str(tmp_path / "psi_ckpt_fresh"),
        )
    assert key(serve_source_psi(spark, delta)) == want


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, tmp_path):
    """The incoming split streamed file-by-file against the static
    corpus index must produce exactly the batch cross-side scored
    pairs (operators/dedup.incremental_scored_pairs)."""
    from grpc_map_reduce_spark.operators.dedup import (
        _side_is_corpus,
        incremental_scored_pairs,
    )
    from grpc_map_reduce_spark.streaming.dedup import (
        corpus_index,
        streaming_incremental_dedup,
    )

    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(~_side_is_corpus(F.col("doc_id")))
    src = str(tmp_path / "incoming_docs")
    incoming.repartition(4).write.parquet(src)

    buckets, sets = corpus_index(docs)
    buckets = buckets.localCheckpoint()  # static sides pinned, built once
    sets = sets.localCheckpoint()

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src)
    )
    run_to_memory(
        streaming_incremental_dedup(stream, buckets, sets),
        "stream_incr_dedup",
        output_mode="append",
    )
    got = {
        (r.doc_id, r.match_id, r.jaccard)
        for r in spark.table("stream_incr_dedup").collect()
    }
    want = {
        (r.doc_id, r.match_id, r.jaccard)
        for r in incremental_scored_pairs(docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_embedding_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Round-7 embedding twin: the planted-twin shard streamed
    file-by-file against the static corpus band index must produce
    exactly the batch cross-side matches
    (operators/similarity.embedding_incremental_matches)."""
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_incremental_matches,
        planted_twins,
    )
    from grpc_map_reduce_spark.streaming.dedup import (
        embedding_corpus_index,
        streaming_embedding_dedup,
    )

    emb = table(spark, sf_dir, "embeddings")
    incoming = planted_twins(emb)
    src = str(tmp_path / "incoming_vecs")
    incoming.repartition(4).write.parquet(src)

    buckets, vectors = embedding_corpus_index(emb)
    buckets = buckets.localCheckpoint()
    vectors = vectors.localCheckpoint()

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory(
        streaming_embedding_dedup(stream, buckets, vectors),
        "stream_emb_dedup",
        output_mode="append",
    )
    got = {
        (r.vec_id, r.match_id, r.sim)
        for r in spark.table("stream_emb_dedup").collect()
    }
    want = {
        (r.id, r.match_id, r.sim)
        for r in embedding_incremental_matches(emb, incoming).collect()
    }
    assert got == want and len(want) > 0


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


@pytest.fixture(params=["default", "rocksdb"])
def state_provider(request, spark):
    """Run a watermarked gate under BOTH state-store providers
    (VERDICT r9 item 2): the default HDFS-backed store keeps every
    state row ON HEAP — at 100-TB watermark state the heap itself is
    the scale-killer — while RocksDBStateStoreProvider keeps state in
    native memory + local SST files with only the working set
    JVM-side.  The provider is JVM-bundled (rocksdbjni in the Spark
    distro), so parity and expiry must hold identically under it."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    if request.param == "rocksdb":
        spark.conf.set(key, ROCKSDB_PROVIDER)
    yield request.param
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def test_streaming_dedup_watermarked_state_matches_batch(
    spark, sf_dir, tmp_path, state_provider
):
    """Round 8: the CONTINUOUS-stream variant — candidate dedup via
    dropDuplicatesWithinWatermark under an ingest-time watermark (the
    swap the module docstring promises for unbounded streams) — must
    still produce exactly the batch cross-side pairs when every event
    is inside the window.  Round 10: runs under both state-store
    providers (see state_provider)."""
    from grpc_map_reduce_spark.operators.dedup import (
        _side_is_corpus,
        incremental_scored_pairs,
    )
    from grpc_map_reduce_spark.streaming.dedup import (
        corpus_index,
        streaming_incremental_dedup,
    )

    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(~_side_is_corpus(F.col("doc_id"))).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 60)
    )
    src = str(tmp_path / "incoming_docs_wm")
    incoming.repartition(3).write.parquet(src)

    buckets, sets = corpus_index(docs)
    buckets = buckets.localCheckpoint()
    sets = sets.localCheckpoint()

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory(
        streaming_incremental_dedup(
            stream, buckets, sets, ts_col="ingest_ts", dedup_within="1 hour"
        ),
        f"stream_incr_dedup_wm_{state_provider}",
        output_mode="append",
    )
    got = {
        (r.doc_id, r.match_id, r.jaccard)
        for r in spark.table(f"stream_incr_dedup_wm_{state_provider}").collect()
    }
    want = {
        (r.doc_id, r.match_id, r.jaccard)
        for r in incremental_scored_pairs(docs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_embedding_dedup_watermarked_matches_batch(
    spark, sf_dir, tmp_path, state_provider
):
    """Watermarked twin of the embedding stream: same batch parity as
    the run-scoped variant."""
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_incremental_matches,
        planted_twins,
    )
    from grpc_map_reduce_spark.streaming.dedup import (
        embedding_corpus_index,
        streaming_embedding_dedup,
    )

    emb = table(spark, sf_dir, "embeddings")
    incoming = planted_twins(emb).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("vec_id") % 60),
    )
    src = str(tmp_path / "incoming_vecs_wm")
    incoming.repartition(3).write.parquet(src)

    buckets, vectors = embedding_corpus_index(emb)
    buckets = buckets.localCheckpoint()
    vectors = vectors.localCheckpoint()

    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory(
        streaming_embedding_dedup(
            stream, buckets, vectors, ts_col="ingest_ts",
            dedup_within="1 hour",
        ),
        f"stream_emb_dedup_wm_{state_provider}",
        output_mode="append",
    )
    got = {
        (r.vec_id, r.match_id, r.sim)
        for r in spark.table(f"stream_emb_dedup_wm_{state_provider}").collect()
    }
    want = {
        (r.id, r.match_id, r.sim)
        for r in embedding_incremental_matches(
            emb, planted_twins(emb)
        ).collect()
    }
    assert got == want and len(want) > 0


# staging + schedule shared with tools/streaming_probe.py (round-9
# review: two drifting copies would stop testing the same thing)
from tools.streaming_probe import build_expiry_schedule, staged_batches


def _state_rows_per_batch(q):
    import json as _json

    out = []
    for p in q.recentProgress:
        d = _json.loads(p.json)
        ops = d.get("stateOperators") or []
        if d.get("numInputRows", 0) > 0 or ops:
            out.append({
                "batch": d["batchId"],
                "state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
                "removed": sum(op.get("numRowsRemoved", 0) or 0 for op in ops),
            })
    return out


def test_streaming_dedup_watermarked_state_expires(
    spark, sf_dir, tmp_path, state_provider
):
    """Round 9 (VERDICT r8 item 4): boundedness was probed, EXPIRY was
    not.  Replay the same shard at 0h/3h/6h under a 1-hour
    dropDuplicatesWithinWatermark window, then two tiny
    watermark-advancing batches at 9h/12h:

    Schedule: shard at 0h; two tiny watermark-advancing batches at
    3h/6h that do NOT touch the shard's keys (a duplicate arrival can
    extend its entry's expiry, so advancing the watermark with the
    shard itself would never expire anything); the shard again at 9h;
    two more tiny advancers at 12h/15h.  Asserts:

    * the 9h replay must RE-EMIT its pairs (their 0h state was
      evicted once the watermark passed 1h) — the
      at-least-once-per-pair contract documented on
      streaming_incremental_dedup;
    * after the tail advancers, state-store rows must DROP back to
      ~nothing (eviction, not accumulation).
    """
    from grpc_map_reduce_spark.operators.dedup import _side_is_corpus
    from grpc_map_reduce_spark.streaming.dedup import (
        corpus_index,
        streaming_incremental_dedup,
    )

    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(~_side_is_corpus(F.col("doc_id")))
    base = 1_700_000_000
    hr = 3_600

    def stamp(df, hours):
        return df.withColumn(
            "ingest_ts", F.timestamp_seconds(F.lit(base + hours * hr))
        )

    src = staged_batches(
        spark, str(tmp_path), build_expiry_schedule(incoming, stamp))
    buckets, sets = corpus_index(docs)
    buckets = buckets.localCheckpoint()
    sets = sets.localCheckpoint()
    stream = (
        spark.readStream.schema(stamp(incoming, 0).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_to_memory(
        streaming_incremental_dedup(
            stream, buckets, sets, ts_col="ingest_ts", dedup_within="1 hour"
        ),
        f"stream_dedup_expiry_{state_provider}",
        output_mode="append",
    )
    from collections import Counter

    emitted = Counter(
        (r.doc_id, r.match_id)
        for r in spark.table(f"stream_dedup_expiry_{state_provider}").collect()
    )
    assert emitted, "no pairs emitted"
    # re-emission after expiry, on SHARD keys specifically: the
    # advancers carry fresh negative ids, so only the 9h replay can
    # produce a repeated non-negative pair (round-9 review)
    shard_mult = [n for (d, _), n in emitted.items() if d >= 0]
    assert shard_mult and max(shard_mult) >= 2, (
        "expected a shard pair re-emitted after its state expired; "
        f"multiplicities: {dict(list(emitted.items())[:5])}"
    )
    batches = _state_rows_per_batch(q)
    peak = max(b["state_rows"] for b in batches)
    final = batches[-1]["state_rows"]
    assert peak > 0
    # eviction: the watermark-advancing tail batches drain the store
    assert final < max(2, peak // 2), (
        f"state rows did not drop (peak {peak}, final {final}): {batches}"
    )


def test_streaming_embedding_dedup_watermarked_state_expires(
    spark, sf_dir, tmp_path, state_provider
):
    """The embedding twin's expiry gate — same schedule, same two
    assertions (re-emission after expiry + state-store drain)."""
    from grpc_map_reduce_spark.operators.similarity import planted_twins
    from grpc_map_reduce_spark.streaming.dedup import (
        embedding_corpus_index,
        streaming_embedding_dedup,
    )

    emb = table(spark, sf_dir, "embeddings")
    incoming = planted_twins(emb)
    base = 1_700_000_000
    hr = 3_600

    def stamp(df, hours):
        return df.withColumn(
            "ingest_ts", F.timestamp_seconds(F.lit(base + hours * hr))
        )

    src = staged_batches(
        spark, str(tmp_path),
        build_expiry_schedule(incoming, stamp, id_col="vec_id"))
    vbuckets, vectors = embedding_corpus_index(emb)
    vbuckets = vbuckets.localCheckpoint()
    vectors = vectors.localCheckpoint()
    stream = (
        spark.readStream.schema(stamp(incoming, 0).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_to_memory(
        streaming_embedding_dedup(
            stream, vbuckets, vectors, ts_col="ingest_ts",
            dedup_within="1 hour",
        ),
        f"stream_emb_expiry_{state_provider}",
        output_mode="append",
    )
    from collections import Counter

    emitted = Counter(
        (r.vec_id, r.match_id)
        for r in spark.table(f"stream_emb_expiry_{state_provider}").collect()
    )
    assert emitted, "no matches emitted"
    shard_mult = [n for (v, _), n in emitted.items() if v >= 0]
    assert shard_mult and max(shard_mult) >= 2
    batches = _state_rows_per_batch(q)
    peak = max(b["state_rows"] for b in batches)
    final = batches[-1]["state_rows"]
    assert peak > 0
    assert final < max(2, peak // 2), (
        f"state rows did not drop (peak {peak}, final {final}): {batches}"
    )


def test_streaming_sketch_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Sketch-mode streaming twin (round 11): the incoming split
    streamed file-by-file against the signature-only corpus index must
    produce exactly the batch cross-side sketch scores
    (operators/dedup.incremental_sketch_pairs) — agreement recomputed
    from the fixed-width arrays equals the band-join count at r=1."""
    from grpc_map_reduce_spark.operators.dedup import (
        _side_is_corpus,
        incremental_sketch_pairs,
    )
    from grpc_map_reduce_spark.streaming.dedup import (
        corpus_sketch_index,
        streaming_incremental_dedup_sketch,
    )

    docs = table(spark, sf_dir, "documents")
    incoming = docs.filter(~_side_is_corpus(F.col("doc_id")))
    src = str(tmp_path / "incoming_docs_sketch")
    incoming.repartition(4).write.parquet(src)

    # no manual pinning: the index pins its shared signature frame
    # itself (stream-static joins re-execute the static plan per
    # micro-batch — see corpus_sketch_index)
    buckets, sigs = corpus_sketch_index(docs)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory(
        streaming_incremental_dedup_sketch(stream, buckets, sigs),
        "stream_incr_sketch",
        output_mode="append",
    )
    got = {
        (r.doc_id, r.match_id, r.n_bands, r.est_jaccard)
        for r in spark.table("stream_incr_sketch").collect()
    }
    want = {
        (r.doc_id, r.match_id, r.n_bands, r.est_jaccard)
        for r in incremental_sketch_pairs(docs).collect()
    }
    assert got == want and len(want) > 0
