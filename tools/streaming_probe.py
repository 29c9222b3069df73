#!/usr/bin/env python3
"""Streaming twins at volume (VERDICT r7 item 8).

The Structured Streaming dedup twins are parity-gated at fixture
scale; this probe replays a replicated corpus (default 25x sf0.1)
through both and records what a capacity plan needs:

  * per-micro-batch trigger latency and input rows (from the query's
    progress events) — the stream-static design means batch latency
    must track the SHARD, not the corpus;
  * state-store rows — the only stateful operator in either pipeline
    is the candidate-pair dropDuplicates, so state must stay bounded
    by the incoming shard's candidate pairs (asserted), never by the
    corpus.

Usage: python tools/streaming_probe.py [--mult 25] [--batches 8]
Prints one JSON line per query plus a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grpc_map_reduce_spark import get_spark
from grpc_map_reduce_spark.plans.checkpoint import pin

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch", "streamprobe",
)


def _run(spark, stream_df, name: str, ckpt: str) -> dict:
    q = (
        stream_df.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .queryName(name)
        .start()
    )
    t0 = time.perf_counter()
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)
    prog = [json.loads(p.json) for p in q.recentProgress]
    batches = [
        {
            "batch": p["batchId"],
            "input_rows": p["numInputRows"],
            "trigger_ms": p["durationMs"].get("triggerExecution"),
            "state_rows": sum(
                s.get("numRowsTotal", 0)
                for s in p.get("stateOperators", [])
            ),
            # provider-reported state memory: for the default store
            # this is JVM-HEAP-resident state bytes; for RocksDB it is
            # the native (off-heap) memtable+block-cache usage — the
            # whole point of the rocksdb tier is state moving off the
            # heap into native memory + local SST files
            "state_mem_bytes": sum(
                s.get("memoryUsedBytes", 0) or 0
                for s in p.get("stateOperators", [])
            ),
            # RocksDB-only custom metrics (0 under the default store):
            # SST bytes = state spilled to LOCAL DISK (unbounded state
            # stops being a heap problem); pinned blocks = the only
            # JVM-side share.
            "rocksdb_sst_bytes": sum(
                (s.get("customMetrics") or {}).get(
                    "rocksdbSstFileSize", 0) or 0
                for s in p.get("stateOperators", [])
            ),
            "rocksdb_pinned_bytes": sum(
                (s.get("customMetrics") or {}).get(
                    "rocksdbPinnedBlocksMemoryUsage", 0) or 0
                for s in p.get("stateOperators", [])
            ),
        }
        for p in prog
        if p.get("numInputRows", 0) > 0 or p.get("stateOperators")
    ]
    return {"query": name, "wall_s": wall, "batches": batches}


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _set_state_store(spark, which: str) -> None:
    """Select the state-store provider for subsequently-started
    queries.  'hdfs' (default) keeps state rows on the JVM heap —
    fine until watermark state itself outgrows the executor heap;
    'rocksdb' (JVM-bundled rocksdbjni) keeps state in native memory +
    local SST files, bounding the heap share to the iterator working
    set (VERDICT r9 item 2)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    if which == "rocksdb":
        spark.conf.set(key, ROCKSDB_PROVIDER)
    else:
        spark.conf.unset(key)


def _jvm_heap_used_mb(spark) -> float:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    rt.gc()
    return round((rt.totalMemory() - rt.freeMemory()) / 1e6, 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=25)
    ap.add_argument("--batches", type=int, default=8,
                    help="number of incoming files = micro-batches")
    ap.add_argument("--expiry", action="store_true",
                    help="probe watermarked STATE EXPIRY at volume "
                         "instead of throughput (VERDICT r8 item 4)")
    ap.add_argument("--state-store", choices=["hdfs", "rocksdb"],
                    default="hdfs",
                    help="state-store provider for the probe "
                         "(rocksdb = native-memory state, VERDICT r9 "
                         "item 2)")
    args = ap.parse_args()

    if args.expiry:
        return expiry_probe(args.mult, args.state_store)

    from pyspark.sql import functions as F

    from tools.scaling_probe import synthesize

    spark = get_spark("streaming-probe")
    spark.sparkContext.setLogLevel("ERROR")
    _set_state_store(spark, args.state_store)
    sf_dir = synthesize(spark, args.mult)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    # ---- text twin --------------------------------------------------
    from grpc_map_reduce_spark.operators.dedup import _side_is_corpus
    from grpc_map_reduce_spark.streaming.dedup import (
        corpus_index,
        streaming_incremental_dedup,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    incoming = docs.filter(~_side_is_corpus(F.col("doc_id")))
    n_corpus = docs.count() - incoming.count()
    n_in = incoming.count()
    src = os.path.join(SCRATCH, "docs_in")
    incoming.repartition(args.batches).write.parquet(src)

    buckets, sets = corpus_index(docs)
    buckets = pin(buckets, eager=True)
    sets = pin(sets, eager=True)
    n_expected = None  # batch-side candidate count for the state bound
    from grpc_map_reduce_spark.operators.dedup import (
        incremental_scored_pairs,
    )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rec = _run(spark, streaming_incremental_dedup(stream, buckets, sets),
               "stream_incr_dedup", os.path.join(SCRATCH, "ckpt_text"))
    rec.update({"mult": args.mult, "corpus_docs": n_corpus,
                "incoming_docs": n_in})
    print(json.dumps(rec), flush=True)
    text_state = max((b["state_rows"] for b in rec["batches"]), default=0)
    # bounded-state: the dropDuplicates state holds (doc_id, match_id)
    # candidate keys of the replayed shard — it must be nowhere near
    # corpus x corpus (or even corpus-sized x bands)
    n_pairs = incremental_scored_pairs(docs).count()
    # ~43 candidate keys per incoming doc at 1x; the invariant worth
    # asserting is per-INCOMING-doc boundedness (corpus-independent):
    # a corpus-sized state would blow this by orders of magnitude.
    assert text_state < 200 * n_in + 10_000, (
        f"text dedup state {text_state} not bounded by the incoming "
        f"shard ({n_in} docs)")

    # ---- embedding twin ---------------------------------------------
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_incremental_matches,
        planted_twins,
    )
    from grpc_map_reduce_spark.streaming.dedup import (
        embedding_corpus_index,
        streaming_embedding_dedup,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    vec_in = planted_twins(emb)
    n_vec = emb.count()
    vsrc = os.path.join(SCRATCH, "vecs_in")
    vec_in.repartition(args.batches).write.parquet(vsrc)

    vbuckets, vectors = embedding_corpus_index(emb)
    vbuckets = pin(vbuckets, eager=True)
    vectors = pin(vectors, eager=True)

    vstream = (
        spark.readStream.schema(vec_in.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vsrc)
    )
    vrec = _run(spark, streaming_embedding_dedup(vstream, vbuckets, vectors),
                "stream_emb_dedup", os.path.join(SCRATCH, "ckpt_emb"))
    vrec.update({"mult": args.mult, "corpus_vecs": n_vec,
                 "incoming_vecs": n_vec})
    print(json.dumps(vrec), flush=True)
    emb_state = max((b["state_rows"] for b in vrec["batches"]), default=0)
    n_matches = embedding_incremental_matches(emb, vec_in).count()
    assert emb_state < 200 * n_vec + 10_000, (
        f"embedding dedup state {emb_state} not bounded by the incoming "
        f"shard ({n_vec} vectors)")

    summary = {
        "streaming_probe_summary": {
            "mult": args.mult,
            "text": {
                "wall_s": rec["wall_s"],
                "max_batch_ms": max(
                    (b["trigger_ms"] for b in rec["batches"]), default=None),
                "max_state_rows": text_state,
                "scored_pairs": n_pairs,
            },
            "embedding": {
                "wall_s": vrec["wall_s"],
                "max_batch_ms": max(
                    (b["trigger_ms"] for b in vrec["batches"]), default=None),
                "max_state_rows": emb_state,
                "matches": n_matches,
            },
        }
    }
    print(json.dumps(summary), flush=True)
    spark.stop()




def staged_batches(spark, root: str, frames_with_names) -> str:
    """Write each (df, name, mtime) as ONE parquet file under a source
    dir — file-source replay order is modification time, so each file
    becomes its own micro-batch under maxFilesPerTrigger=1.  Shared
    with tests/test_streaming.py's expiry gates (round-9 review: two
    drifting copies of the staging trick would silently stop testing
    the same thing)."""
    import glob as _glob

    src = os.path.join(root, "expiry_src")
    os.makedirs(src, exist_ok=True)
    for df, name, mtime in frames_with_names:
        stage = os.path.join(root, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))
    return src


def build_expiry_schedule(incoming, stamp, id_col: str = "doc_id"):
    """The canonical six-batch expiry replay, shared by the probe and
    the pytest gates: shard at 0h; KEY-DISJOINT tiny advancers at
    3h/6h (fresh negative ids per batch — an advancer drawn from the
    shard would refresh its own entry's expiry and could re-emit,
    satisfying the multiplicity assertion without the 9h replay,
    round-9 review); shard again at 9h (state must be gone ->
    re-emit); two more advancers at 12h/15h to drain the store."""
    from pyspark.sql import functions as F

    def adv(i):
        return incoming.limit(1).withColumn(
            id_col, F.lit(-(i + 1)).cast("long"))

    return [
        (stamp(incoming, 0), "b0", 1_000),
        (stamp(adv(1), 3), "b1", 2_000),
        (stamp(adv(2), 6), "b2", 3_000),
        (stamp(incoming, 9), "b3", 4_000),
        (stamp(adv(3), 12), "b4", 5_000),
        (stamp(adv(4), 15), "b5", 6_000),
    ]


def expiry_probe(mult: int, state_store: str = "hdfs") -> None:
    """Watermarked state-EXPIRY at volume: replay the mult-x incoming
    shard at 0h, advance the watermark with tiny key-disjoint batches
    (3h/6h), replay at 9h (state must be GONE -> pairs re-emit), then
    drain with two more tiny advancers (12h/15h).  Records per-batch
    state-store rows; the evidence is rows DROPPING between batches,
    not just staying bounded (tests/test_streaming.py carries the
    fixture-scale pytest twin of this probe)."""
    from pyspark.sql import functions as F

    from tools.scaling_probe import synthesize

    from grpc_map_reduce_spark.operators.dedup import _side_is_corpus
    from grpc_map_reduce_spark.streaming.dedup import (
        corpus_index,
        streaming_incremental_dedup,
    )

    spark = get_spark("streaming-expiry-probe")
    spark.sparkContext.setLogLevel("ERROR")
    _set_state_store(spark, state_store)
    sf_dir = synthesize(spark, mult)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    incoming = docs.filter(~_side_is_corpus(F.col("doc_id")))
    base, hr = 1_700_000_000, 3_600

    def stamp(df, hours):
        return df.withColumn(
            "ingest_ts", F.timestamp_seconds(F.lit(base + hours * hr)))

    src = staged_batches(
        spark, SCRATCH, build_expiry_schedule(incoming, stamp))
    buckets, sets = corpus_index(docs)
    buckets = pin(buckets, eager=True)
    sets = pin(sets, eager=True)
    stream = (
        spark.readStream.schema(stamp(incoming, 0).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rec = _run(
        spark,
        streaming_incremental_dedup(
            stream, buckets, sets, ts_col="ingest_ts",
            dedup_within="1 hour"),
        "stream_dedup_expiry_probe",
        os.path.join(SCRATCH, "ckpt_expiry"),
    )
    states = [b["state_rows"] for b in rec["batches"]]
    peak, final = max(states), states[-1]
    summary = {
        "expiry_probe_summary": {
            "mult": mult,
            "state_store": state_store,
            "incoming_docs": incoming.count(),
            "state_rows_per_batch": states,
            "peak_state_rows": peak,
            "final_state_rows": final,
            "drained": final < max(2, peak // 2),
            "peak_state_mem_mb": round(max(
                b["state_mem_bytes"] for b in rec["batches"]) / 1e6, 1),
            "peak_rocksdb_sst_mb": round(max(
                b["rocksdb_sst_bytes"] for b in rec["batches"]) / 1e6, 1),
            "peak_rocksdb_pinned_mb": round(max(
                b["rocksdb_pinned_bytes"] for b in rec["batches"]) / 1e6, 1),
            "jvm_heap_used_after_mb": _jvm_heap_used_mb(spark),
        }
    }
    print(json.dumps(rec), flush=True)
    print(json.dumps(summary), flush=True)
    assert summary["expiry_probe_summary"]["drained"], (
        f"state did not drain: {states}")
    spark.stop()


if __name__ == "__main__":
    main()
