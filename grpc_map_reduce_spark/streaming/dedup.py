"""Streaming incremental dedup — the streaming twin of
``operators/dedup.incremental_dedup``: a STREAM of incoming documents
is deduped against a STATIC corpus index, which is how a production
ingest hop actually runs (each arriving shard probes the already-kept
corpus; the corpus is a pre-materialized signature table, not
re-hashed per batch).

Everything stream-side is map-only or a stream-static join — no
stream-side shuffle of the corpus ever happens:

  * the batch MinHash kernel (``operators/dedup._minhash_rows``, one
    ``mapInArrow`` pass) gives each incoming doc its distinct 60-bit
    shingle-hash set and its full signature; the kernel is map-only,
    so a stream needs no signature aggregation state, and the
    signatures are bit-identical to the batch path's;
  * band rows come from the signature through the batch
    ``_band_rows``, so stream and corpus keys share one format;
  * candidates come from a stream-static join against the corpus
    band-bucket table; multi-band duplicates collapse via
    ``dropDuplicates`` (bounded by the in-flight shard in the
    availableNow/replay harness; a production continuous stream would
    use ``dropDuplicatesWithinWatermark`` on an ingest timestamp);
  * the exact-Jaccard rescore is a second stream-static join against
    the corpus shingle-set table, then pure Column math.

Output rows ``(doc_id, match_id, jaccard)`` append per micro-batch —
exactly ``operators/dedup.incremental_scored_pairs`` (parity-gated in
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.dedup import (
    LSH_NEAR_DUP_THRESHOLD,
    LSH_ROWS_PER_BAND,
    SKETCH_THRESHOLD,
    _band_rows,
    _minhash_rows,
    _shingle_sets,
    _score_sets,
    _side_is_corpus,
    _sketch_score,
)
from grpc_map_reduce_spark.plans.checkpoint import pin


def _stream_band_rows(doc_stream: DataFrame, ts_col: str | None = None,
                      dedup_within: str = "1 hour") -> DataFrame:
    """(doc_id, [ts_col,] sh_set, sig, band_idx, key): the stream's docs
    through the batch kernel and band rows (``_band_rows`` at
    ``LSH_ROWS_PER_BAND``).  ``ts_col`` passes through the kernel and
    carries the ``dedup_within`` watermark."""
    ts_cols = [ts_col] if ts_col is not None else []
    rows = _minhash_rows(doc_stream.select("doc_id", *ts_cols, "text"))
    if ts_col is not None:
        rows = rows.withWatermark(ts_col, dedup_within)
    return _band_rows(rows, LSH_ROWS_PER_BAND)


def _dedup_candidates(joined: DataFrame, ts_col: str | None,
                      id_col: str = "doc_id") -> DataFrame:
    """One row per (``id_col``, match_id): run-scoped ``dropDuplicates``,
    or ``dropDuplicatesWithinWatermark`` under a ``ts_col`` watermark."""
    if ts_col is not None:
        return joined.dropDuplicatesWithinWatermark(
            [id_col, "match_id"]).drop(ts_col)
    return joined.dropDuplicates([id_col, "match_id"])


def corpus_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The static corpus side, built once with the BATCH machinery:
    ``buckets (band_idx, key, match_id)`` and ``sets (match_id,
    sh_set)``.  At scale both live as bucketed parquet, maintained
    incrementally as shards are accepted.  Both read the lazily pinned
    shingle sets, so the corpus kernel runs once."""
    corpus = docs.filter(_side_is_corpus(F.col("doc_id")))
    sets = pin(_shingle_sets(corpus))
    buckets = _band_rows(sets, LSH_ROWS_PER_BAND).select(
        F.col("doc_id").alias("match_id"), "band_idx", "key")
    return buckets, sets.select(
        F.col("doc_id").alias("match_id"), F.col("sh_set").alias("_sb")
    )


def streaming_incremental_dedup(doc_stream: DataFrame, buckets: DataFrame,
                                corpus_sets: DataFrame,
                                ts_col: str | None = None,
                                dedup_within: str = "1 hour") -> DataFrame:
    """(doc_id, match_id, jaccard) appended per micro-batch: each
    streamed doc's corpus matches at ``LSH_NEAR_DUP_THRESHOLD``.

    ``ts_col``: optional ingest-timestamp column on the stream.  When
    given, the candidate dedup becomes
    ``dropDuplicatesWithinWatermark`` under a ``dedup_within``
    watermark — the CONTINUOUS-stream state contract (state expires
    with event time instead of accumulating for the run), exactly the
    swap the module docstring promises.  Default (None) keeps the
    run-scoped ``dropDuplicates`` for bounded replays.

    RETURNED CONTRACT under ``ts_col``: output uniqueness of a
    (doc_id, match_id) pair holds only WITHIN a ``dedup_within``
    window.  A candidate recurring more than ``dedup_within`` of
    event time later re-emits the same scored pair — that re-emit IS
    the state-expiry contract, not a bug — so the append sink is
    at-least-once per pair and downstream consumers must dedup (or
    upsert) on (doc_id, match_id) if they need exactly-once pairs
    (ADVICE r8)."""
    exp = _stream_band_rows(doc_stream, ts_col, dedup_within).drop("sig")
    joined = exp.withColumnRenamed("sh_set", "_sa").join(
        buckets, ["band_idx", "key"])  # stream-static
    cand = _dedup_candidates(joined, ts_col)
    return (
        _score_sets(cand.join(corpus_sets, "match_id"))  # stream-static
        .filter(F.col("jaccard") >= LSH_NEAR_DUP_THRESHOLD)
        .select("doc_id", "match_id", "jaccard")
    )


# --------------------------------------------------------------------------
# Sketch-mode twin (round 11): the rescore decision propagates into
# the streaming engine.  The exact twin above joins every candidate to
# the corpus SHINGLE-SET table (`corpus_sets`) — per-candidate
# transport proportional to document size, the same floor the batch
# sketch path removed.  Here the score is MinHash signature agreement
# computed from FIXED-WIDTH arrays: the stream row carries its own 16
# signature components (the kernel's ``sig``), the corpus
# side a (match_id, 16-long array) table, and the agreement count is
# pure column math after the stream-static join — transport per
# candidate is 16 longs regardless of document length, and the corpus
# shingle sets are never read.  At r=1 the number of equal signature
# components IS the number of shared band buckets, so this equals the
# batch `incremental_sketch_pairs` score exactly (parity-gated).


def corpus_sketch_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Static corpus side for the sketch-mode stream: ``buckets
    (band_idx, key, match_id)`` and ``sigs (match_id, _sigb:
    array<long>)`` — the shingle sets are never stored (the whole
    point of the mode).

    Both outputs read one lazily pinned signature table (round-11
    review): stream-static joins re-execute the static side's plan
    EVERY micro-batch, so an unpinned index would re-run the corpus
    kernel per trigger, twice.  The pin holds the small fixed-width
    16-long signatures, not the shingle-array frame whose pin was the
    3125× OOM — at real scale both outputs live as bucketed parquet,
    exactly like the exact twin's index."""
    corpus = docs.filter(_side_is_corpus(F.col("doc_id")))
    sig = pin(
        _shingle_sets(corpus)
        .where(F.col("sig").isNotNull()).select("doc_id", "sig")
    )
    buckets = _band_rows(sig, LSH_ROWS_PER_BAND).select(
        F.col("doc_id").alias("match_id"), "band_idx", "key")
    sigs = sig.select(F.col("doc_id").alias("match_id"),
                      F.col("sig").alias("_sigb"))
    return buckets, sigs


def streaming_incremental_dedup_sketch(
        doc_stream: DataFrame, buckets: DataFrame,
        corpus_sigs: DataFrame) -> DataFrame:
    """(doc_id, match_id, n_bands, est_jaccard) appended per
    micro-batch: each streamed doc's corpus candidates at signature
    agreement ≥ ``SKETCH_THRESHOLD``, with the run-scoped candidate
    dedup of :func:`streaming_incremental_dedup`.  The agreement count
    is recomputed from the two signature arrays AFTER the candidate
    dedup (the dedup collapses multi-band matches to one row, so the
    band join can't be counted — the arrays can, and at the r=1
    banding of ``LSH_ROWS_PER_BAND`` the two numbers are identical)."""
    exp = _stream_band_rows(doc_stream).drop(
        "sh_set").withColumnRenamed("sig", "_siga")
    joined = exp.join(buckets, ["band_idx", "key"])  # stream-static
    cand = _dedup_candidates(joined, None)
    agree = F.size(
        F.filter(
            F.zip_with("_siga", "_sigb", lambda a, b: a == b),
            lambda x: x,
        )
    ).cast("long")
    scored = cand.join(corpus_sigs, "match_id").select(  # stream-static
        "doc_id", "match_id", agree.alias("n_bands"))
    return _sketch_score(scored, SKETCH_THRESHOLD)


# --------------------------------------------------------------------------
# Embedding twin (round 7): a STREAM of incoming vectors deduped
# against a static corpus band index — the streaming face of
# operators/similarity.embedding_incremental_matches, on the batch
# kernels, the same shape as the text twin above: the batch
# ``_emb_band_keys`` signs each micro-batch map-only (one vectorized
# matmul per Arrow batch, hyperplanes generated once per task, the
# stream's id, event time and vector passed through), a stream-static
# band-bucket join, a stream-static vector join and the batch
# ``_cosine_scores`` kernel.  No stream-side shuffle of the corpus
# ever happens.

def embedding_corpus_index(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The static corpus side, built once with the BATCH machinery at
    the selective production calibration (guard ON): ``buckets
    (band_idx, key, match_id)`` and ``vectors (match_id, _vb)``.
    Buckets of more than ``EMB_LSH_MAX_BUCKET_DEFAULT`` corpus vectors
    are dropped by a size filter on each bucket's member array —
    ``cross_bucket_pairs``' corpus-side guard, with no join.  At scale
    both live as bucketed parquet, maintained incrementally as shards
    are accepted."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_LSH_BITS,
        EMB_LSH_MAX_BUCKET_DEFAULT,
        EMB_SELECTIVE_ROWS_PER_BAND,
        _emb_band_keys,
    )

    buckets = (
        _emb_band_keys(corpus, EMB_LSH_BITS, EMB_SELECTIVE_ROWS_PER_BAND)
        .groupBy("band_idx", "key")
        .agg(F.collect_list("id").alias("ms"))
        .where(F.size("ms") <= EMB_LSH_MAX_BUCKET_DEFAULT)
        .select("band_idx", "key", F.explode("ms").alias("match_id"))
    )
    vectors = corpus.select(
        F.col("vec_id").cast("long").alias("match_id"),
        F.col("embedding").alias("_vb"),
    )
    return buckets, vectors


def streaming_embedding_dedup(vec_stream: DataFrame, buckets: DataFrame,
                              corpus_vecs: DataFrame,
                              ts_col: str | None = None,
                              dedup_within: str = "1 hour") -> DataFrame:
    """(vec_id, match_id, sim) appended per micro-batch: each
    streamed vector's above-threshold corpus matches at the selective
    calibration — parity-gated against
    ``embedding_incremental_matches`` in tests/test_streaming.py.
    ``ts_col``/``dedup_within``: same continuous-stream watermark
    contract as :func:`streaming_incremental_dedup`."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_LSH_BITS,
        EMB_SELECTIVE_ROWS_PER_BAND,
        EMB_SELECTIVE_THRESHOLD,
        _cosine_scores,
        _emb_band_keys,
    )

    ts_cols = [ts_col] if ts_col is not None else []
    exp = _emb_band_keys(
        vec_stream, EMB_LSH_BITS, EMB_SELECTIVE_ROWS_PER_BAND,
        keep=(*ts_cols, F.col("embedding").alias("_va")),
    )
    if ts_col is not None:
        exp = exp.withWatermark(ts_col, dedup_within)
    joined = exp.join(buckets, ["band_idx", "key"])  # stream-static
    cand = _dedup_candidates(joined, ts_col, "id")
    return (
        _cosine_scores(cand.join(corpus_vecs, "match_id"),  # stream-static
                       EMB_SELECTIVE_THRESHOLD)
        .select(F.col("id").alias("vec_id"), "match_id", "sim")
    )
