"""Round-6 operator gates (VERDICT r5 item 2): the hot-band-bucket
guard must be ON by default in the LSH scale path — a planted
mega-bucket (k docs sharing a band bucket emits k·(k−1)/2 candidate
pairs) is the one default-config quadratic r5 left open.  The
oracle-twin registrations pass ``max_bucket=None`` explicitly; the
guarded configuration has its own SQL mirror (``lsh_pairs_sql(...,
max_bucket=...)``) checked here on planted data.
"""

from __future__ import annotations

import inspect

import duckdb
import pytest


def _planted_docs(spark, n_clones):
    """n_clones identical docs (every band bucket holds all of them)
    plus a distinct control near-dup pair with disjoint vocabulary."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(n_clones)]
    rows += [
        (100_000, "unique control passage about spark engines at scale"),
        (100_001, "unique control passage about spark engines at scale"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_default_guard_drops_planted_hot_bucket(spark):
    """1001 clones share every band bucket (size 1001 > the 1000
    default); the default guard drops those buckets so the clones pair
    with NOTHING, while the control pair (buckets of size 2) still
    surfaces."""
    from grpc_map_reduce_spark.operators.dedup import (
        LSH_MAX_BUCKET_DEFAULT,
        lsh_near_dup,
    )

    docs = _planted_docs(spark, LSH_MAX_BUCKET_DEFAULT + 1)
    got = {(r.doc_a, r.doc_b) for r in lsh_near_dup(docs).collect()}
    assert got == {(100_000, 100_001)}, (
        "default guard must drop the oversized band buckets entirely "
        "and keep the control pair"
    )


def test_minhash_explicit_none_keeps_hot_bucket(spark):
    """max_bucket=None (the oracle-twin config) keeps hot buckets —
    the exact band-join semantics remain available by explicit ask."""
    from grpc_map_reduce_spark.operators.dedup import minhash_candidates

    rows = [(i, "alpha beta gamma delta") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # the tiny corpus never trips the 1000 default, so force a cap the
    # clones exceed, then show None disables it
    assert minhash_candidates(docs, max_bucket=3).count() == 0
    assert minhash_candidates(docs, max_bucket=None).count() == 10  # C(5,2)


def test_lsh_hot_buckets_surfaces_dropped_buckets(spark):
    """The companion reporter returns exactly the buckets the guard
    drops, with their sizes — guard activity is observable, not a
    silent recall dip."""
    from grpc_map_reduce_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_ROWS_PER_BAND,
        lsh_hot_buckets,
    )

    rows = [(i, "alpha beta gamma delta") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hot = lsh_hot_buckets(docs, max_bucket=3).collect()
    # identical docs -> identical signatures -> one hot bucket per band
    assert len(hot) == len(MINHASH_A) // MINHASH_ROWS_PER_BAND
    assert all(r.sz == 5 for r in hot)
    assert lsh_hot_buckets(docs, max_bucket=5).count() == 0


def test_guarded_oracle_twin_parity_on_planted_data(spark):
    """lsh_pairs_sql(max_bucket=...) — the mirror the clustering
    oracles now use — must agree with the guarded Spark path on data
    where the guard actually FIRES (fixture data never trips it)."""
    from grpc_map_reduce_spark.operators.dedup import (
        LSH_NEAR_DUP_THRESHOLD,
        lsh_near_dup,
        lsh_pairs_sql,
    )

    docs = _planted_docs(spark, 6)
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in lsh_near_dup(docs, max_bucket=3).collect()
    }

    con = duckdb.connect()
    try:
        con.register("documents", docs.toPandas())
        sql = (
            f"WITH {lsh_pairs_sql(LSH_NEAR_DUP_THRESHOLD, max_bucket=3)}\n"
            "SELECT doc_a, doc_b, jaccard FROM pairs"
        )
        want = {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()
    assert got == want
    assert got == {(100_000, 100_001, 1.0)}


def test_embedding_lsh_guard_default_and_explicit_none(spark):
    """Hyperplane-LSH path: same guard contract as the MinHash path."""
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_lsh_candidates,
    )

    vec = [0.5, -0.25, 0.75, 0.1]
    rows = [(i, vec) for i in range(5)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert embedding_lsh_candidates(vecs, max_bucket=3).count() == 0
    assert embedding_lsh_candidates(vecs, max_bucket=None).count() == 10


def test_reliable_checkpoint_dir_knob(spark, tmp_path):
    """VERDICT r5 item 4: with spark.graft.reliableCheckpointDir set,
    the iterative operators checkpoint to storage (survives executor
    loss on a real cluster) — same results, and the directory actually
    receives checkpoint data."""
    import os

    from grpc_map_reduce_spark.operators.clustering import (
        connected_components,
    )
    from grpc_map_reduce_spark.plans.checkpoint import (
        RELIABLE_DIR_CONF,
        set_reliable_checkpoint_dir,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "src long, dst long"
    )
    want = {(r.node, r.component)
            for r in connected_components(edges).collect()}

    ckpt = str(tmp_path / "reliable_ckpt")
    set_reliable_checkpoint_dir(spark, ckpt)
    try:
        got = {(r.node, r.component)
               for r in connected_components(edges).collect()}
        # checkpoint RDD directories were materialized under the knob dir
        wrote = any(files for _, _, files in os.walk(ckpt))
    finally:
        set_reliable_checkpoint_dir(spark, None)

    assert got == want
    assert wrote, "reliable mode must write checkpoint data to the dir"
    assert spark.conf.get(RELIABLE_DIR_CONF, None) is None


def test_guards_are_on_by_default():
    """Signature-level pin: a silent revert of any default is a test
    failure, not a code-review catch."""
    from grpc_map_reduce_spark.operators import dedup, similarity

    for fn in (dedup.minhash_candidates, dedup.lsh_near_dup,
               dedup.containment_pairs):
        assert (inspect.signature(fn).parameters["max_bucket"].default
                == dedup.LSH_MAX_BUCKET_DEFAULT), fn.__name__
    for fn in (similarity.embedding_lsh_candidates,
               similarity.embedding_lsh_near_dup):
        assert (inspect.signature(fn).parameters["max_bucket"].default
                == similarity.EMB_LSH_MAX_BUCKET_DEFAULT), fn.__name__


def test_pin_storage_level_is_serialized(spark):
    """VERDICT r5 item 1 follow-through: the 125x capped-heap probe
    OOM'd unrolling DESERIALIZED localCheckpoint blocks (MemoryStore
    putIteratorAsValues under 32 concurrent tasks), and in round 11
    even serialized memory+disk pins OOM'd the 8 GiB cap at 3125x.
    Every pin in the engine — ``pin()`` and iter_checkpoint's local
    path — therefore stores at the one level DISK_ONLY: serialized,
    with no memory unroll at all.  Assert the level on live pinned
    frames, not on a constant."""
    from grpc_map_reduce_spark.plans.checkpoint import iter_checkpoint, pin

    # DataFrame.storageLevel consults the CACHE manager, which does
    # not track localCheckpoint blocks — diff the live persisted-RDD
    # registry around the pin and read the level off the NEW entry
    # (the shared test session may hold other tests' caches,
    # including deserialized DataFrame .persist() ones).
    jsc = spark.sparkContext._jsc
    for make in (lambda df: pin(df, eager=True), iter_checkpoint):
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        df = make(spark.range(10).toDF("n"))
        assert df.count() == 10
        new_levels = {
            str(rdd.getStorageLevel())
            for rid, rdd in jsc.getPersistentRDDs().items()
            if rid not in before
        }
        assert new_levels, "an eager pin must register a persisted RDD"
        # JVM toString: "StorageLevel(disk, 1 replicas)" for DISK_ONLY;
        # a "deserialized" token appears for the JVM default.
        for lvl in new_levels:
            assert lvl == "StorageLevel(disk, 1 replicas)" and (
                "deserialized" not in lvl
            ), f"pinned blocks must be DISK_ONLY; got {new_levels}"
