"""Pin lifetime: every ``pin`` made inside a ``pins()`` scope is
released when the scope exits, so a long-lived session running one
query per scope accumulates no pinned blocks; a pin made outside any
scope is left to the ContextCleaner."""

from __future__ import annotations

import pytest

from grpc_map_reduce_spark import registry
from grpc_map_reduce_spark.plans.checkpoint import pin, pins

#: One pinning query per pinning operator module (basket, classifier,
#: clustering, data_quality, dedup, events, packing, pipeline,
#: retrieval, sampling, sketches, text_analysis, vocab), plus the
#: second dedup/graph shapes: the auto planner's shared sets+bands
#: pins and the triangle count's eager pins.
PINNING = [
    "dedup_lsh_neardup", "dedup_lsh_neardup_auto", "pagerank_neardup",
    "dedup_triangles", "kmv_merge_profile", "vocab_bpe_merges",
    "events_engagement", "packing_efficiency", "orders_market_basket",
    "embedding_centroid_classifier", "source_quality_psi",
    "pipeline_training_prep", "bm25_retrieval", "docs_dsir_scores",
    "pmi_collocations",
]


#: RDDs one execution of each MinHash-family query pins: only a frame
#: the query reads twice — the shingle sets of an exact rescore (band
#: rows, then both rescore sides), the exploded shingles of the
#: novelty join back, the auto planner's sets and band rows (census,
#: then the chosen branch).  A path that traverses its sets once pins
#: nothing.  The count is a property of the plan, not of the data.
MINHASH_PINS = {
    "dedup_minhash_lsh": 0, "dedup_hot_bucket_census": 0,
    "docs_ngram_novelty": 1, "dedup_lsh_neardup": 1,
    "dedup_containment": 1, "dedup_jaccard_calibration": 1,
    "dedup_sketch_confusion": 1, "dedup_incremental": 1,
    "dedup_lsh_neardup_auto": 2, "dedup_lsh_neardup_sketch": 0,
    "dedup_incremental_sketch": 0, "dedup_band_volume_census": 0,
    "dedup_ngram_jaccard": 0,
}


def _ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _scoped_run(spark, sf_dir, name) -> tuple[set, set]:
    """(pinned, leaked): the RDDs ``name`` pins while it runs in a
    ``pins()`` scope, and those still pinned after the scope exits."""
    before = _ids(spark)
    with pins():
        registry.all_queries()[name].spark_fn(spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()
        pinned = _ids(spark) - before
    return pinned, _ids(spark) - before


def _run_scoped_twice(spark, sf_dir, names, must_pin):
    for name in names:
        for _ in range(2):
            pinned, leaked = _scoped_run(spark, sf_dir, name)
            if must_pin:
                assert pinned, f"{name} pinned nothing — test is vacuous"
            assert not leaked, f"{name} left pinned RDDs {sorted(leaked)}"


def test_pinning_queries_release_their_pins(spark, sf_dir):
    _run_scoped_twice(spark, sf_dir, PINNING, must_pin=True)


def test_minhash_family_pins_only_what_it_reads_twice(spark, sf_dir):
    got = {name: len(_scoped_run(spark, sf_dir, name)[0])
           for name in MINHASH_PINS}
    assert got == MINHASH_PINS


@pytest.mark.slow
def test_every_query_releases_its_pins(spark, sf_dir):
    _run_scoped_twice(spark, sf_dir, sorted(registry.all_queries()),
                      must_pin=False)


def test_unscoped_pin_outlives_an_unrelated_scope(spark):
    outside = pin(spark.range(10), eager=True)
    rid = outside._jdf.queryExecution().logical().rdd().id()
    with pins():
        assert pin(spark.range(5), eager=True).count() == 5
    assert rid in _ids(spark)
    assert outside.count() == 10


def test_scope_releases_when_its_block_raises(spark):
    before = _ids(spark)
    with pytest.raises(RuntimeError):
        with pins():
            pin(spark.range(3), eager=True)
            assert _ids(spark) - before
            raise RuntimeError("query failed")
    assert not _ids(spark) - before
