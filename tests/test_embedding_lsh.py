"""Gates for the embedding-side LSH scale path: subset-of-exact with
identical sims, a recall floor vs the exact all-pairs operator, and
determinism of the seeded hyperplane signatures."""

from __future__ import annotations

import pytest

from grpc_map_reduce_spark.operators.similarity import (
    embedding_lsh_candidates,
    embedding_lsh_near_dup,
    embedding_near_dup,
)
from grpc_map_reduce_spark.sources.tables import table


def test_embedding_lsh_subset_and_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    exact = {(r.id_a, r.id_b): r.sim for r in embedding_near_dup(emb).collect()}
    approx = {(r.id_a, r.id_b): r.sim for r in embedding_lsh_near_dup(emb).collect()}

    assert set(approx) <= set(exact), "LSH+rescore must be a subset of exact"
    for pair, sim in approx.items():
        assert exact[pair] == sim, f"rescored sim diverged for {pair}"
    if exact:
        recall = len(approx) / len(exact)
        # Probed 0.63 at sf0.01 with 96 bits / 6-bit bands (md5-derived
        # uniform hyperplanes) in the fixture's adversarial
        # s∈[0.4, 0.51] regime (see module comment in similarity.py).
        assert recall >= 0.5, f"embedding-LSH recall collapsed: {recall}"


def test_embedding_lsh_candidates_deterministic_and_pruning(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    a = sorted((r.id_a, r.id_b) for r in embedding_lsh_candidates(emb).collect())
    b = sorted((r.id_a, r.id_b) for r in embedding_lsh_candidates(emb).collect())
    assert a == b and len(a) > 0
    # The candidate set must actually prune: strictly fewer pairs than
    # the n·(n−1)/2 all-pairs blow-up it replaces.
    n = emb.count()
    assert len(a) < 0.5 * n * (n - 1) / 2


def test_embedding_lsh_rejects_band_width_not_dividing_bits(spark, sf_dir):
    """A ``rows_per_band`` that does not divide ``n_bits`` is refused
    with ValueError, which ``python -O`` cannot strip."""
    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="rows_per_band"):
        embedding_lsh_candidates(emb, n_bits=96, rows_per_band=7)


def test_embedding_lsh_max_bucket_guard(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    assert embedding_lsh_candidates(emb, max_bucket=1).count() == 0


def test_selective_regime_finds_planted_twins_and_stays_selective(spark, sf_dir):
    """Round-7 gate for the registered SELECTIVE operating point
    (s>=0.9, 16-bit bands): the planted twin pairs must be found with
    high recall, and the candidate set must stay near-linear — the
    whole point of the selective calibration is that unrelated pairs
    almost never collide in a 16-bit band."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_AUG_ID_OFFSET,
        EMB_SELECTIVE_ROWS_PER_BAND,
        EMB_SELECTIVE_THRESHOLD,
        planted_near_dup_corpus,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    aug = planted_near_dup_corpus(emb)
    assert aug.count() == 2 * n

    found = {
        (r.id_a, r.id_b)
        for r in embedding_lsh_near_dup(
            aug,
            threshold=EMB_SELECTIVE_THRESHOLD,
            rows_per_band=EMB_SELECTIVE_ROWS_PER_BAND,
        ).collect()
    }
    planted = {
        (r.vec_id, r.vec_id + EMB_AUG_ID_OFFSET)
        for r in emb.select("vec_id").collect()
    }
    # Every reported pair is a planted twin (nothing else in the
    # fixtures is >= 0.9-similar) and recall is high: the twin cosine
    # is ~0.986-0.994, so the 6x16-bit banding detects ~98%.
    assert found <= planted
    assert len(found) >= 0.9 * n, f"planted-twin recall {len(found)}/{n}"

    # Selectivity: candidates stay near-linear in corpus size — far
    # below the quadratic blow-up of the adversarial 6-bit regime.
    cand = embedding_lsh_candidates(
        aug, rows_per_band=EMB_SELECTIVE_ROWS_PER_BAND
    ).count()
    assert cand <= 4 * n, f"selective candidate set blew up: {cand} for n={n}"


def test_selective_band_params_scale_with_corpus():
    """The scaled selective path must hold r at the registered floor
    for fixture corpora (so the pinned oracle twin and the scale
    caller agree there) and grow it logarithmically past the key
    space's saturation point."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_SELECTIVE_ROWS_PER_BAND,
        selective_band_params,
    )

    for n in (0, 1, 500, 4000, 4096):
        n_bits, r = selective_band_params(n)
        assert r == EMB_SELECTIVE_ROWS_PER_BAND and n_bits == 6 * r
    for n, want in ((100_000, 21), (500_000, 23), (5_000_000, 27)):
        n_bits, r = selective_band_params(n)
        assert r == want and n_bits == 6 * r
        # the sizing contract: expected random collisions stay O(n)
        assert 2 ** r >= 16 * n


def test_selective_scaled_equals_registered_at_fixture_scale(spark, sf_dir):
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_SELECTIVE_ROWS_PER_BAND,
        EMB_SELECTIVE_THRESHOLD,
        embedding_lsh_selective_scaled,
        planted_near_dup_corpus,
    )

    aug = planted_near_dup_corpus(table(spark, sf_dir, "embeddings"))
    scaled = {tuple(r) for r in embedding_lsh_selective_scaled(aug).collect()}
    pinned = {tuple(r) for r in embedding_lsh_near_dup(
        aug,
        threshold=EMB_SELECTIVE_THRESHOLD,
        rows_per_band=EMB_SELECTIVE_ROWS_PER_BAND,
    ).collect()}
    assert scaled == pinned and len(pinned) > 0


def test_incremental_neardup_contract(spark, sf_dir):
    """Round-7 gate for the one-sided ingest dedup: total output (one
    row per incoming id), both is_dup branches present, matches point
    at each twin's own original with the exact rescored cosine, and
    unmatched rows carry the documented sentinels."""
    from grpc_map_reduce_spark.operators.similarity import (
        EMB_AUG_ID_OFFSET,
        embedding_incremental_neardup,
        planted_twins,
    )

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    rows = {r.vec_id: r for r in embedding_incremental_neardup(
        emb, planted_twins(emb)
    ).collect()}
    assert len(rows) == n, "output must be total over the incoming side"
    dup = [r for r in rows.values() if r.is_dup]
    miss = [r for r in rows.values() if not r.is_dup]
    assert len(dup) >= 0.9 * n, f"planted-twin recall {len(dup)}/{n}"
    for r in dup:
        # the only >=0.9 corpus neighbor of twin(i) is original i
        assert r.best_match_id == r.vec_id - EMB_AUG_ID_OFFSET
        assert r.n_matches == 1 and r.best_sim >= 0.9
    for r in miss:
        assert (r.n_matches, r.best_match_id, r.best_sim) == (0, -1, 0.0)
