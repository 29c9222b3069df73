"""Property checks for the approximate near-dup scale path: the LSH
candidate set must recover a healthy fraction of the exact-Jaccard
pairs (recall), and the composed pipeline must be a subset of exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.dedup import (
    _shingle_sets,
    lsh_near_dup,
    minhash_candidates,
    ngram_jaccard_pairs,
)
from grpc_map_reduce_spark.sources.tables import table


def test_lsh_near_dup_subset_and_recall(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.05)
    composed = lsh_near_dup(docs, threshold=0.05)

    exact_pairs = {(r.doc_a, r.doc_b) for r in exact.collect()}
    composed_pairs = {(r.doc_a, r.doc_b) for r in composed.collect()}

    assert composed_pairs <= exact_pairs, "LSH+rescore must be a subset of exact"
    if exact_pairs:
        recall = len(composed_pairs) / len(exact_pairs)
        # 1-row bands at the 0.05 threshold: probed 0.93 at sf0.01.
        assert recall > 0.8, f"LSH recall collapsed: {recall}"


def test_lsh_near_dup_rescore_values_match_exact(spark, sf_dir):
    """The array_intersect rescore must produce the IDENTICAL jaccard
    as the exact shingle-join formulation on every surviving pair."""
    docs = table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    for r in lsh_near_dup(docs, threshold=0.05).collect():
        assert exact[(r.doc_a, r.doc_b)] == r.jaccard


def test_lsh_near_dup_plan_has_no_shingle_self_join(spark, sf_dir):
    """The composed path's plan must never self-join the exploded
    shingle table: the only generator explodes band structs (candidate
    stage) — shingle sets reach the rescore as arrays, not rows."""
    from grpc_map_reduce_spark.plans.audit import explain_str

    import re

    docs = table(spark, sf_dir, "documents")
    # In formatted explain, join keys render as
    # "Left keys [n]: [sh_h#X, ...]" — a join keyed on the exploded
    # shingle-hash column is exactly the quadratic inverted-index
    # self-join.
    shingle_eq_join = re.compile(r"keys \[\d+\]: \[sh_h#")
    composed = explain_str(lsh_near_dup(docs), "formatted")
    assert not shingle_eq_join.search(composed), (
        "full shingle self-join leaked into LSH path"
    )
    # ...and the regex DOES catch a shingle self-join, so the
    # assertion above is load-bearing, not vacuous.  (The exact path,
    # ngram_jaccard_pairs, enumerates pairs inside per-shingle arrays
    # and plans no join, so the witness is built by hand.)
    sh = _shingle_sets(docs).select(
        "doc_id", F.explode("sh_set").alias("sh_h"))
    self_join = sh.alias("a").join(
        sh.alias("b"), (F.col("a.sh_h") == F.col("b.sh_h"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
    assert shingle_eq_join.search(explain_str(self_join, "formatted"))
    exact = explain_str(ngram_jaccard_pairs(docs), "formatted")
    assert not shingle_eq_join.search(exact)


def test_max_bucket_guard_drops_hot_buckets(spark, sf_dir):
    """With max_bucket=0 every bucket is 'hot', so no candidates (and
    no pairs) survive — the guard provably gates the pair fan-out."""
    from grpc_map_reduce_spark.operators.dedup import minhash_candidates

    docs = table(spark, sf_dir, "documents")
    assert minhash_candidates(docs, max_bucket=1).count() == 0
    n_unguarded = minhash_candidates(docs).count()
    assert n_unguarded > 0


def test_minhash_candidates_deterministic(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    a = sorted((r.doc_a, r.doc_b, r.n_bands) for r in minhash_candidates(docs).collect())
    b = sorted((r.doc_a, r.doc_b, r.n_bands) for r in minhash_candidates(docs).collect())
    assert a == b and len(a) > 0


def test_duplicate_doc_id_never_pairs_with_itself(spark):
    """Pair kernels drop pairs of two equal ids: a doc_id duplicated in
    the input must not pair with itself, on the MinHash candidate path,
    the composed LSH→rescore path or the dHash image path, and its
    pairs with the other docs must survive."""
    from grpc_map_reduce_spark.operators.multimodal import (
        attach_png_media,
        phash_near_dup_pairs,
    )

    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 3
    docs = spark.createDataFrame(
        [(1, text), (1, text), (2, text),
         (3, "completely different words here " * 10)],
        "doc_id long, text string",
    )
    for name, df in [
        ("minhash_candidates", minhash_candidates(docs)),
        ("lsh_near_dup", lsh_near_dup(docs)),
        ("phash_near_dup_pairs", phash_near_dup_pairs(attach_png_media(docs))),
    ]:
        pairs = {(r.doc_a, r.doc_b) for r in df.collect()}
        assert all(a != b for a, b in pairs), (name, pairs)
        assert (1, 2) in pairs, (name, pairs)


def test_incremental_matches_symmetric_cross_side(spark, sf_dir):
    """The one-sided incremental join must find exactly the cross-side
    subset of the symmetric LSH near-dup pairs."""
    from pyspark.sql import functions as F

    from grpc_map_reduce_spark.operators.dedup import (
        _side_is_corpus,
        incremental_dedup,
        lsh_near_dup,
    )
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    sym = lsh_near_dup(docs).collect()
    corpus = {
        r["doc_id"]
        for r in docs.select("doc_id")
        .filter(_side_is_corpus(F.col("doc_id")))
        .collect()
    }
    want = {}
    for r in sym:
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
        for inc, match in [(a, b), (b, a)]:
            if inc not in corpus and match in corpus:
                want.setdefault(inc, []).append((j, match))
    got = {r["doc_id"]: r for r in incremental_dedup(docs).collect()}
    all_incoming = {
        r["doc_id"] for r in docs.select("doc_id").collect()
    } - corpus
    assert set(got) == all_incoming
    for d, matches in want.items():
        r = got[d]
        assert r["is_dup"] and r["n_matches"] == len(matches)
        best_j = max(m[0] for m in matches)
        best_id = min(m[1] for m in matches if m[0] == best_j)
        assert (r["best_jaccard"], r["best_match_id"]) == (best_j, best_id)
    for d in all_incoming - set(want):
        r = got[d]
        assert not r["is_dup"] and r["n_matches"] == 0
        assert (r["best_match_id"], r["best_jaccard"]) == (-1, 0.0)


def test_minhash_signatures_match_explode_formulation(spark):
    """The kernel's ``sig`` must be value-identical to the original
    explode→groupBy(min) formulation, including dropping docs whose
    shingle set is empty (explode emits no rows for them; the kernel
    signs them NULL and the band rows must skip them, or empty docs
    would all share NULL-keyed band buckets)."""
    import random

    from grpc_map_reduce_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        _band_rows,
        _shingle_sets,
    )

    rng = random.Random(13)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for doc_id in range(30):
        n_words = rng.randrange(0, 12)  # 0 → empty shingle set
        rows.append((doc_id, " ".join(rng.choice(words) for _ in range(n_words))))
    rows.append((30, ""))        # definitely empty
    rows.append((31, "a b c"))   # exactly one 3-shingle
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sets = _shingle_sets(docs)
    sigs = {r["doc_id"]: r["sig"] for r in sets.collect()}
    got = {d: tuple(sig) for d, sig in sigs.items() if sig is not None}

    sh = sets.select("doc_id", F.explode("sh_set").alias("sh_h")).withColumn(
        "h", F.col("sh_h") % MINHASH_P
    )
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    want = {r["doc_id"]: tuple(r[f"m{i}"] for i in range(16))
            for r in sh.groupBy("doc_id").agg(*mins).collect()}

    assert got == want
    assert sigs[30] is None, "empty-text doc must be NULL-signed"
    banded = {r["doc_id"] for r in _band_rows(sets, 1).collect()}
    assert banded == set(want), "NULL-signed docs must have no band rows"


def test_band_keys_pack_components_injectively(spark):
    """Integer band keys: at rows_per_band 2 the key is m_a·2³¹ + m_b,
    so every (m_a, m_b) over the boundary components {0, 1, P−1} must
    give its own key, and rendering a key back must give the oracle's
    ``concat_ws('_', m_a, m_b)`` text.  Wider bands do not fit 63 bits
    and are refused."""
    import itertools

    import pytest

    from grpc_map_reduce_spark.operators.dedup import (
        MINHASH_P,
        _band_key_text,
        band_key_structs,
    )

    edge = [0, 1, MINHASH_P - 1]
    rows = [(i, [a, b] * 8)
            for i, (a, b) in enumerate(itertools.product(edge, repeat=2))]
    sigs = spark.createDataFrame(rows, "i int, sig array<long>")
    keys = sigs.select(
        "i", F.inline(band_key_structs([F.col("sig")[k] for k in range(16)], 2))
    ).where("band_idx = 0").select(
        "i", "key", _band_key_text(F.col("key"), 2).alias("text"))
    got = {r.i: (r.key, r.text) for r in keys.collect()}
    assert len({k for k, _ in got.values()}) == len(rows)
    for i, (a, b) in enumerate(itertools.product(edge, repeat=2)):
        assert got[i] == (a * 2**31 + b, f"{a}_{b}")
    for r in (0, 4, 8):
        with pytest.raises(ValueError):
            band_key_structs([F.col("sig")[k] for k in range(16)], r)


def test_split_contamination_cells_partition_the_pair_set(spark, sf_dir):
    """Every near-dup pair lands in exactly one split cell, and the
    leaked cell (train|test) plus the pure cells sum to the full pair
    count — the report is a partition, not a sample."""
    from grpc_map_reduce_spark.operators.clustering import q_split_contamination
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    n_pairs = lsh_near_dup(docs).count()
    cells = q_split_contamination(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in cells) == n_pairs
    for r in cells:
        assert r["split_a"] <= r["split_b"]


def test_auto_planner_picks_exact_under_budget_and_matches(spark, sf_dir):
    """At fixture volume the census total sits far under the pair
    budget, so the auto mode must take the exact branch (used_sketch
    False on every row) and reproduce lsh_near_dup at the same
    threshold, column-for-column."""
    from grpc_map_reduce_spark.operators.dedup import (
        SKETCH_THRESHOLD,
        lsh_near_dup_auto,
    )

    docs = table(spark, sf_dir, "documents")
    got = lsh_near_dup_auto(docs, max_bucket=None).collect()
    assert got, "fixture must produce near-dup pairs"
    assert all(not r.used_sketch for r in got)
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lsh_near_dup(
            docs, threshold=SKETCH_THRESHOLD, max_bucket=None
        ).collect()
    }
    assert {(r.doc_a, r.doc_b): r.score for r in got} == want


def test_auto_planner_exact_branch_leaves_cache_manager_empty(spark, sf_dir):
    """The exact branch's shingle-set pin must not stay registered in
    the session's CacheManager after the call: a registered frame
    silently serves every later identical ``_shingle_sets`` plan."""
    from grpc_map_reduce_spark.operators.dedup import lsh_near_dup_auto

    spark.catalog.clearCache()
    docs = table(spark, sf_dir, "documents")
    for _ in range(2):
        dec: list = []
        lsh_near_dup_auto(docs, max_bucket=None, decision=dec).collect()
        assert dec == [False], "fixture volume must take the exact branch"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_auto_planner_flips_to_sketch_over_budget(spark, sf_dir):
    """Forcing the budget to zero must flip the SAME corpus onto the
    sketch branch: used_sketch True everywhere, scores equal to the
    signature estimate, and zero array transport in the executed plan
    (no array_intersect downstream of the decision)."""
    from grpc_map_reduce_spark.operators.dedup import (
        lsh_near_dup_auto,
        lsh_near_dup_sketch,
    )

    docs = table(spark, sf_dir, "documents")
    dec: list = []
    auto = lsh_near_dup_auto(docs, max_bucket=None, pair_budget=0,
                             decision=dec)
    assert dec == [True], "decision hook must report the sketch branch"
    plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" not in plan, (
        "sketch branch must not ship shingle arrays"
    )
    got = {(r.doc_a, r.doc_b): r.score for r in auto.collect()}
    want = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in lsh_near_dup_sketch(docs, max_bucket=None).collect()
    }
    assert got == want
