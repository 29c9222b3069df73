"""Connected-components correctness beyond the oracle query: the
large-star/small-star iteration must match a reference union-find on
arbitrary graphs, including high-diameter paths (the case plain
min-propagation is slow on and an early-terminating implementation
gets wrong)."""

from __future__ import annotations

import random

import pytest


def _union_find(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {i: i for i in range(n_nodes)}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    comp: dict[int, int] = {}
    for i in range(n_nodes):
        r = find(i)
        comp[i] = min(comp.get(r, r), r)
    return {i: comp[find(i)] for i in range(n_nodes)}


def _spark_cc(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    from grpc_map_reduce_spark.operators.clustering import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 30, 15), (2, 50, 60), (3, 40, 10)])
def test_cc_matches_union_find_on_random_graphs(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    expected = _union_find(n_nodes, edges)
    got = _spark_cc(spark, edges)
    # spark output only covers nodes that appear in an edge
    touched = {a for a, b in edges if a != b} | {b for a, b in edges if a != b}
    assert got == {i: expected[i] for i in sorted(touched)}


def test_cc_path_graph_high_diameter(spark):
    # 0-1-2-...-19: one component rooted at 0, diameter 19
    edges = [(i, i + 1) for i in range(19)]
    got = _spark_cc(spark, edges)
    assert got == {i: 0 for i in range(20)}


def test_cc_two_components_with_dups_and_self_loops(spark):
    edges = [(5, 3), (3, 5), (3, 9), (9, 9), (20, 11), (11, 20)]
    got = _spark_cc(spark, edges)
    assert got == {3: 3, 5: 3, 9: 3, 11: 11, 20: 11}


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from grpc_map_reduce_spark.operators.clustering import (
        PAGERANK_DAMPING,
        PAGERANK_ITERS,
        pagerank,
    )

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    got = {r["node"]: r["rank"] for r in
           pagerank(spark.createDataFrame(edges, "src long, dst long")).collect()}

    # numpy reference on the symmetrized graph
    n = 4
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1
    outd = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERS):
        r = (1 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * (adj.T @ (r / outd))
    want = {i: round(float(r[i]), 6) for i in range(n)}
    assert got == want


def test_pagerank_edges_unique_matches_default_on_canonical_edges(spark):
    # The edges_unique=True fast path (skips the symmetric closure's
    # distinct) must be rank-identical to the default path whenever
    # the input really is one canonical (lo, hi) row per undirected
    # edge — the lsh_near_dup contract.
    import random

    from grpc_map_reduce_spark.operators.clustering import pagerank

    rng = random.Random(7)
    seen = set()
    while len(seen) < 40:
        a, b = rng.randrange(25), rng.randrange(25)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(seen), "src long, dst long")
    default = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    fast = {r["node"]: r["rank"]
            for r in pagerank(df, edges_unique=True).collect()}
    assert fast == default


def test_lpa_and_triangles_edges_unique_match_default(spark):
    # Same parity contract for the other two edges_unique fast paths.
    import random

    from grpc_map_reduce_spark.operators.clustering import (
        label_propagation,
        triangle_counts,
    )

    rng = random.Random(11)
    seen = set()
    while len(seen) < 60:
        a, b = rng.randrange(20), rng.randrange(20)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(seen), "src long, dst long")

    lpa_default = {tuple(r) for r in label_propagation(df).collect()}
    lpa_fast = {tuple(r)
                for r in label_propagation(df, edges_unique=True).collect()}
    assert lpa_fast == lpa_default

    tri_default = {tuple(r) for r in triangle_counts(df).collect()}
    tri_fast = {tuple(r)
                for r in triangle_counts(df, edges_unique=True).collect()}
    assert tri_fast == tri_default


def test_leakage_safe_split_never_straddles_clusters(spark, sf_dir):
    # The whole point of the cluster-hash split: every near-dup
    # cluster is wholly train or wholly test, and the assignment is
    # total (every doc appears exactly once).
    from pyspark.sql import functions as F

    from grpc_map_reduce_spark.operators.clustering import leakage_safe_split
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    per_doc = leakage_safe_split(docs)
    straddlers = (
        per_doc.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0
    assert per_doc.count() == docs.count()
    assert per_doc.select("doc_id").distinct().count() == docs.count()
    # Both sides non-empty at fixture scale (md5 buckets spread).
    sides = {r["split"] for r in per_doc.select("split").distinct().collect()}
    assert sides == {"train", "test"}


def test_canonical_one_per_cluster_max_quality(spark, sf_dir):
    from grpc_map_reduce_spark.operators.clustering import canonical_docs
    from grpc_map_reduce_spark.sources.tables import table

    rows = canonical_docs(table(spark, sf_dir, "documents")).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1, f"cluster {cid}: {len(canon)} canonicals"
        best_q = max(m["quality_bp"] for m in members)
        assert canon[0]["quality_bp"] == best_q
        # min doc_id among quality ties
        assert canon[0]["doc_id"] == min(
            m["doc_id"] for m in members if m["quality_bp"] == best_q
        )
        assert all(m["cluster_size"] == len(members) for m in members)


def test_triangle_counts_known_graph(spark):
    from grpc_map_reduce_spark.operators.clustering import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus pendant 5-6
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 6),
             (2, 1)]  # duplicate reversed edge must not double-count
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.degree, r.n_triangles, r.clustering_coeff_bp)
           for r in triangle_counts(df).collect()}
    for n in (1, 2, 3, 4):
        assert got[n] == (3, 3, 10000)  # coeff 1.0 -> 10000 bp
    assert got[5] == (1, 0, 0) and got[6] == (1, 0, 0)


def test_triangle_wedge_batching_invariant(spark, sf_dir):
    """Round-7 gate for the bounded-memory wedge phase: every batch
    count B must produce per-node results identical to the
    single-pass plan — batching partitions the wedge set by the mid
    endpoint's hash, it must never change what gets counted."""
    from grpc_map_reduce_spark.operators.clustering import triangle_counts
    from grpc_map_reduce_spark.operators.dedup import lsh_near_dup
    from grpc_map_reduce_spark.operators.clustering import (
        PAGERANK_EDGE_THRESHOLD,
    )
    from grpc_map_reduce_spark.sources.tables import table
    from pyspark.sql import functions as F

    edges = lsh_near_dup(
        table(spark, sf_dir, "documents"), threshold=PAGERANK_EDGE_THRESHOLD
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    base = {tuple(r) for r in
            triangle_counts(edges, edges_unique=True,
                            wedge_batches=1).collect()}
    assert base, "fixture produced no triangle rows"
    for b in (3, 8):
        got = {tuple(r) for r in
               triangle_counts(edges, edges_unique=True,
                               wedge_batches=b).collect()}
        assert got == base, f"wedge_batches={b} changed the counts"
    # auto-sizing picks B=1 at fixture volumes -> identical plan/rows
    auto = {tuple(r) for r in
            triangle_counts(edges, edges_unique=True).collect()}
    assert auto == base


def test_sketch_edge_clusters_are_a_total_consistent_assignment(spark, sf_dir):
    """The sketch-edge CC twin must keep the dedup_clusters contract:
    one row per document, cluster_id = min doc_id of the component,
    and both endpoints of every sketch edge share a cluster."""
    from grpc_map_reduce_spark.operators.clustering import (
        _sketch_edges,
        dedup_clusters_sketch,
    )
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents")
    assign = {r.doc_id: r.cluster_id
              for r in dedup_clusters_sketch(docs).collect()}
    assert len(assign) == docs.count(), "assignment must be total"
    assert all(cid <= did for did, cid in assign.items())
    edges = _sketch_edges(docs).collect()
    assert edges, "fixture must produce sketch edges at 0.25"
    for e in edges:
        assert assign[e.src] == assign[e.dst], (
            f"edge ({e.src},{e.dst}) straddles clusters"
        )


def test_star_window_rewrite_matches_groupby_join_formulation(spark):
    """Round 12: _large_star/_small_star were rewritten from
    groupBy+self-join to a window over the same partitioning (one
    exchange per star instead of three, guide §2.4).  The rewrite must
    be OUTPUT-SET identical to the original formulation — this pins
    each star step against the old shape on random graphs, so a drift
    in the per-round edge sets (and hence the convergence trajectory)
    cannot hide behind an eventually-equal fixpoint."""
    import random

    from pyspark.sql import functions as F

    from grpc_map_reduce_spark.operators.clustering import (
        _large_star,
        _small_star,
    )

    def ref_large_star(edges):
        sym = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("min_nbr"))
        m = F.least(F.col("src"), F.col("min_nbr"))
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def ref_small_star(edges):
        d = edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins = d.groupBy("src").agg(F.min("dst").alias("m"))
        return (
            d.join(mins, "src")
            .select(F.col("dst").alias("v"), "m")
            .union(mins.select(F.col("src").alias("v"), "m"))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    rng = random.Random(12)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(30)
        ]
        df = spark.createDataFrame(edges, "src long, dst long").filter(
            F.col("src") != F.col("dst")
        )
        for new_fn, ref_fn in ((_large_star, ref_large_star),
                               (_small_star, ref_small_star)):
            got = {tuple(r) for r in new_fn(df).collect()}
            want = {tuple(r) for r in ref_fn(df).collect()}
            assert got == want, (new_fn.__name__, trial)
        # and one full round of the composed step
        got = {tuple(r) for r in _small_star(_large_star(df)).collect()}
        want = {tuple(r) for r in ref_small_star(ref_large_star(df)).collect()}
        assert got == want, trial


def test_cc_round_cap_raises_instead_of_partial_answer(spark):
    # A 201-node path needs ~9 star rounds; one round leaves a
    # non-fixpoint edge set that used to come back as duplicated nodes
    # in split components.
    from grpc_map_reduce_spark.operators.clustering import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(200)],
                               "src long, dst long")
    with pytest.raises(RuntimeError, match="round cap of 1 rounds"):
        connected_components(df, max_iter=1).collect()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _ring(spark):
    rows = [(i, (i + 1) % 30) for i in range(30)] + [(0, 15), (5, 20)]
    return spark.createDataFrame(rows, "src long, dst long")


@pytest.mark.parametrize("op", ["pagerank", "label_propagation"])
def test_iterate_releases_edge_cache(spark, op):
    from grpc_map_reduce_spark.operators import clustering

    spark.catalog.clearCache()
    assert len(getattr(clustering, op)(_ring(spark)).collect()) == 30
    assert _cache_empty(spark)


@pytest.mark.parametrize("op", ["pagerank", "label_propagation"])
def test_iterate_releases_edge_cache_when_a_round_raises(spark, op,
                                                         monkeypatch):
    from grpc_map_reduce_spark.operators import clustering
    from grpc_map_reduce_spark.plans import checkpoint

    seen = []

    def failing_round(df, eager=True):
        seen.append(_cache_empty(spark))
        raise RuntimeError("injected round failure")

    spark.catalog.clearCache()
    monkeypatch.setattr(checkpoint, "iter_checkpoint", failing_round)
    with pytest.raises(RuntimeError, match="injected round failure"):
        getattr(clustering, op)(_ring(spark))
    assert seen == [False], "the edge cache was not held during the round"
    assert _cache_empty(spark)
