"""Dedup clustering: connected components over the near-dup pair graph.

Pair-wise near-dup detection (dedup.py) answers "are A and B copies?";
production dedup needs the transitive closure — A~B and B~C must
land in ONE cluster with one keeper.  The reference engine has no
iterative dataflow at all (its pipeline is a single map→shuffle→reduce
pass, master.go:112-234), so this is pure extension surface.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
standard shuffle-based CC algorithm, converging in O(log² n) rounds
independent of component diameter.  Plain min-label propagation needs
O(diameter) rounds; a 100 TB corpus with chained near-dups (A~B~C~…)
makes diameter the tail risk, so the star algorithm is the scale
choice.

Scale notes:
  * Each round is two groupBy-shuffles on the node id — no driver
    state; the edge set lives entirely in executors.
  * ``iterate`` (plans/checkpoint.py) truncates lineage each round
    (iterative plans otherwise grow unboundedly and re-execute from
    the scan); setting ``spark.graft.reliableCheckpointDir`` makes
    every round a fault-tolerant ``checkpoint()`` to that directory.
  * Convergence test is a 2-value aggregate (count + xxhash64
    bit_xor of the edge set) — O(1) driver traffic per round.  No
    fixpoint within ``max_iter`` rounds raises instead of returning a
    partial answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.dedup import (
    LSH_MAX_BUCKET_DEFAULT, LSH_NEAR_DUP_THRESHOLD, SKETCH_MIN_BANDS,
    SKETCH_THRESHOLD, lsh_near_dup, lsh_near_dup_sketch, lsh_pairs_sql)
from grpc_map_reduce_spark.operators.sketches import SPLIT_TRAIN_PCT, _md5_long
from grpc_map_reduce_spark.plans.checkpoint import (
    iter_checkpoint, iterate, pin)
from grpc_map_reduce_spark.sources.tables import table

CLUSTER_JACCARD_THRESHOLD = 0.05  # probed at sf0.01: 27 LSH edges (was 29 exact)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) ∪ {u}).

    Round 12 (guide §2.4): the neighborhood min is a window over the
    SAME partitioning the old ``groupBy(src) + join back on src``
    needed — the window computes it in ONE exchange of ``sym`` where
    the self-join shape paid two (the aggregate's and the probe
    side's) plus the join itself.  Output rows are identical: same
    min, same filter, same projection, same ``distinct()``."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    m = F.least(F.col("src"), F.min("dst").over(w))
    return (
        sym.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges downward, connect each neighborhood to its min.

    Same window rewrite as :func:`_large_star` (one exchange instead
    of groupBy+join).  The old formulation emitted ``(src, m)`` once
    per distinct src via the aggregate; here the explode emits it once
    per row and the pre-existing ``distinct()`` collapses the copies —
    the output SET (what CC consumes; every path through it ends in
    distinct) is unchanged, and the union no longer evaluates the
    neighborhood-min subtree twice."""
    d = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    w = Window.partitionBy("src")
    return (
        d.withColumn("m", F.min("dst").over(w))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("v"), F.col("m")),
                    F.struct(F.col("src").alias("v"), F.col("m")),
                )
            ).alias("e")
        )
        .filter(F.col("e.v") != F.col("e.m"))
        .select(F.col("e.v").alias("src"), F.col("e.m").alias("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(node, component) for every node in ``edges`` (src/dst columns).

    ``component`` is the minimum node id of the connected component.
    Root nodes map to themselves.  Raises ``RuntimeError`` when the
    star rounds reach no fixpoint within ``max_iter`` rounds.
    """
    e = iter_checkpoint(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )
    e = iterate(e, lambda e: _small_star(_large_star(e)), max_iter,
                converge=True)
    # At the fixpoint the edge set is a star forest: (member, root).
    # The groupBy(min) is defensive canonicalization, free on the
    # already-tiny star edge set.
    members = e.groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    )
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.unionByName(roots)


def dedup_clusters(docs: DataFrame, edges: DataFrame | None = None) -> DataFrame:
    """Every document's dedup cluster id (min doc_id of its component).

    Documents with no near-dup partner form singleton clusters of
    themselves, so the output is a total assignment: one row per doc,
    ``cluster_id`` is the keeper.

    Edges come from the sub-quadratic LSH→rescore path
    (:func:`~grpc_map_reduce_spark.operators.dedup.lsh_near_dup` at
    ``CLUSTER_JACCARD_THRESHOLD``), not
    the exact all-pairs join, so edge generation survives 100 TB; the
    DuckDB oracle applies the identical candidate restriction.  The
    final assignment join is a plain shuffle join — ``cc`` is O(duped
    docs) and must NOT be broadcast at scale.

    ``edges`` swaps the edge source (``(src, dst)`` columns) while
    keeping the assignment mechanism — the sketch-edge twin passes
    signature-agreement edges here instead of duplicating the CC /
    join / coalesce contract (round-11 review).
    """
    if edges is None:
        edges = lsh_near_dup(docs, threshold=CLUSTER_JACCARD_THRESHOLD).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
    cc = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(table(spark, sf_dir, "documents"))


# DuckDB twin: recursive transitive closure, min reachable id per node,
# over the SAME LSH-candidates ∩ exact-Jaccard edge set the Spark side
# computes (shared fragment: dedup.lsh_pairs_sql).  (Exponential-ish on
# dense graphs — fine at the 0.05 threshold's sparse edge set.)
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {lsh_pairs_sql(CLUSTER_JACCARD_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS id, doc_id AS r FROM documents
    UNION
    SELECT e.src AS id, reach.r AS r
    FROM edges e JOIN reach ON e.dst = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


# --------------------------------------------------------------------------
# Leakage-safe train/test split: hash CLUSTERS into splits, not
# documents.  The doc-level hash_split (sketches.py) leaks near-dups
# across the boundary — a test document whose near-copy sits in train
# inflates eval scores (the standard contamination failure in LM
# corpus prep; decontamination papers call this split leakage).
# Hashing the dedup cluster id instead guarantees every near-dup
# neighborhood lands wholly on one side.  Pure extension surface: the
# reference engine has no notion of dataset splits at all.
#
# Scale: reuses the sub-quadratic LSH→CC assignment (one extra map
# column on top of dedup_clusters); the doc→cluster join is the same
# shuffle join dedup_clusters already does and the final aggregate is
# two rows.  Nothing here is new shuffle surface.


def leakage_safe_split(docs: DataFrame,
                       assign: DataFrame | None = None) -> DataFrame:
    """Per-doc (doc_id, n_chars, cluster_id, split) with the split
    decided by ``md5(cluster_id) % 100 < SPLIT_TRAIN_PCT`` — deterministic,
    engine-replayable, and constant within each near-dup cluster, so
    no cluster ever straddles train/test.  ``assign`` swaps the
    cluster-assignment source (sketch twin) while keeping the one
    split rule."""
    if assign is None:
        assign = dedup_clusters(docs)
    bucket = _md5_long(F.col("cluster_id").cast("string")) % 100
    return (
        docs.select("doc_id", "n_chars")
        .join(assign, "doc_id")
        .withColumn(
            "split",
            F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train")).otherwise(F.lit("test")),
        )
    )


def _split_report(per_doc: DataFrame) -> DataFrame:
    """The split-report aggregate both leakage twins share."""
    return per_doc.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split report: doc/cluster/char counts per side — the numbers a
    pipeline checks before committing a split (ratio near target,
    clusters never straddling by construction)."""
    return _split_report(leakage_safe_split(table(spark, sf_dir, "documents")))


# Same recursive-CTE cluster assignment as ORACLE_DEDUP_CLUSTERS, then
# the md5-bucket CASE replayed on cluster_id (hash_split idiom).
ORACLE_LEAKAGE_SPLIT = f"""
WITH RECURSIVE {lsh_pairs_sql(CLUSTER_JACCARD_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS id, doc_id AS r FROM documents
    UNION
    SELECT e.src AS id, reach.r AS r
    FROM edges e JOIN reach ON e.dst = reach.id
),
clusters AS (
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
),
labeled AS (
    SELECT d.doc_id, d.n_chars, c.cluster_id,
           CASE WHEN (('0x' || substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 8))::BIGINT
                      % 100) < {SPLIT_TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM documents d JOIN clusters c USING (doc_id)
)
SELECT split,
       count(*)                     AS n_docs,
       count(DISTINCT cluster_id)   AS n_clusters,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM labeled
GROUP BY split
"""


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination report for the DOC-level hash split: near-dup
    pairs bucketed by the splits their endpoints landed in.  The
    ``train|test`` cell counts the leaked pairs — eval documents whose
    near-copy sits in train — i.e. exactly what
    :func:`leakage_safe_split` drives to zero by hashing clusters
    instead.  Run this against any externally-produced split before
    trusting its eval numbers.

    Scale: one LSH pass (guard default-ON on both engines, see
    ``lsh_pairs_sql``) + two shuffle joins of the tiny (doc_id, split)
    table onto the pair endpoints + a 3-row aggregate.
    """
    from grpc_map_reduce_spark.operators.sketches import hash_split

    docs = table(spark, sf_dir, "documents")
    pairs = lsh_near_dup(docs).select("doc_a", "doc_b")
    s = hash_split(docs.select("doc_id")).select("doc_id", "split")
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
    )


ORACLE_SPLIT_CONTAMINATION = f"""
WITH {lsh_pairs_sql(LSH_NEAR_DUP_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
splits AS (
    SELECT doc_id,
           CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 100) < {SPLIT_TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM documents
),
cells AS (
    SELECT least(sa.split, sb.split)    AS split_a,
           greatest(sa.split, sb.split) AS split_b
    FROM pairs p
    JOIN splits sa ON p.doc_a = sa.doc_id
    JOIN splits sb ON p.doc_b = sb.doc_id
)
SELECT split_a, split_b, count(*) AS n_pairs
FROM cells
GROUP BY split_a, split_b
"""


# --------------------------------------------------------------------------
# PageRank over the (denser, low-threshold) near-dup graph: which
# documents sit at the center of duplicate neighborhoods?  High-rank
# docs are canonical-copy candidates; the iteration pattern is the
# template for any fixed-point graph computation on DataFrames.
#
# Each iteration = one join (ranks onto edges) + one groupBy(dst) —
# two shuffles on the node id, both AQE-managed; ranks are
# lazy-checkpointed per round so the plan does not grow with K.
# K is FIXED (not convergence-tested) so the DuckDB oracle can unroll
# the same K rounds as chained CTEs; both engines round only the
# final rank, and per-round double sums differ at ~1e-15 relative,
# far under the 6 dp comparison.
PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3
PAGERANK_EDGE_THRESHOLD = 0.008  # dense graph: ~6k edges at sf0.01


def pagerank(edges: DataFrame, edges_unique: bool = False) -> DataFrame:
    """(node, rank) after ``PAGERANK_ITERS`` power iterations (damping
    ``PAGERANK_DAMPING``) on the
    symmetrized ``edges`` (src/dst).  Nodes = every id in the edge
    set; the symmetric closure means no dangling nodes.

    ``edges_unique=True`` asserts the input holds each undirected
    edge exactly once as a canonical (lo, hi) pair — true of every
    ``lsh_near_dup`` output — and skips the symmetric closure's
    ``distinct()``: at 125x fixture volume that dedup re-shuffles the
    widest table in the prologue (2x the edge count) for zero effect.
    Leave False for arbitrary edge lists; a duplicated or
    both-orientations input would otherwise double-count degree and
    contributions."""
    # Pin the incoming edge set FIRST: it is read by both union
    # branches and (via sym) by the degree aggregate — without the
    # checkpoint an expensive edge-gen lineage (the LSH pipeline)
    # re-executes once per consumer branch inside the one action.
    edges = iter_checkpoint(edges, eager=False)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if not edges_unique:
        sym = sym.distinct()
    sym = iter_checkpoint(sym, eager=False)
    deg = sym.groupBy("src").agg(F.count("*").alias("outd"))
    # Fold the out-degree onto each edge ONCE: every iteration then
    # does one join (ranks) + one groupBy instead of re-deriving the
    # degree aggregate.  The loop-invariant edge table is
    # hash-partitioned by the join key and is ``iterate``'s cache, so
    # it stays put and only the small rank table moves (the GraphX
    # pattern).
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    sym_deg = sym.join(deg, "src").repartition(n_part, "src")
    nodes = iter_checkpoint(deg.select(F.col("src").alias("node")), eager=False)
    n = nodes.count()

    def power_iteration(ranks: DataFrame) -> DataFrame:
        contrib = (
            sym_deg.join(ranks, sym_deg.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outd")).alias("c"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit((1 - PAGERANK_DAMPING) / n)
             + PAGERANK_DAMPING * F.coalesce("c", F.lit(0.0))).alias("rank"),
        )

    ranks = iterate(nodes.withColumn("rank", F.lit(1.0 / n)), power_iteration,
                    PAGERANK_ITERS, cache=sym_deg)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges from the sub-quadratic LSH→rescore path (1-row bands at
    the low 0.008 threshold keep the graph dense: ~1.1k edges at
    sf0.01 vs ~6k exact — recall 0.17 by design down there; the
    oracle applies the identical candidate restriction)."""
    edges = lsh_near_dup(
        table(spark, sf_dir, "documents"), threshold=PAGERANK_EDGE_THRESHOLD
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # lsh_near_dup emits each undirected pair once (doc_a < doc_b) —
    # skip the symmetric closure's redundant distinct.
    return pagerank(edges, edges_unique=True).withColumnRenamed(
        "node", "doc_id")


def _pagerank_oracle() -> str:
    d = PAGERANK_DAMPING
    rounds = "".join(
        f""",
r{i + 1} AS MATERIALIZED (
    SELECT n.node,
           (1 - {d}) / (SELECT cnt FROM nn)
           + {d} * coalesce(sum(r{i}.rank / deg.outd), 0) AS rank
    FROM nodes n
    LEFT JOIN sym  ON sym.dst = n.node
    LEFT JOIN r{i} ON r{i}.node = sym.src
    LEFT JOIN deg  ON deg.src = sym.src
    GROUP BY n.node
)"""
        for i in range(PAGERANK_ITERS)
    )
    return f"""
WITH {lsh_pairs_sql(PAGERANK_EDGE_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
sym AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS MATERIALIZED (SELECT src, count(*) AS outd FROM sym GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM deg),
nn AS MATERIALIZED (SELECT count(*) AS cnt FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT cnt FROM nn) AS rank FROM nodes){rounds}
SELECT node AS doc_id, round(rank, 6) AS rank FROM r{PAGERANK_ITERS}
"""


ORACLE_PAGERANK = _pagerank_oracle()


# --------------------------------------------------------------------------
# Canonical-copy selection — the step a training pipeline actually
# runs after clustering: keep exactly ONE representative per near-dup
# cluster, chosen by quality, drop the rest.  Tie-break is (quality_bp
# desc, doc_id asc) via max(struct(quality, -doc_id)) — an aggregate,
# not a ranking window, so no per-cluster sort materializes.
#
# Shuffle budget: cluster assignment (above) + one PK join of two
# doc-keyed tables (clusters ⋈ quality — quality is map-only) + one
# groupBy(cluster_id) + one cluster-keyed join for the per-doc flag.
# Every key is doc- or cluster-grained; nothing is quadratic.
def canonical_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, quality_bp, is_canonical)
    for every doc: the canonical copy of each near-dup cluster is the
    highest-quality member (min doc_id among ties)."""
    from grpc_map_reduce_spark.operators.text_analysis import quality_scores

    clusters = dedup_clusters(docs)
    qual = quality_scores(docs).select("doc_id", "quality_bp")
    # Pinned: both the per-cluster argmax and the final flag join read
    # this — without the checkpoint the cluster-assignment join (and
    # the quality scan) re-execute once per consumer.
    scored = pin(clusters.join(qual, "doc_id"))
    per_cluster = scored.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.max(F.struct(F.col("quality_bp"), (-F.col("doc_id")).alias("nid")))
        .alias("m"),
    )
    return (
        scored.join(
            per_cluster.select(
                "cluster_id", "cluster_size", (-F.col("m.nid")).alias("canonical_id")
            ),
            "cluster_id",
        )
        .select(
            "doc_id",
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "quality_bp",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonical_docs(table(spark, sf_dir, "documents"))


# quality_bp fragment mirrors text_analysis.ORACLE_QUALITY term-for-
# term (bit-identical doubles before the floor); clustering mirrors
# ORACLE_DEDUP_CLUSTERS.
ORACLE_DEDUP_CANONICAL = f"""
WITH RECURSIVE {lsh_pairs_sql(CLUSTER_JACCARD_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
    SELECT doc_id AS id, doc_id AS r FROM documents
    UNION
    SELECT e.src AS id, reach.r AS r
    FROM edges e JOIN reach ON e.dst = reach.id
),
clusters AS (
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
),
qf AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> ''))                                AS n_words,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
               w -> list_contains(['the','a','of','and','to','in','is','on','for','with'], w)))
                                                                         AS n_stop,
           len(regexp_extract_all(text, '[^\\w\\s]'))                    AS n_punct,
           length(text)                                                  AS n_chars
    FROM documents
),
qual AS (
    SELECT doc_id,
           CAST(floor((0.4 * least(n_words / 100.0, 1.0)
               + 0.3 * least((n_stop * 1.0 / n_words) * 10, 1.0)
               + 0.3 * (1 - least((n_punct * 1.0 / n_chars) * 5, 1.0))) * 10000)
               AS BIGINT) AS quality_bp
    FROM qf
)
SELECT c.doc_id,
       c.cluster_id,
       CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
       q.quality_bp,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.quality_bp DESC, c.doc_id) = 1
           AS is_canonical
FROM clusters c JOIN qual q USING (doc_id)
"""


# --------------------------------------------------------------------------
# Triangle counting over the near-dup graph — the density diagnostic
# for dedup quality: triangles are triples of mutually-similar docs
# (template families, mirror farms); a node's local clustering
# coefficient separates "hub of one template" from "bridge between
# unrelated dups".  Algorithm: degree-oriented wedge join (Suri &
# Vassilvitskii, WWW'11 "Counting Triangles and the Curse of the Last
# Reducer" / Schank–Wagner forward counting): every edge is directed
# from its (degree, id)-smaller endpoint, wedges (v,w) are enumerated
# at their common source, then closed by one join back onto the
# canonical edge set.  Three shuffles; wedge fan-out per node is
# bounded at O(√m), so the wedge exchange is O(m^1.5) worst-case
# instead of Σ deg² concentrated on template hubs — the min-id
# variant measured that concentration the hard way at the 125x probe
# (>78 GB of spill before failing; the oriented join survives the
# same volume in the same capped heap).
#
# clustering_coeff_bp = floor(2·T·10⁴ / (deg·(deg−1))) — exact-int
# numerator and denominator, one IEEE division + floor: hash-stable
# (functions.money rationale).
#: Wedge rows per batch for the bounded-memory wedge phase: batches
#: are sized so one batch's wedge exchange + closure probe stays
#: comfortably inside a capped-heap task AND one batch's shuffle
#: footprint bounds peak disk (each batch's partial counts are
#: eagerly pinned, ending its job so the shuffle cleaner can reclaim
#: its files while the next batch runs — peak disk = max(batch)
#: instead of Σ batches).  Calibrated at 32 M wedge rows (~800 MB
#: exchanged per batch): the 25× probe tier (28.2 M wedges), which
#: fits the 8 GiB cap single-pass, computes B = 1 and pays ZERO
#: batching overhead (measured: B=2 there cost 22.2 s vs 17.5 s
#: single-pass), while the 125× tier (~180 M wedges) — which
#: previously exhausted the box's disk — splits into ~6 bounded
#: batches and completes in-cap.  Fixture volumes (≤ ~30 K wedges)
#: always compute B = 1, the exact single-plan path — registered
#: hashes are invariant by construction.
WEDGE_ROWS_PER_BATCH = 32_000_000
# once-per-SparkSession latch for the cap-binding warning (ADVICE r8:
# iterative callers would otherwise see one identical warning per call
# whenever the warnings filter has been reset from the default).
# Keyed on the active session id, not a bare process-global bool
# (ADVICE r9): a rebuilt SparkSession in the same Python process gets
# its own warning.
_WEDGE_CAP_WARNED_SESSION: str | None = None


def triangle_counts(edges: DataFrame, edges_unique: bool = False,
                    wedge_batches: int | None = None) -> DataFrame:
    """Per-node triangle count + degree + clustering coefficient (bp)
    for every node of the undirected simple graph ``edges``.

    ``edges_unique=True`` (the :func:`pagerank` contract: one
    canonical (lo, hi) row per undirected edge, no self-loops) skips
    the prologue's canonicalize-and-``distinct()`` exchange — one
    fewer full shuffle of the pair table before the eager pin.

    ``wedge_batches`` bounds the wedge phase's memory/disk (round 7):
    ``None`` auto-sizes from the exact wedge count (Σ C(out-deg, 2)
    over the oriented edges — one tiny aggregate on the pinned table)
    at :data:`WEDGE_ROWS_PER_BATCH` rows per batch; an explicit int
    pins it.  Batch j processes the wedges whose MID endpoint hashes
    to j, so every wedge lands in exactly one batch and per-node
    counts are identical for any B (pytest-gated)."""
    # Pin the canonical edge set: it feeds FOUR consumers (two wedge
    # legs, the closure probe, the degree count) — without the
    # checkpoint each consumer re-evaluates the whole upstream
    # edge-generation pipeline (the LSH chain in the registered
    # query), multiplying its shuffles by four.
    # EAGER pin, unlike every other consumer-sharing pin in the tree:
    # the edge set is tiny (O(near-dup pairs)) but its producer — the
    # full LSH chain — is the most shuffle-intensive lineage in the
    # engine, and the wedge machinery below is the most
    # shuffle-intensive consumer.  A lazy pin folds both into ONE job,
    # so every chain shuffle file stays on disk until the last wedge
    # stage finishes — at the 125x probe the SUM of the two footprints
    # ran the box out of disk.  Materializing the edges first ends the
    # chain's job, drops the lineage references, and lets the shuffle
    # cleaner reclaim the chain's files while the wedge phase runs:
    # peak disk = max(chain, wedges) instead of chain + wedges.
    e = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).where(F.col("a") != F.col("b"))
    if not edges_unique:
        e = e.distinct()
    e = pin(e, eager=True)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("degree")
    )
    # Degree re-orientation (Schank–Wagner "forward" / Suri &
    # Vassilvitskii's last-reducer fix), promoted from comment to code
    # by the 125x probe: wedges enumerated at the canonical MIN-ID
    # endpoint fan out as Σ C(deg_id(a), 2), and the near-dup graph's
    # template hubs put that quadratic on single nodes — at 125x the
    # wedge exchange spilled the disk dry (>78 GB) before failing.
    # Directing every edge from its (degree, id)-SMALLER endpoint
    # bounds out-degree at O(√m), so Σ out-deg² ≤ O(m^1.5) with the
    # quadratic term capped per node instead of concentrated.  Each
    # triangle still materializes exactly once (at its unique
    # (degree, id)-minimal corner), and all three corners are credited
    # below, so per-node counts — and the DuckDB oracle, which
    # enumerates the same triangle set at the min-id corner — are
    # bit-identical under re-orientation.
    dega = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    degb = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    d = pin(
        e.join(dega, "a").join(degb, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    # Wedge-width experiment, measured and REJECTED (round 6): scaling
    # the wedge exchanges to ~1M rows/partition (d.repartition(n_wide,
    # "lo") + closure probe at the same width) removed the 125×/8 GiB
    # task-level OOM — the run progressed through spill instead of
    # failing allocation — but this box's DISK is the binding
    # constraint for the dense diagnostic graph's O(m^1.5) wedge
    # stream (>80 GB of spill), and the extra width cost 2.2× at the
    # volumes that DO fit (25×: 17.5 → 38.4 s).  Kept at the session
    # default; the ≥1 GB-heap-per-task geometry note in SURVEY §8.8
    # stands as the honest scale boundary.
    if wedge_batches is None:
        # Exact wedge count from the oriented out-degrees — one small
        # aggregate over the pinned table (materializes the lazy pin,
        # which the wedge phase reuses immediately).
        w_row = (
            d.groupBy("lo").agg(F.count("*").alias("c"))
            .agg(F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0.0)
            ).alias("w"))
            .first()
        )
        n_wedges = int(w_row["w"])
        want = max(1, -(-n_wedges // WEDGE_ROWS_PER_BATCH))
        wedge_batches = min(32, want)
        if want > 32:
            # Past 32 batches (~1e9 wedges) per-batch volume grows
            # with the graph again and the 'peak = max(batch)' bound
            # stops holding — make the boundary visible instead of
            # silent (ADVICE r7).  The cap exists because each batch
            # is a full pass over the oriented edge table; >32 passes
            # trades too much recompute for memory.  Emitted once per
            # session: an iterative caller over a >1e9-wedge graph
            # would otherwise spam an identical warning per call, and
            # registered drivers often run with the dedup-by-location
            # warnings filter reset (ADVICE r8).
            global _WEDGE_CAP_WARNED_SESSION
            sess_id = edges.sparkSession.sparkContext.applicationId
            if _WEDGE_CAP_WARNED_SESSION != sess_id:
                _WEDGE_CAP_WARNED_SESSION = sess_id
                import warnings

                warnings.warn(
                    f"triangle_counts: {n_wedges} wedges want {want} batches "
                    f"but the pass-count cap holds it at 32; per-batch volume "
                    f"is ~{n_wedges // 32} rows (> WEDGE_ROWS_PER_BATCH = "
                    f"{WEDGE_ROWS_PER_BATCH}) — the bounded-memory guarantee "
                    f"degrades. Pass wedge_batches explicitly to override. "
                    f"(warned once per session)",
                    category=RuntimeWarning,
                    stacklevel=2,
                )

    def _wedge_counts(e1: DataFrame) -> DataFrame:
        e2 = d.alias("e2")
        wedges = e1.alias("e1").join(
            e2, on=F.col("e1.lo") == F.col("e2.lo")
        ).where(
            F.col("e1.hi") < F.col("e2.hi")
        ).select(
            F.col("e1.lo").alias("u"), F.col("e1.hi").alias("v"),
            F.col("e2.hi").alias("w"),
        )
        # closure probe on the CANONICAL (min-id) edge table: the
        # wedge's open pair (v, w) is undirected — normalize first.
        tri = wedges.join(
            e,
            (F.least("v", "w") == F.col("a"))
            & (F.greatest("v", "w") == F.col("b")),
        ).select("u", "v", "w")
        return (
            tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("n_triangles"))
        )

    if wedge_batches == 1:
        per_node = _wedge_counts(d)
    else:
        # Bounded-memory wedge phase: batch j owns the wedges whose
        # MID endpoint (e1.hi, the 'v' corner) hashes to j — a
        # partition of the wedge set, so the unioned per-node partial
        # counts sum to exactly the single-pass numbers.  Each
        # batch's partials are eagerly pinned: that ends the batch's
        # job, so its wedge-exchange shuffle files are reclaimable
        # while the next batch runs (peak heap AND peak disk are
        # per-batch, not whole-phase).
        partials = []
        for j in range(wedge_batches):
            pj = pin(_wedge_counts(
                d.where(F.pmod(F.xxhash64("hi"), F.lit(wedge_batches)) == j)
            ), eager=True)
            partials.append(pj)
        acc = partials[0]
        for pj in partials[1:]:
            acc = acc.unionByName(pj)
        per_node = acc.groupBy("node").agg(
            F.sum("n_triangles").alias("n_triangles")
        )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") > 1,
                F.floor(
                    F.coalesce("n_triangles", F.lit(0)) * 2 * 10000
                    / (F.col("degree") * (F.col("degree") - 1))
                ),
            ).otherwise(F.lit(0)).cast("long").alias("clustering_coeff_bp"),
        )
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = lsh_near_dup(
        table(spark, sf_dir, "documents"), threshold=PAGERANK_EDGE_THRESHOLD
    ).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # lsh_near_dup emits each undirected pair once (doc_a < doc_b).
    return triangle_counts(edges, edges_unique=True).withColumnRenamed(
        "node", "doc_id")


ORACLE_TRIANGLES = f"""
WITH {lsh_pairs_sql(PAGERANK_EDGE_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
e AS MATERIALIZED (
    SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
    FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2
),
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY 1),
tri AS MATERIALIZED (
    SELECT e1.a AS u, e1.b AS v, e2.b AS w
    FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
per_node AS (
    SELECT node, count(*) AS n_triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    ) GROUP BY 1
)
SELECT d.node AS doc_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.degree > 1
                 THEN floor(coalesce(p.n_triangles, 0) * 2 * 10000
                            / (d.degree * (d.degree - 1)))
                 ELSE 0 END AS BIGINT) AS clustering_coeff_bp
FROM deg d LEFT JOIN per_node p USING (node)
"""


# --------------------------------------------------------------------------
# Label propagation (synchronous LPA, Raghavan et al. 2007) — the
# cheap community detector: each node adopts the majority label of
# its neighbors each round.  Where connected components answer "what
# is transitively linked", LPA finds DENSE regions inside a component
# — e.g. one boilerplate family inside a loosely-bridged near-dup
# blob.  Fixed K rounds (deterministic regardless of convergence);
# ties break (count desc, label asc) via max(struct(cnt, -label)) —
# an aggregate, never a per-node sort.  Scale shape = the pagerank
# loop: the symmetrized edge table is hash-partitioned and persisted
# once, only the label table moves per round; per-round driver
# traffic is zero (no convergence test — fixed K).
LPA_ITERS = 3


def label_propagation(edges: DataFrame, edges_unique: bool = False) -> DataFrame:
    """(node, community, community_size) after ``LPA_ITERS`` synchronous
    majority-vote rounds; initial label = node id.

    ``edges_unique`` has the same contract as in :func:`pagerank`:
    True asserts one canonical (lo, hi) row per undirected edge and
    skips the symmetric closure's ``distinct()`` (a duplicate row
    would otherwise double-count that neighbor's vote)."""
    edges = iter_checkpoint(edges, eager=False)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if not edges_unique:
        sym = sym.distinct()
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    sym = sym.repartition(n_part, "dst")  # iterate's cache, as in pagerank

    def vote(labels: DataFrame) -> DataFrame:
        votes = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.count("*").alias("cnt"))
        )
        return votes.groupBy("src").agg(F.max(F.struct(
            F.col("cnt"), (-F.col("label")).alias("neg")
        )).alias("m")).select(
            F.col("src").alias("node"),
            (-F.col("m.neg")).cast("long").alias("label"),
        )

    labels = sym.select(F.col("src").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    labels = iterate(labels, vote, LPA_ITERS, cache=sym)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("community"), "community_size"
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = lsh_near_dup(
        table(spark, sf_dir, "documents"), threshold=PAGERANK_EDGE_THRESHOLD
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # lsh_near_dup emits each undirected pair once (doc_a < doc_b).
    return label_propagation(edges, edges_unique=True).withColumnRenamed(
        "node", "doc_id")


def _lpa_oracle() -> str:
    rounds = "".join(
        f""",
v{i} AS (
    SELECT sym.src, l{i}.label, count(*) AS cnt
    FROM sym JOIN l{i} ON l{i}.node = sym.dst
    GROUP BY 1, 2
),
l{i + 1} AS MATERIALIZED (
    SELECT src AS node, label FROM (
        SELECT src, label,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cnt DESC, label) AS rn
        FROM v{i}
    ) WHERE rn = 1
)"""
        for i in range(LPA_ITERS)
    )
    return f"""
WITH {lsh_pairs_sql(PAGERANK_EDGE_THRESHOLD, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
sym AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM sym),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes){rounds},
sizes AS (
    SELECT label, count(*) AS community_size
    FROM l{LPA_ITERS} GROUP BY label
)
SELECT l.node AS doc_id,
       CAST(l.label AS BIGINT) AS community,
       CAST(s.community_size AS BIGINT) AS community_size
FROM l{LPA_ITERS} l JOIN sizes s USING (label)
"""


ORACLE_LPA = _lpa_oracle()


# --------------------------------------------------------------------------
# Sketch-edge graph twins (round 11): the rescore decision propagates
# into the graph family.  dedup_clusters / leakage_safe_split feed CC
# from the EXACT rescore, whose per-candidate shingle-array transport
# is the measured 625× disk-killer (SURVEY §8.12) — but
# nothing in the graph algorithms needs the exact score: CC consumes
# edge ENDPOINTS only.  These twins build the identical star-algorithm
# chain from `lsh_near_dup_sketch` edges at the calibrated 0.25
# operating point (fixture recall 1.00 / precision 0.926 vs exact at
# the same threshold — `dedup_sketch_confusion`), so edge generation
# ships zero arrays and the whole chain's transport is the band
# explode plus the tiny edge set.  Guard ON on both sides (production
# posture; the oracle mirrors it through lsh_pairs_sql's HAVING gate).
def _sketch_edges(docs: DataFrame) -> DataFrame:
    return lsh_near_dup_sketch(
        docs, threshold=SKETCH_THRESHOLD,
        max_bucket=LSH_MAX_BUCKET_DEFAULT,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))


def dedup_clusters_sketch(docs: DataFrame) -> DataFrame:
    """`dedup_clusters` with zero-transport edge generation: CC over
    signature-agreement edges (est Jaccard ≥ 0.25) instead of
    exact-rescored ones.  Same total-assignment contract — same
    mechanism too: only the ``edges`` source differs."""
    return dedup_clusters(docs, edges=_sketch_edges(docs))


def q_dedup_clusters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters_sketch(table(spark, sf_dir, "documents"))


def q_leakage_safe_split_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship split report over sketch clusters: the 625×-proven
    chain with its one remaining array transport removed.  One split
    rule, one report aggregate — shared with the exact twin."""
    docs = table(spark, sf_dir, "documents")
    return _split_report(
        leakage_safe_split(docs, assign=dedup_clusters_sketch(docs)))


# Shared fragment for the sketch-edge oracles: agreement counts over
# the GUARDED bands CTE, thresholded at the 0.25 operating point,
# symmetrically closed.  pairs/common/shl from lsh_pairs_sql go
# unreferenced and are pruned by DuckDB.
_SKETCH_EDGES_SQL = f"""nbands AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
edges AS MATERIALIZED (
    SELECT doc_a AS src, doc_b AS dst FROM nbands
    WHERE n_bands >= {SKETCH_MIN_BANDS}
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM nbands
    WHERE n_bands >= {SKETCH_MIN_BANDS}
)"""


ORACLE_DEDUP_CLUSTERS_SKETCH = f"""
WITH RECURSIVE {lsh_pairs_sql(0.0, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
{_SKETCH_EDGES_SQL},
reach AS (
    SELECT doc_id AS id, doc_id AS r FROM documents
    UNION
    SELECT e.src AS id, reach.r AS r
    FROM edges e JOIN reach ON e.dst = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
"""


ORACLE_LEAKAGE_SPLIT_SKETCH = f"""
WITH RECURSIVE {lsh_pairs_sql(0.0, max_bucket=LSH_MAX_BUCKET_DEFAULT)},
{_SKETCH_EDGES_SQL},
reach AS (
    SELECT doc_id AS id, doc_id AS r FROM documents
    UNION
    SELECT e.src AS id, reach.r AS r
    FROM edges e JOIN reach ON e.dst = reach.id
),
clusters AS (
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
),
labeled AS (
    SELECT d.doc_id, d.n_chars, c.cluster_id,
           CASE WHEN (('0x' || substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 8))::BIGINT
                      % 100) < {SPLIT_TRAIN_PCT}
                THEN 'train' ELSE 'test' END AS split
    FROM documents d JOIN clusters c USING (doc_id)
)
SELECT split,
       count(*)                     AS n_docs,
       count(DISTINCT cluster_id)   AS n_clusters,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM labeled
GROUP BY split
"""


QUERIES = [
    ("dedup_communities_lpa", q_label_propagation, ORACLE_LPA,
     "Synchronous label-propagation communities over the near-dup "
     "graph (fixed-K majority rounds, edges partitioned once, only "
     "labels move; ties by (count desc, label asc) via max(struct))."),
    ("dedup_triangles", q_triangle_counts, ORACLE_TRIANGLES,
     "Per-node triangle count + clustering coefficient over the "
     "near-dup graph (canonical wedge join, two shuffles)."),
    ("dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS,
     "Transitive near-dup clusters via large-star/small-star connected components."),
    ("pagerank_neardup", q_pagerank_neardup, ORACLE_PAGERANK,
     "Fixed-K PageRank power iteration over the near-dup graph."),
    ("dedup_canonical", q_dedup_canonical, ORACLE_DEDUP_CANONICAL,
     "Keep-best-per-cluster canonical selection: quality argmax via "
     "max(struct), no ranking window, total per-doc flags."),
    ("docs_leakage_safe_split", q_leakage_safe_split, ORACLE_LEAKAGE_SPLIT,
     "Cluster-hash train/test split: near-dup clusters never straddle "
     "the boundary (the contamination guard the doc-level hash_split "
     "lacks)."),
    ("docs_split_contamination", q_split_contamination,
     ORACLE_SPLIT_CONTAMINATION,
     "Near-dup pairs bucketed by their endpoints' doc-level splits: "
     "the train|test cell is the leaked-pair count a cluster-hash "
     "split eliminates."),
    ("dedup_clusters_sketch", q_dedup_clusters_sketch,
     ORACLE_DEDUP_CLUSTERS_SKETCH,
     "Sketch-edge CC twin (round 11): the cluster assignment fed by "
     "signature-agreement edges at the calibrated 0.25 point — the "
     "graph family with its exact-rescore array transport removed."),
    ("docs_leakage_safe_split_sketch", q_leakage_safe_split_sketch,
     ORACLE_LEAKAGE_SPLIT_SKETCH,
     "Flagship split report over sketch clusters (round 11): the "
     "625x-proven leakage-safe chain at zero edge-gen transport, "
     "same split rule and report columns."),
]
