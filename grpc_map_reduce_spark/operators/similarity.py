"""Similarity search over the ``embeddings`` table (extension E2 —
SURVEY.md §2.2): brute-force cosine top-k as the oracle-checkable
baseline; LSH/IVF variants are the scale path — themselves fully
hash-checked (the md5-derived hyperplanes and the unrolled-Lloyd IVF
oracle replay the approximate pipelines end-to-end in SQL).

Scale design: the query set is broadcast (it is small by definition);
candidates stream through a narrow projection, so the plan is
scan → broadcast nested loop → per-partition partial top-k →
final top-k.  No shuffle of the full candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from grpc_map_reduce_spark.operators.dedup import bucket_pairs, cross_bucket_pairs
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import iterate


#: Corpus blocks of the packed vector searches (one numpy matmul per
#: block pair).
VEC_BLOCKS = 16


def _pack_blocks(df: DataFrame, id_col: str, vec_col: str,
                 n_blocks: int, keys: tuple = (),
                 keys_schema: str = "", normalize: bool = True) -> DataFrame:
    """Hash rows into ``n_blocks`` blocks and pack each block into one
    ``(*keys, blk, ids, mat)`` summary row: ids int64 array + the
    block's L2-normalized float64 matrix as bytes.  Every vector search
    packs both sides here and scores them in :func:`_block_topk` —
    joins replicate whole-block summaries (O(n·B) bytes) instead of
    per-pair rows.  ``keys`` adds grouping columns (a metadata
    partition, an IVF list id), turning the pack into a per-group
    index.  ``normalize=False`` packs the vectors as they are (the
    int8 search's integer-valued rows)."""
    import numpy as np
    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        if normalize:
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row.update(
            {"blk": [int(pdf["blk"].iloc[0])],
             "ids": [pdf["id"].to_numpy(np.int64)],
             "mat": [mat.tobytes()]}
        )
        return pd.DataFrame(row)

    base = df.select(
        *[F.col(k) for k in keys],
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),  # float32 stays JVM-side; numpy upcasts exactly
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    prefix = (keys_schema + ", ") if keys_schema else ""
    return base.groupBy(*keys, "blk").applyInPandas(
        _pack, schema=f"{prefix}blk long, ids array<long>, mat binary"
    )


def _block_topk_kernel(k: int):
    """mapInPandas kernel of every top-k search: per packed
    (corpus block × query block) row, one numpy matmul then a
    block-local top-k per query by (-sim, neighbor_id) — the global
    top-k is contained in the union of block winners."""
    import numpy as np
    import pandas as pd

    def _kernel(batches):
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                q_ids = np.asarray(row["q_ids"], dtype=np.int64)
                c_ids = np.asarray(row["ids"], dtype=np.int64)
                Q = np.frombuffer(row["q_mat"], dtype=np.float64).reshape(len(q_ids), -1)
                C = np.frombuffer(row["mat"], dtype=np.float64).reshape(len(c_ids), -1)
                sims = np.round(Q @ C.T, 6)
                sims[q_ids[:, None] == c_ids[None, :]] = -np.inf  # self-match
                # block-local top-k by (-sim, neighbor_id): lexsort is
                # ascending, so sort on (id, -sim) keys reversed.
                order = np.lexsort((np.broadcast_to(c_ids, sims.shape), -sims), axis=1)
                take = order[:, :k]
                frames.append(pd.DataFrame({
                    "query_id": np.repeat(q_ids, take.shape[1]),
                    "neighbor_id": c_ids[take].ravel(),
                    "sim": np.take_along_axis(sims, take, axis=1).ravel(),
                }))
            out = pd.concat(frames) if frames else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim": []})
            yield out[out["sim"] > -np.inf]

    return _kernel


def _block_topk(cpacked: DataFrame, qpacked: DataFrame, k: int,
                keys: tuple = ()) -> DataFrame:
    """(query_id, neighbor_id, sim, rank): the top-``k`` corpus rows
    per query from two :func:`_pack_blocks` packs — the one search
    every top-k query parameterizes.  The (small) query pack is
    broadcast to every corpus block (to the blocks of its own ``keys``
    group when given), :func:`_block_topk_kernel` yields each block's
    winners and a k-row-per-query window rank over those B·k·|Q|
    candidates finishes.  Ties break by neighbor id."""
    qp = F.broadcast(qpacked.select(
        *keys, F.col("ids").alias("q_ids"), F.col("mat").alias("q_mat")))
    joined = cpacked.join(qp, list(keys)) if keys else cpacked.join(qp)
    cand = joined.mapInPandas(
        _block_topk_kernel(k), schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """For each query vector, the top-``k`` most-similar corpus rows.

    Output: ``(query_id, neighbor_id, sim, rank)`` with ``sim`` rounded
    to 6 dp and rank tie-broken by neighbor id, so results are
    deterministic and engine-portable.

    Plan: pack the (small) query set into one summary row and the
    corpus into ``VEC_BLOCKS`` blocks; :func:`_block_topk` broadcasts the
    queries to every corpus block, runs one numpy matmul per block and
    ranks the block winners.  The corpus is never shuffled and no pair
    rows are materialized."""
    return _block_topk(_pack_blocks(corpus, "vec_id", "embedding", VEC_BLOCKS),
                       _pack_blocks(queries, "vec_id", "embedding", 1), k)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 8))


# DuckDB twin: parallel unnest zips the two embedding lists; products
# are summed in double precision, so round(·, 6) agrees with Spark's
# double fold despite differing accumulation order (64 dims → error
# ~1e-15 relative).
ORACLE_COSINE_TOPK = """
WITH pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 8
),
sims AS (
    SELECT query_id, neighbor_id,
           round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
    FROM pairs GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------

#: Executor-side ceiling on rows per packed block, ON by default: a
#: block pair materializes two (rows × dim) float64 matrices and an
#: O(rows²) similarity matrix in one Arrow task, so an oversized block
#: is an executor OOM, not a slow task.  32k rows × 256 dims ≈ 67 MB
#: per matrix + a 1 GB per-pair score matrix upper bound — the edge of
#: sane.  The guard raises with sizing guidance instead of letting the
#: task die; ``None`` disables it (benchmark-only).
EMBED_MAX_BLOCK_ROWS = 32768


#: Cosine threshold of the embedding near-dup pair (exact and LSH).
EMB_NEAR_DUP_THRESHOLD = 0.4


def embedding_near_dup(corpus: DataFrame, n_blocks: int = VEC_BLOCKS,
                       max_block_rows: int | None = EMBED_MAX_BLOCK_ROWS,
                       ) -> DataFrame:
    """All pairs (a < b) with cosine similarity ≥
    ``EMB_NEAR_DUP_THRESHOLD`` — the
    embedding-space analog of near-dup detection.

    Exact all-pairs, executed as a *blocked* self-join with a
    vectorized numpy kernel: rows are hashed into ``n_blocks`` blocks,
    each block is packed into one (ids, float64-matrix) summary row via
    ``applyInPandas``, the tiny B×B block-pair cross join replicates
    only block summaries, and ``mapInPandas`` runs one BLAS matmul per
    block pair.  Shuffle volume is O(n·B) vector bytes instead of
    O(n²) pair rows, every dot product runs inside one Arrow batch,
    and nothing is collected to the driver.  At 100 TB vector counts
    the same kernel rescores only LSH-bucket candidates; size
    ``n_blocks`` so a block pair (~2·n/B vectors) fits an executor.
    """
    import numpy as np
    import pandas as pd

    packed = _pack_blocks(corpus, "vec_id", "embedding", n_blocks)
    pairs = (
        packed.select(F.col("blk").alias("ba"), F.col("ids").alias("ids_a"),
                      F.col("mat").alias("mat_a"))
        .join(packed.select(F.col("blk").alias("bb"), F.col("ids").alias("ids_b"),
                            F.col("mat").alias("mat_b")),
              F.col("ba") <= F.col("bb"))
        # spread the B(B+1)/2 block-pair tasks across the cluster
        .repartition(n_blocks, "ba", "bb")
    )

    def _dots(batches):
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["ids_b"], dtype=np.int64)
                if max_block_rows is not None and (
                        len(ids_a) > max_block_rows
                        or len(ids_b) > max_block_rows):
                    raise ValueError(
                        f"embedding_near_dup block holds "
                        f"{max(len(ids_a), len(ids_b))} rows > "
                        f"max_block_rows={max_block_rows}; raise n_blocks "
                        "(rows/blocks must fit one executor task) or use "
                        "the LSH candidate path (embedding_lsh_near_dup) "
                        "instead of exact all-pairs at this scale"
                    )
                A = np.frombuffer(row["mat_a"], dtype=np.float64).reshape(len(ids_a), -1)
                Bm = np.frombuffer(row["mat_b"], dtype=np.float64).reshape(len(ids_b), -1)
                sims = np.round(A @ Bm.T, 6)
                if row["ba"] == row["bb"]:
                    # same block on both sides: each unordered pair
                    # appears twice — keep the (a < b) orientation.
                    mask = ids_a[:, None] < ids_b[None, :]
                else:
                    # distinct blocks: each unordered pair appears
                    # once, in arbitrary orientation — orient below.
                    mask = ids_a[:, None] != ids_b[None, :]
                ia, ib = np.nonzero((sims >= EMB_NEAR_DUP_THRESHOLD) & mask)
                lo = np.minimum(ids_a[ia], ids_b[ib])
                hi = np.maximum(ids_a[ia], ids_b[ib])
                out_a.append(lo); out_b.append(hi); out_s.append(sims[ia, ib])
            yield pd.DataFrame({"id_a": np.concatenate(out_a) if out_a else [],
                                "id_b": np.concatenate(out_b) if out_b else [],
                                "sim": np.concatenate(out_s) if out_s else []})

    return pairs.mapInPandas(_dots, schema="id_a long, id_b long, sim double")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup(table(spark, sf_dir, "embeddings"))


ORACLE_NEAR_DUP = """
WITH pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(unnest(a.embedding) AS DOUBLE) AS ae,
           CAST(unnest(b.embedding) AS DOUBLE) AS be
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
),
sims AS (
    SELECT id_a, id_b,
           round(sum(ae * be) / (sqrt(sum(ae * ae)) * sqrt(sum(be * be))), 6) AS sim
    FROM pairs GROUP BY 1, 2
)
SELECT id_a, id_b, sim FROM sims WHERE sim >= 0.4
"""


# --------------------------------------------------------------------------
# Random-hyperplane (signed random projection) LSH: the sub-quadratic
# candidate path for embedding near-dup — the vector-space analog of
# MinHash banding on the text side (Charikar, STOC'02).  P(bit match)
# for a pair at cosine s is 1 − arccos(s)/π, so r-bit bands hit with
# probability (1 − arccos(s)/π)^r and b bands give the usual
# 1 − (1 − p^r)^b amplification.
#
# Parameter note (probed on the fixture, threshold 0.4): the fixture's
# near-dup pairs sit at s ∈ [0.4, 0.51] — an adversarially small gap
# over random (p(0.45) ≈ 0.65 vs p(0) = 0.5) — where 96 bits / 6-bit
# bands gives 0.63 recall while pruning to ~24 % of all pairs.  Real
# corpora near-dup at s ≥ 0.9 (p ≥ 0.86), where the same operator with
# 16-bit bands is simultaneously selective (65k buckets/band) and
# high-recall; the dataflow is identical, only (n_bits, rows_per_band)
# change.
EMB_LSH_BITS = 96
EMB_LSH_ROWS_PER_BAND = 6
EMB_LSH_SEED = 7


def hyperplanes(seed: int, n_bits: int, dim: int):
    """Deterministic hash-derived hyperplane matrix (n_bits × dim).

    Entry (i, j) is uniform in [-1, 1): 2·(u/2^52) − 1 where u is the
    first 52 md5 bits of ``"seed:k"``, k = i·dim + j.  Hash-derived
    instead of ``np.random``: identical in every task/language with no
    driver state and no RNG-implementation dependence, which is what
    lets the DuckDB oracle replay the full LSH pipeline — u/2^52 and
    the affine map are all power-of-two-exact in float64, so both
    engines hold bit-identical matrices.  (Sign-projection LSH only
    needs a symmetric direction distribution; the uniform cube is the
    standard cheap substitute for Gaussian at these dims.)
    """
    import hashlib

    import numpy as np

    u = np.array(
        [
            int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:13], 16)
            for k in range(n_bits * dim)
        ],
        dtype=np.float64,
    )
    return (2.0 * (u / 2.0**52) - 1.0).reshape(n_bits, dim)


#: Hot-bucket guard for the hyperplane-LSH path, ON by default
#: (round 6) — same skew rationale as dedup.LSH_MAX_BUCKET_DEFAULT:
#: a k-vector bucket emits k²/2 candidate pairs, and one degenerate
#: bucket (e.g. a spam cluster of identical embeddings) re-creates
#: the quadratic join the LSH path exists to avoid.  The oracle-twin
#: registration passes ``max_bucket=None`` explicitly.
EMB_LSH_MAX_BUCKET_DEFAULT = 1000


def _emb_band_keys(df: DataFrame, n_bits: int, rows_per_band: int,
                   keep: tuple = ()) -> DataFrame:
    """(id, *keep, band_idx, key) hyperplane-LSH band rows for every
    vector: one row per vector per band, the ``keep`` columns passed
    through.  The batch paths and the streaming twin all sign vectors
    here.

    One vectorized matmul per Arrow batch against the
    ``EMB_LSH_SEED``-deterministic hyperplane matrix, generated once per
    task (no driver state, no shuffle of the vectors)."""
    import numpy as np

    r = rows_per_band
    if r <= 0 or n_bits % r:
        raise ValueError(
            f"rows_per_band must divide n_bits, got rows_per_band={r}, "
            f"n_bits={n_bits}")
    n_bands = n_bits // r
    weights = (1 << np.arange(r, dtype=np.int64))

    def _bands(batches):
        H = None
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            if H is None:
                # Hash-derived → identical hyperplanes in every
                # task/run AND in the DuckDB oracle.
                H = hyperplanes(EMB_LSH_SEED, n_bits, V.shape[1])
            bits = (V @ H.T) >= 0  # sign bits; norm-invariant
            keys = bits.reshape(len(V), n_bands, r).astype(np.int64) @ weights
            yield pdf.drop(columns="v").iloc[np.repeat(np.arange(len(V)), n_bands)].assign(
                band_idx=np.tile(np.arange(n_bands, dtype=np.int64), len(V)),
                key=keys.ravel(),
            )

    base = df.select(
        F.col("vec_id").cast("long").alias("id"), *keep, F.col("embedding").alias("v")
    )
    longs = [StructField(c, LongType()) for c in ("band_idx", "key")]
    return base.mapInPandas(_bands, StructType(base.schema.fields[:-1] + longs))


def embedding_lsh_candidates(corpus: DataFrame, n_bits: int = EMB_LSH_BITS,
                             rows_per_band: int = EMB_LSH_ROWS_PER_BAND,
                             max_bucket: int | None =
                             EMB_LSH_MAX_BUCKET_DEFAULT) -> DataFrame:
    """Candidate pairs (id_a < id_b, n_bands) sharing ≥1 hyperplane-LSH
    band bucket.

    Signatures via :func:`_emb_band_keys` (one Arrow pass); pairs via
    the :func:`~grpc_map_reduce_spark.operators.dedup.bucket_pairs`
    kernel, which shuffles O(vectors × bands) short rows once, never
    pair rows.  ``max_bucket`` drops oversized buckets before pair
    fan-out (same skew rationale as the MinHash path).
    """
    exploded = _emb_band_keys(corpus, n_bits, rows_per_band)
    return (
        bucket_pairs(exploded, ["band_idx", "key"], "id", max_bucket)
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count("*").alias("n_bands"))
    )


def _cosine_scores(pairs: DataFrame, threshold: float) -> DataFrame:
    """``pairs`` (carrying both vectors as ``_va`` and ``_vb``) with the
    vectors replaced by their exact cosine ``sim``, rounded to 6 dp;
    keeps rows with ``sim`` ≥ ``threshold``.  The one cosine rescore
    kernel: the batch rescore and the streaming twin score here."""
    import numpy as np

    def _rescore(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(pdf["_va"].tolist(), dtype=np.float64)
            B = np.array(pdf["_vb"].tolist(), dtype=np.float64)
            A /= np.linalg.norm(A, axis=1, keepdims=True)
            B /= np.linalg.norm(B, axis=1, keepdims=True)
            sim = np.round(np.einsum("ij,ij->i", A, B), 6)
            keep = sim >= threshold
            yield pdf.drop(columns=["_va", "_vb"])[keep].assign(sim=sim[keep])

    fields = [f for f in pairs.schema.fields if f.name not in ("_va", "_vb")]
    return pairs.mapInPandas(
        _rescore, StructType(fields + [StructField("sim", DoubleType())]))


def _cosine_rescore(cand: DataFrame, left: DataFrame, right: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact-cosine rescore of candidate pairs: ``cand``'s two id
    columns name the output (a, b, sim); ``a`` ids are looked up in
    ``left``, ``b`` ids in ``right``, and :func:`_cosine_scores` keeps
    pairs whose cosine is ≥ ``threshold``.  Work is O(candidates)."""
    a, b = cand.columns
    va = left.select(F.col("vec_id").cast("long").alias(a),
                     F.col("embedding").alias("_va"))
    vb = right.select(F.col("vec_id").cast("long").alias(b),
                      F.col("embedding").alias("_vb"))
    return _cosine_scores(cand.join(va, a).join(vb, b), threshold).select(
        a, b, "sim")


def embedding_lsh_near_dup(corpus: DataFrame,
                           threshold: float = EMB_NEAR_DUP_THRESHOLD,
                           n_bits: int = EMB_LSH_BITS,
                           rows_per_band: int = EMB_LSH_ROWS_PER_BAND,
                           max_bucket: int | None =
                           EMB_LSH_MAX_BUCKET_DEFAULT) -> DataFrame:
    """Sub-quadratic twin of :func:`embedding_near_dup`: hyperplane-LSH
    candidates rescored with the exact cosine — work is O(candidates),
    and no all-pairs structure exists anywhere in the plan.

    Output contract matches ``embedding_near_dup`` (id_a < id_b, sim
    rounded to 6 dp) restricted to candidate pairs; tests assert the
    subset property and a recall floor vs the exact operator.
    Hash-checked: the hyperplane matrix is md5-derived (see
    :func:`hyperplanes`), so ORACLE_EMB_LSH replays signatures →
    banding → candidates → exact rescore entirely in SQL.
    """
    cand = embedding_lsh_candidates(
        corpus, n_bits, rows_per_band, max_bucket
    ).select("id_a", "id_b")
    return _cosine_rescore(cand, corpus, corpus, threshold)


#: Bounded input size for the recall-stress harness: the adversarial
#: calibration (threshold 0.4 / 6-bit bands / guard OFF) makes ~24%
#: of all pairs candidates BY DESIGN — that is what makes it a recall
#: stressor, and what made it a scale trap when it ran over the whole
#: table under the canonical `embedding_lsh_neardup` name (VERDICT r7
#: item 1; measured 151 s @25x).  Registered over a fixed 512-vector
#: slice its work is constant at ANY corpus size: a calibration
#: harness needs a statistically meaningful sample, not the corpus.
EMB_STRESS_N = 512


def q_embedding_lsh_recall_stress(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Recall-calibration STRESS harness (formerly registered as
    `embedding_lsh_neardup`, renamed per VERDICT r7 so no copyable
    name ships quadratic-and-unguarded).  max_bucket=None EXPLICITLY
    — exact oracle-twin semantics (ORACLE_EMB_LSH replays the
    unguarded band join) over a fixed ``vec_id < EMB_STRESS_N``
    slice.  Production near-dup is `embedding_lsh_selective` /
    `embedding_lsh_selective_scaled`."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EMB_STRESS_N
    )
    return embedding_lsh_near_dup(emb, max_bucket=None)


# Full SQL replay of the LSH pipeline: the md5-derived hyperplane
# matrix is regenerated in the `h` CTE (bit-identical to
# hyperplanes(), power-of-two-exact arithmetic), signatures and band
# keys recomputed per vector, candidates bucket-joined, and survivors
# rescored with the exact cosine — the same dataflow the Spark side
# runs, so the approximate operator is hash-checked end-to-end rather
# than rows-only.  The `emb` CTE mirrors the stress harness's bounded
# slice.
ORACLE_EMB_LSH = f"""
WITH emb AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < {EMB_STRESS_N}
),
dims AS (
    SELECT max(len(embedding)) AS d FROM emb
),
h AS (
    SELECT i, j,
           2.0 * ((('0x' || substr(md5('{EMB_LSH_SEED}:' || CAST(i * d + j AS VARCHAR)), 1, 13))::BIGINT)
                  / 4503599627370496.0) - 1.0 AS w
    FROM dims, unnest(range({EMB_LSH_BITS})) AS ti(i), unnest(range(d)) AS tj(j)
),
e AS (
    SELECT vec_id, j, CAST(embedding[j + 1] AS DOUBLE) AS x
    FROM emb, unnest(range(len(embedding))) AS t(j)
),
bits AS (
    SELECT e.vec_id, h.i,
           CASE WHEN sum(e.x * h.w) >= 0 THEN 1 ELSE 0 END AS bit
    FROM e JOIN h ON e.j = h.j
    GROUP BY e.vec_id, h.i
),
keys AS (
    SELECT vec_id, i // {EMB_LSH_ROWS_PER_BAND} AS band_idx,
           CAST(sum(bit * (1 << (i % {EMB_LSH_ROWS_PER_BAND}))) AS BIGINT) AS key
    FROM bits GROUP BY vec_id, i // {EMB_LSH_ROWS_PER_BAND}
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM keys a
    JOIN keys b ON a.band_idx = b.band_idx AND a.key = b.key
                AND a.vec_id < b.vec_id
),
prods AS (
    SELECT c.id_a, c.id_b,
           CAST(unnest(a.embedding) AS DOUBLE) AS ae,
           CAST(unnest(b.embedding) AS DOUBLE) AS be
    FROM cand c
    JOIN emb a ON a.vec_id = c.id_a
    JOIN emb b ON b.vec_id = c.id_b
),
sims AS (
    SELECT id_a, id_b,
           round(sum(ae * be) / (sqrt(sum(ae * ae)) * sqrt(sum(be * be))), 6) AS sim
    FROM prods GROUP BY 1, 2
)
SELECT id_a, id_b, sim FROM sims WHERE sim >= 0.4
"""


# --- Selective operating point (round 7) ----------------------------------
#
# The registration above keeps the ADVERSARIAL calibration (threshold
# 0.4 / 6-bit bands, tuned to the fixtures' 0.4-vs-0.0 similarity
# gap) — correct, but ~24% of all pairs become candidates, which is
# quadratic-in-disguise (measured 151 s at the 25x probe tier).  The
# PRODUCTION near-dup regime is high-threshold: s >= 0.9 with 16-bit
# bands keeps the per-pair band-collision probability ~4e-3 for
# unrelated vectors, so candidates stay O(near-dup pairs) and the
# probe measures the path sub-linear (13.6 s @25x, 24.9 s @125x).
#
# The fixtures deliberately contain NO >= 0.9 pairs (max pairwise
# cosine 0.60 at sf0.1), so a registered query at this operating
# point would be vacuous on the raw table.  q_embedding_lsh_selective
# therefore PLANTS one near-dup twin per vector inside the query:
# twin = vector + per-coordinate md5-derived noise in [-1/32, 1/32)
# (cosine ~0.986-0.994 against its original at unit norm).  Every
# arithmetic step is IEEE-exact-replayable: u/2^52 with u < 2^52 is
# exact, *2 / -1 / /32 are exact power-of-two ops, and the final
# float32->double + delta addition is one identically-rounded IEEE
# add in both engines — verified bitwise Spark-vs-DuckDB on all
# fixtures.  The hot-bucket guard stays ON (the production default)
# and is mirrored in the oracle's ANTI JOIN, so the guarded scale
# path itself is what gets hash-checked.
EMB_AUG_EPS_DEN = 32          # noise amplitude denominator (power of 2)
EMB_AUG_ID_OFFSET = 1 << 20   # planted-twin id = vec_id + offset
EMB_SELECTIVE_THRESHOLD = 0.9
EMB_SELECTIVE_ROWS_PER_BAND = 16  # 96 bits -> 6 bands of 16


def planted_twins(corpus: DataFrame) -> DataFrame:
    """One deterministic near-dup twin per corpus vector (id +
    ``EMB_AUG_ID_OFFSET``, per-coordinate md5 noise scaled by
    1/``EMB_AUG_EPS_DEN``).
    Map-only, JVM-side (``transform`` + ``md5`` + ``conv``) — no
    shuffle, no Python."""
    # The noise key must be the ORIGINAL id while the output id is
    # offset — rename first so Spark's lateral-column-alias resolution
    # can't silently bind the md5 argument to the offset output alias
    # (it did: every planted vector carried the wrong noise).
    return corpus.select(
        F.col("vec_id").cast("long").alias("_oid"), F.col("embedding").alias("_v")
    ).select(
        (F.col("_oid") + F.lit(EMB_AUG_ID_OFFSET)).alias("vec_id"),
        F.transform(
            "_v",
            lambda x, j: x.cast("double")
            + (
                (F.conv(
                    F.substring(
                        F.md5(F.concat_ws(
                            ":", F.lit("aug"),
                            F.col("_oid").cast("string"),
                            j.cast("string"),
                        )), 1, 13,
                    ), 16, 10,
                ).cast("double") / F.lit(float(1 << 52))) * F.lit(2.0)
                - F.lit(1.0)
            ) / F.lit(float(EMB_AUG_EPS_DEN)),
        ).alias("embedding"),
    )


def planted_near_dup_corpus(corpus: DataFrame) -> DataFrame:
    """Union the corpus with its :func:`planted_twins`.  Exists so
    approximate operators can be exercised at their selective
    production calibration on fixtures that have no natural
    near-dups."""
    base = corpus.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x, j: x.cast("double")).alias("embedding"),
    )
    return base.unionByName(planted_twins(corpus))


def q_embedding_lsh_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s>=0.9 / 16-bit-band production regime, hot-bucket guard
    ON (the scale path as actually shipped), over the planted-twin
    corpus.  Hash-checked end to end: ORACLE_EMB_LSH_SELECTIVE
    replays planting, signatures, banding, the guard, and the exact
    rescore in SQL."""
    aug = planted_near_dup_corpus(table(spark, sf_dir, "embeddings"))
    return embedding_lsh_near_dup(
        aug,
        threshold=EMB_SELECTIVE_THRESHOLD,
        rows_per_band=EMB_SELECTIVE_ROWS_PER_BAND,
    )


ORACLE_EMB_LSH_SELECTIVE = f"""
WITH aug AS (
    SELECT vec_id, j, CAST(embedding[j + 1] AS DOUBLE) AS x
    FROM embeddings, unnest(range(len(embedding))) AS t(j)
    UNION ALL
    SELECT vec_id + {EMB_AUG_ID_OFFSET}, j,
           CAST(embedding[j + 1] AS DOUBLE) +
           ((2.0 * ((('0x' || substr(md5('aug:' || CAST(vec_id AS VARCHAR)
                                     || ':' || CAST(j AS VARCHAR)), 1, 13))::BIGINT)
                    / 4503599627370496.0) - 1.0) / {EMB_AUG_EPS_DEN}.0) AS x
    FROM embeddings, unnest(range(len(embedding))) AS t(j)
),
dims AS (
    SELECT max(len(embedding)) AS d FROM embeddings
),
h AS (
    SELECT i, j,
           2.0 * ((('0x' || substr(md5('{EMB_LSH_SEED}:' || CAST(i * d + j AS VARCHAR)), 1, 13))::BIGINT)
                  / 4503599627370496.0) - 1.0 AS w
    FROM dims, unnest(range({EMB_LSH_BITS})) AS ti(i), unnest(range(d)) AS tj(j)
),
bits AS (
    SELECT a.vec_id, h.i,
           CASE WHEN sum(a.x * h.w) >= 0 THEN 1 ELSE 0 END AS bit
    FROM aug a JOIN h ON a.j = h.j
    GROUP BY a.vec_id, h.i
),
keys AS (
    SELECT vec_id, i // {EMB_SELECTIVE_ROWS_PER_BAND} AS band_idx,
           CAST(sum(bit * (1 << (i % {EMB_SELECTIVE_ROWS_PER_BAND}))) AS BIGINT) AS key
    FROM bits GROUP BY vec_id, i // {EMB_SELECTIVE_ROWS_PER_BAND}
),
hot AS (
    SELECT band_idx, key FROM keys
    GROUP BY band_idx, key HAVING count(*) > {EMB_LSH_MAX_BUCKET_DEFAULT}
),
keys_ok AS (
    SELECT k.vec_id, k.band_idx, k.key
    FROM keys k ANTI JOIN hot ho
      ON k.band_idx = ho.band_idx AND k.key = ho.key
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM keys_ok a
    JOIN keys_ok b ON a.band_idx = b.band_idx AND a.key = b.key
                   AND a.vec_id < b.vec_id
),
prods AS (
    SELECT c.id_a, c.id_b, a.x AS ae, b.x AS be
    FROM cand c
    JOIN aug a ON a.vec_id = c.id_a
    JOIN aug b ON b.vec_id = c.id_b AND b.j = a.j
),
sims AS (
    SELECT id_a, id_b,
           round(sum(ae * be) / (sqrt(sum(ae * ae)) * sqrt(sum(be * be))), 6) AS sim
    FROM prods GROUP BY 1, 2
)
SELECT id_a, id_b, sim FROM sims WHERE sim >= {EMB_SELECTIVE_THRESHOLD}
"""


def selective_band_params(n: int) -> tuple[int, int]:
    """(n_bits, rows_per_band) for an n-vector corpus at the
    selective regime.

    A FIXED band width saturates: random (sim≈0) pairs collide in a
    band with probability 2^-r, so candidates grow ~ n²·2^-r — at
    500 K vectors a 16-bit key space (65 K buckets) yields ~11 M
    random candidate pairs and the 125× probe measured the registered
    query super-linear (95.7 s vs 7.8 s @25×).  Scaling r with
    log2(n) keeps the expected random collisions O(n): the smallest
    r ≥ ``EMB_SELECTIVE_ROWS_PER_BAND`` with 2^r ≥ 16·n bounds
    per-band random candidates at
    ~n/32.  Twin recall falls gently with r (0.955^r per band for
    ~0.99-sim pairs; ≥0.9 overall through r≈24 at 6 bands).  Fixture
    corpora (n ≤ 4096, incl. the sf0.1 planted corpus) always
    compute r = 16, so the pinned registered query and this
    scaled path agree there — the same pin-the-oracle /
    scale-the-caller split as semdedup's auto-K (gated in
    test_embedding_lsh.py).
    """
    r = max(EMB_SELECTIVE_ROWS_PER_BAND, (16 * n - 1).bit_length())
    return 6 * r, r


def embedding_lsh_selective_scaled(corpus: DataFrame,
                                   n: int | None = None) -> DataFrame:
    """The selective near-dup path with :func:`selective_band_params`
    sizing — the scale caller's entry point (one count() action, a
    bounded driver scalar like semdedup's auto-K).  ``n`` lets a
    caller that already counted the corpus skip the extra job."""
    if n is None:
        n = corpus.count()
    n_bits, r = selective_band_params(n)
    return embedding_lsh_near_dup(
        corpus, EMB_SELECTIVE_THRESHOLD, n_bits=n_bits, rows_per_band=r,
    )


def q_embedding_lsh_selective_scaled(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The PRODUCTION entry point post-saturation-fix: selective
    regime with :func:`selective_band_params` band sizing, guard ON,
    over the same planted-twin corpus as `embedding_lsh_selective`.
    Fixture corpora (n ≤ 4096) compute r = 16 — byte-identical to the
    pinned oracle — so registering the scale path itself under the
    driver's hash gate costs nothing (VERDICT r7 item 3)."""
    aug = planted_near_dup_corpus(table(spark, sf_dir, "embeddings"))
    n = aug.count()
    _, r = selective_band_params(n)
    # The pinned oracle was derived at r = EMB_SELECTIVE_ROWS_PER_BAND;
    # a future fixture SF large enough to flip selective_band_params
    # to r+1 would hash-mismatch with no hint why — fail loudly at the
    # source instead (ADVICE r8).
    if r != EMB_SELECTIVE_ROWS_PER_BAND:
        raise AssertionError(
            f"fixture corpus grew to n={n}: selective_band_params computes "
            f"r={r} but the registered oracle is pinned at "
            f"r={EMB_SELECTIVE_ROWS_PER_BAND}; re-derive the oracle CTE for "
            f"the new band width (see selective_band_params)"
        )
    return embedding_lsh_selective_scaled(aug, n=n)


def embedding_incremental_matches(
    corpus: DataFrame, incoming: DataFrame,
    n_bits: int = EMB_LSH_BITS,
    rows_per_band: int = EMB_SELECTIVE_ROWS_PER_BAND,
) -> DataFrame:
    """(id, match_id, sim): every incoming-side vector's
    above-threshold corpus matches — the cross-side candidate set,
    exactly rescored.  The per-incoming report below and the
    streaming twin (streaming/dedup.py) both reduce to this, exactly
    as the text side's ``incremental_scored_pairs``."""

    def side(df: DataFrame, is_corpus: bool) -> DataFrame:
        return _emb_band_keys(df, n_bits, rows_per_band).withColumn(
            "is_corpus", F.lit(is_corpus))

    cand = (
        cross_bucket_pairs(
            side(incoming, False).unionByName(side(corpus, True)),
            ["band_idx", "key"], "id", "is_corpus", EMB_LSH_MAX_BUCKET_DEFAULT,
        )
        .select(F.col("a").alias("id"), F.col("b").alias("match_id"))
        .distinct()
    )
    return _cosine_rescore(cand, incoming, corpus, EMB_SELECTIVE_THRESHOLD)


def embedding_incremental_neardup(
    corpus: DataFrame, incoming: DataFrame,
    n_bits: int = EMB_LSH_BITS,
    rows_per_band: int = EMB_SELECTIVE_ROWS_PER_BAND,
) -> DataFrame:
    """Streaming-ingest ANN dedup: for every INCOMING vector, its
    near-dup matches in the corpus — the embedding twin of
    dedup.incremental_dedup (dedup.py one-sided design).

    Candidate pairs are strictly ONE-SIDED: both sides' band rows
    meet in one exchange, and each bucket crosses its incoming members
    with its corpus members only (``dedup.cross_bucket_pairs``), so a
    corpus×corpus (or incoming×incoming) pair structure never exists
    in the plan — the shape that stays cheap when a small shard
    arrives against a 100 TB index.  The hot-bucket
    guard applies to the CORPUS side (a degenerate corpus bucket is
    the skew risk; the incoming shard is small by definition).

    Output, one row per incoming id (total): (vec_id, n_matches,
    best_match_id, best_sim, is_dup); unmatched report
    (0, -1, 0.0, false).  Ties on sim break toward the smaller
    match_id, mirroring the text-side contract.
    """
    # Same band-width saturation as the symmetric path: random
    # cross-side collisions ~ n_inc·n_cor·2^-r.  Scale callers should
    # size r from the CORPUS via selective_band_params (see
    # embedding_incremental_neardup_scaled); the registered query
    # keeps r pinned for oracle exactness.
    matched = embedding_incremental_matches(corpus, incoming, n_bits, rows_per_band)
    best = (
        matched.groupBy("id")
        .agg(
            F.count("*").alias("n_matches"),
            F.max(
                F.struct(F.col("sim"), (-F.col("match_id")).alias("nid"))
            ).alias("m"),
        )
        .select(
            "id",
            "n_matches",
            (-F.col("m.nid")).alias("best_match_id"),
            F.col("m.sim").alias("best_sim"),
        )
    )
    return (
        incoming.select(F.col("vec_id").cast("long").alias("id"))
        .join(best, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("best_match_id", F.lit(-1)).cast("long")
            .alias("best_match_id"),
            F.coalesce("best_sim", F.lit(0.0)).alias("best_sim"),
            F.col("n_matches").isNotNull().alias("is_dup"),
        )
    )


def embedding_incremental_neardup_scaled(
    corpus: DataFrame, incoming: DataFrame) -> DataFrame:
    """Scale caller's entry point: band width sized from the corpus
    via :func:`selective_band_params` (one count() scalar), so random
    cross-side collisions stay O(n) as the index grows.  Fixture
    corpora compute the registered r — equality with the pinned
    query is implied by the selective-path gate."""
    n = corpus.count()
    n_bits, r = selective_band_params(n)
    return embedding_incremental_neardup(
        corpus, incoming, n_bits=n_bits, rows_per_band=r)


def q_embedding_incremental_neardup(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Registered at the selective production calibration with the
    planted twins as the incoming shard and the raw table as the
    corpus — every incoming vector has exactly one ≥0.9 corpus match
    (its original), found with ~98% band recall, so both branches of
    the total-output contract (is_dup true AND false) appear in the
    hash."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_incremental_neardup(emb, planted_twins(emb))


def q_embedding_incremental_neardup_scaled(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    """Scale path of the incremental shape under the driver's hash
    gate: band width sized from the CORPUS via selective_band_params.
    Fixture corpora compute the pinned r = 16, so the result is
    byte-identical to ORACLE_EMB_INCREMENTAL (VERDICT r7 item 3)."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_incremental_neardup_scaled(emb, planted_twins(emb))


ORACLE_EMB_INCREMENTAL = f"""
WITH aug AS (
    SELECT vec_id, j, CAST(embedding[j + 1] AS DOUBLE) AS x
    FROM embeddings, unnest(range(len(embedding))) AS t(j)
    UNION ALL
    SELECT vec_id + {EMB_AUG_ID_OFFSET}, j,
           CAST(embedding[j + 1] AS DOUBLE) +
           ((2.0 * ((('0x' || substr(md5('aug:' || CAST(vec_id AS VARCHAR)
                                     || ':' || CAST(j AS VARCHAR)), 1, 13))::BIGINT)
                    / 4503599627370496.0) - 1.0) / {EMB_AUG_EPS_DEN}.0) AS x
    FROM embeddings, unnest(range(len(embedding))) AS t(j)
),
dims AS (
    SELECT max(len(embedding)) AS d FROM embeddings
),
h AS (
    SELECT i, j,
           2.0 * ((('0x' || substr(md5('{EMB_LSH_SEED}:' || CAST(i * d + j AS VARCHAR)), 1, 13))::BIGINT)
                  / 4503599627370496.0) - 1.0 AS w
    FROM dims, unnest(range({EMB_LSH_BITS})) AS ti(i), unnest(range(d)) AS tj(j)
),
bits AS (
    SELECT a.vec_id, h.i,
           CASE WHEN sum(a.x * h.w) >= 0 THEN 1 ELSE 0 END AS bit
    FROM aug a JOIN h ON a.j = h.j
    GROUP BY a.vec_id, h.i
),
keys AS (
    SELECT vec_id, i // {EMB_SELECTIVE_ROWS_PER_BAND} AS band_idx,
           CAST(sum(bit * (1 << (i % {EMB_SELECTIVE_ROWS_PER_BAND}))) AS BIGINT) AS key
    FROM bits GROUP BY vec_id, i // {EMB_SELECTIVE_ROWS_PER_BAND}
),
ck AS (
    SELECT vec_id AS match_id, band_idx, key FROM keys
    WHERE vec_id < {EMB_AUG_ID_OFFSET}
),
hot AS (
    SELECT band_idx, key FROM ck
    GROUP BY band_idx, key HAVING count(*) > {EMB_LSH_MAX_BUCKET_DEFAULT}
),
ck_ok AS (
    SELECT c.match_id, c.band_idx, c.key
    FROM ck c ANTI JOIN hot ho
      ON c.band_idx = ho.band_idx AND c.key = ho.key
),
ik AS (
    SELECT vec_id, band_idx, key FROM keys
    WHERE vec_id >= {EMB_AUG_ID_OFFSET}
),
cand AS (
    SELECT DISTINCT i.vec_id, c.match_id
    FROM ik i JOIN ck_ok c
      ON i.band_idx = c.band_idx AND i.key = c.key
),
prods AS (
    SELECT c.vec_id, c.match_id, a.x AS ae, b.x AS be
    FROM cand c
    JOIN aug a ON a.vec_id = c.vec_id
    JOIN aug b ON b.vec_id = c.match_id AND b.j = a.j
),
sims AS (
    SELECT vec_id, match_id,
           round(sum(ae * be) / (sqrt(sum(ae * ae)) * sqrt(sum(be * be))), 6) AS sim
    FROM prods GROUP BY 1, 2
),
matched AS (
    SELECT vec_id, match_id, sim FROM sims
    WHERE sim >= {EMB_SELECTIVE_THRESHOLD}
),
ranked AS (
    SELECT vec_id, match_id, sim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, match_id) AS rn,
           count(*) OVER (PARTITION BY vec_id) AS n
    FROM matched
),
best AS (
    SELECT vec_id, n, match_id, sim FROM ranked WHERE rn = 1
)
SELECT t.vec_id,
       CAST(coalesce(b.n, 0) AS BIGINT) AS n_matches,
       CAST(coalesce(b.match_id, -1) AS BIGINT) AS best_match_id,
       coalesce(b.sim, 0.0) AS best_sim,
       b.n IS NOT NULL AS is_dup
FROM (SELECT vec_id + {EMB_AUG_ID_OFFSET} AS vec_id FROM embeddings) t
LEFT JOIN best b ON b.vec_id = t.vec_id
"""


# --------------------------------------------------------------------------
def _model_broadcast(cent: DataFrame):
    """Collect the one-row centroid summary and ship it as a REAL
    Spark broadcast (torrent, once per executor).

    The previous idiom — ``corpus.join(F.broadcast(cent))`` before
    ``mapInPandas`` — duplicates the k×d float64 matrix onto EVERY
    corpus row inside the Arrow batches: O(n·k·d) bytes.  Invisible at
    the fixture K=8 (4 KB/row), a cliff once K scales with the corpus
    (the 125× probe measured semdedup at 101 s with K=488 ⇒ 250 KB/row
    — the model copy dwarfed the math).  The collect here is the
    MODEL, k×d doubles — the same bounded driver-scalar class as the
    BPE merge table (vocab.py), not corpus data.

    Returns ``(k, broadcast)`` where ``broadcast.value`` is the raw
    float64 centroid bytes — or ``(0, None)`` when the corpus (and so
    the seed pack) is empty, so callers can short-circuit to an empty
    result instead of crashing (the retired join formulation silently
    produced an empty result on an empty corpus; a pipeline that
    filters everything out must keep that behavior).
    """
    row = cent.first()
    if row is None:
        return 0, None
    k = len(row["cent_ids"])
    bc = cent.sparkSession.sparkContext.broadcast(bytes(row["cent_mat"]))
    return k, bc


def _nearest_centroids(df: DataFrame, vec_col: str, model, out: str,
                       n: int = 1) -> DataFrame:
    """``df`` with ``out``, the id of a vector's nearest centroid, added
    — one row per input row and rank r < ``n`` when ``n`` > 1 (IVF
    probes); every input column passes through.  ``model`` is the
    ``(k, broadcast)`` pair of :func:`_fit_centroids`.

    The one nearest-centroid kernel: IVF list assignment and probing,
    k-means assignment and SemDeDup clustering all rank here.  Each
    vector is L2-normalized and ranked against the broadcast centroids
    with a stable argsort, so rank 0 is the argmax with ties broken to
    the lowest centroid id, exactly as the oracles' ``ORDER BY sim
    DESC, cid``."""
    import numpy as np

    k, bc = model
    n = min(n, k)

    def _rank(batches):
        # the MODEL arrives via sc.broadcast (once per executor), never
        # duplicated onto corpus rows
        C = np.frombuffer(bc.value, dtype=np.float64).reshape(k, -1)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            order = np.argsort(-(V @ C.T), axis=1, kind="stable")[:, :n]
            yield pdf.iloc[np.repeat(np.arange(len(pdf)), n)].assign(
                **{out: order.ravel().astype(np.int64)})

    return df.mapInPandas(
        _rank, StructType(df.schema.fields + [StructField(out, LongType())]))


def _lloyd_refine(base: DataFrame, cent: DataFrame, n_iter: int) -> DataFrame:
    """``n_iter`` rounds of Lloyd's k-means on the spherical centroids.

    Each round is one map pass over the corpus (broadcast-assign +
    per-partition partial sums — the classic map-side combine) and one
    tiny all-to-one aggregation of O(lists × partitions) partial rows;
    the corpus is never shuffled and only the k×d MODEL reaches the
    driver (see :func:`_model_broadcast`).  Deterministic: partials
    carry their partition id and the combiner sums in (list_id, pid)
    order, so the float accumulation order is fixed across runs.
    Empty lists keep their previous centroid.
    """
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext

    def lloyd_pass(cent: DataFrame) -> DataFrame:
        k, bc = _model_broadcast(cent)  # materializes the last round's pin
        if k == 0:  # empty corpus → empty seed pack: nothing to refine
            return cent

        def partial(batches):
            C = np.frombuffer(bc.value, dtype=np.float64).reshape(k, -1)
            sums: dict[int, tuple[int, np.ndarray]] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(pdf["v"].tolist(), dtype=np.float64)
                V /= np.linalg.norm(V, axis=1, keepdims=True)
                assign = np.argmax(V @ C.T, axis=1)
                for li in np.unique(assign):
                    m = assign == li
                    c, s = sums.get(int(li), (0, np.zeros(V.shape[1])))
                    sums[int(li)] = (c + int(m.sum()), s + V[m].sum(axis=0))
            if not sums:
                return
            pid = TaskContext.get().partitionId()
            yield pd.DataFrame({
                "pid": pid,
                "list_id": list(sums),
                "cnt": [c for c, _ in sums.values()],
                "s": [s.tolist() for _, s in sums.values()],
            })

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            C = np.frombuffer(bc.value, dtype=np.float64).reshape(k, -1).copy()
            pdf = pdf.sort_values(["list_id", "pid"])
            for li, grp in pdf.groupby("list_id"):
                total = np.zeros(C.shape[1])
                for s in grp["s"]:
                    total += np.asarray(s, dtype=np.float64)
                if grp["cnt"].sum() > 0:
                    mean = total / grp["cnt"].sum()
                    C[int(li)] = mean / np.linalg.norm(mean)
            return pd.DataFrame({
                "cent_ids": [np.arange(C.shape[0], dtype=np.int64)],
                "cent_mat": [C.tobytes()],
            })

        return (
            base.mapInPandas(
                partial, "pid long, list_id long, cnt long, s array<double>")
            .withColumn("g", F.lit(0))
            .groupBy("g")
            .applyInPandas(combine, "cent_ids array<long>, cent_mat binary")
        )

    return iterate(cent, lloyd_pass, n_iter)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_lists: int = 8, n_probe: int = 2, kmeans_iters: int = 2) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the scale
    path for :func:`cosine_topk`.

    Index build: :func:`_fit_centroids` seeds ``n_lists`` centroids
    from the lowest-id corpus vectors and refines them with
    ``kmeans_iters`` spherical Lloyd rounds.  Every corpus vector is
    then assigned to its nearest centroid's list by
    :func:`_nearest_centroids` (map-only — no shuffle of the corpus)
    and each list is packed by :func:`_pack_blocks` keyed on
    ``list_id``.

    Search: each query is ranked against the same centroids, and its
    ``n_probe`` nearest lists are its ``list_id`` keys in the query
    pack; :func:`_block_topk` joins the packs on ``list_id``, so a
    query brute-forces only its probed lists — the scan fraction is
    ~n_probe / n_lists of the corpus, which is the entire point at 10⁹
    vectors.  Results are exact sims over an approximate candidate
    set, so recall < 1 is possible; tests assert recall vs the exact
    operator and that a full probe reproduces its rows exactly.
    """
    base = corpus.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("v"))
    model = _fit_centroids(base, n_lists, kmeans_iters)
    if model[0] == 0:  # empty corpus: no lists, no results
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, sim double, rank long")

    def lists(df: DataFrame, n: int) -> DataFrame:
        return _pack_blocks(
            _nearest_centroids(df, "embedding", model, "list_id", n),
            "vec_id", "embedding", 1, keys=("list_id",), keys_schema="list_id long")

    return _block_topk(lists(corpus, 1), lists(queries, n_probe), k,
                       keys=("list_id",))


#: Probe width for the registered IVF query (and its oracle).
IVF_N_PROBE = 2
IVF_TOP_K = 10


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # n_lists / kmeans_iters intentionally pinned to the kmeans
    # constants: the DuckDB oracle replays the index build via the
    # SAME kmeans_assign_sql() fragment the kmeans/semdedup oracles
    # use, so one SQL formulation checks every consumer of the
    # clustering stage.
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=IVF_TOP_K,
        n_lists=KMEANS_K, n_probe=IVF_N_PROBE, kmeans_iters=KMEANS_ITERS,
    )


#: Scan budget for the AUTO ANN planner, in corpus×query pairs — the
#: brute path's work is one |C|·|Q| matmul (streaming |C|·|Q|·dim
#: multiply-adds through the block kernel); 50 M pairs × 64 dims ≈
#: 3.2 G multiply-adds ≈ seconds on one executor's cores, and beyond
#: it the IVF index's ~n_probe/n_lists scan fraction pays for its
#: build.  Same shape as dedup.AUTO_PAIR_BUDGET: a measured-workload
#: threshold, not a tuned magic number — the fixture sits far under
#: it (exact brute answer), any production corpus×batch far over
#: (index path).
ANN_AUTO_SCAN_BUDGET = 50_000_000


def ann_topk_auto(corpus: DataFrame, queries: DataFrame, k: int = 10,
                  scan_budget: int = ANN_AUTO_SCAN_BUDGET,
                  decision: list | None = None) -> DataFrame:
    """Stats-driven ANN strategy selection: the engine counts the
    corpus and the query batch and picks exact brute-force or the IVF
    index itself — the second instance of the planner pattern
    `lsh_near_dup_auto` established for near-dup rescoring (dedup.py),
    applied to the other approximate family.

    The decision metric is the scanned-pair product |C|·|Q| (two
    metadata-cheap counts, deterministic given the data); below
    ``scan_budget`` the exact matmul is both faster AND exact, above
    it the IVF path's n_probe/n_lists scan fraction wins and the
    recall trade is taken knowingly (tests/test_ivf_recall.py gates
    it ≥ 0.9 on the fixture).  Output: the shared
    (query_id, neighbor_id, sim, rank) contract plus ``used_ivf`` —
    the chosen estimator rides in the output and the branch is
    replayed inside the DuckDB oracle, so the planner's choice is
    hash-checked exactly like the rescore planner's.

    ``decision`` is the same observer hook as the dedup planner:
    probes read the branch even when the result is empty.
    """
    n_c = corpus.count()
    n_q = queries.count()
    use_ivf = n_c * n_q > scan_budget
    if decision is not None:
        decision.append(use_ivf)
    if use_ivf:
        out = ivf_topk(corpus, queries, k=k, n_lists=KMEANS_K,
                       n_probe=IVF_N_PROBE, kmeans_iters=KMEANS_ITERS)
    else:
        out = cosine_topk(corpus, queries, k=k)
    return out.withColumn("used_ivf", F.lit(use_ivf))


def q_ann_topk_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return ann_topk_auto(emb, emb.filter(F.col("vec_id") < 8), k=IVF_TOP_K)


# --------------------------------------------------------------------------
# Pure-JVM vector math: higher-order array functions (transform /
# zip_with / aggregate) keep per-element arithmetic inside codegen —
# zero Python, zero shuffle (map-only).  This is the expression-level
# building block for vector ops embedded in larger relational plans;
# the numpy-blocked kernels above win only when a whole matmul can be
# batched.  Elements upcast float32→double per element (exact), and
# both engines fold left-to-right, so sums agree bit-for-bit.
def q_vector_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    sq = F.transform(
        "embedding", lambda x: x.cast("double") * x.cast("double")
    )
    rev_prod = F.zip_with(
        "embedding", F.reverse("embedding"),
        lambda a, b: a.cast("double") * b.cast("double"),
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(fold(sq)), 6).alias("l2_norm"),
        F.round(fold(rev_prod), 6).alias("dot_reversed"),
    )


ORACLE_VECTOR_FUNCTIONS = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       round(sqrt(list_sum(list_transform(embedding,
                                          x -> CAST(x AS DOUBLE) * x))), 6)
           AS l2_norm,
       round(list_sum(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE)
                      * embedding[len(embedding) - i + 1])), 6)
           AS dot_reversed
FROM embeddings
WHERE vec_id < 100
"""


# --------------------------------------------------------------------------
# Spherical k-means cluster ASSIGNMENT as a first-class output — the
# semantic-clustering stage of an LLM data pipeline (SemDeDup-style
# cluster-then-dedup-within-cluster, cluster-balanced sampling,
# topic-mixture analysis).  IVF above uses the same Lloyd machinery
# internally but only exposes neighbors; here the (vec, cluster)
# assignment IS the product, so centroid POSITIONS must be
# deterministic end-to-end: seeds are the k lowest-id vectors packed
# in sorted-id order (groupBy/applyInPandas row order is not
# contractual, so the packer sorts explicitly), refinement is
# :func:`_lloyd_refine` (fixed float accumulation order), and the
# :func:`_nearest_centroids` stable argsort tie-breaks to the lowest
# cluster id exactly like the oracle's ``ORDER BY sim DESC, cid``.
#
# Scale: per round, one broadcast-assign map pass over the corpus +
# one tiny partial-sum combine — the corpus is NEVER shuffled; the
# only corpus-sized shuffle in the whole query is the final
# cluster_size window.  K and the iteration count are fixed so the
# DuckDB oracle can unroll the identical rounds as chained CTEs.
KMEANS_K = 8
KMEANS_ITERS = 2


def _fit_centroids(base: DataFrame, k: int, n_iter: int):
    """Seed ``k`` spherical centroids from the lowest-id vectors and
    refine with ``n_iter`` Lloyd rounds (:func:`_lloyd_refine`).
    ``base`` is (id, v); returns the broadcast centroid model
    ``(k, broadcast)`` of :func:`_model_broadcast`."""
    import numpy as np
    import pandas as pd

    def _pack_seeds(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.DataFrame({
            "cent_ids": [np.arange(len(pdf), dtype=np.int64)],
            "cent_mat": [mat.tobytes()],
        })

    cent = (
        base.orderBy("id").limit(k)
        .withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(_pack_seeds, schema="cent_ids array<long>, cent_mat binary")
    )
    return _model_broadcast(_lloyd_refine(base, cent, n_iter))


def embedding_kmeans(corpus: DataFrame) -> DataFrame:
    """(vec_id, cluster, cluster_size) after ``KMEANS_ITERS`` spherical
    Lloyd rounds from the ``KMEANS_K`` lowest-id seed vectors."""
    base = corpus.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").alias("v"),  # float32 stays JVM-side; numpy upcasts exactly
    )
    model = _fit_centroids(base, KMEANS_K, KMEANS_ITERS)
    if model[0] == 0:  # empty corpus: nothing to assign
        return corpus.sparkSession.createDataFrame(
            [], "vec_id long, cluster long, cluster_size long")

    w = Window.partitionBy("cluster")
    return _nearest_centroids(base, "v", model, "cluster").select(
        F.col("id").alias("vec_id"), "cluster",
        F.count("*").over(w).alias("cluster_size")
    )


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_kmeans(table(spark, sf_dir, "embeddings"))


def kmeans_assign_sql() -> str:
    """Shared DuckDB CTE fragment (no ``WITH``) ending in
    ``final_assign(vec_id, cid)``, with ``norm(vec_id, v)`` holding
    the L2-normalized vectors: identical spherical Lloyd rounds
    unrolled as chained CTEs — aN assigns against cN-1 (argmax with
    the same DESC, cid tie break), uN is the per-dimension member
    mean, cN renormalizes it (empty clusters keep the previous
    centroid via the LEFT JOIN).  Both the kmeans and the semdedup
    oracles build on this fragment so every consumer of the
    clustering stage is checked against one formulation."""
    rounds = ""
    for i in range(1, KMEANS_ITERS + 1):
        rounds += f""",
a{i} AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.v, c.cv) DESC, c.cid) AS rn
        FROM norm n CROSS JOIN c{i - 1} c
    ) WHERE rn = 1
),
u{i} AS (
    SELECT cid, list(mx ORDER BY i) AS mv
    FROM (
        SELECT a.cid, i, avg(x) AS mx
        FROM (
            SELECT a.cid,
                   unnest(range(1, len(n.v) + 1)) AS i,
                   unnest(n.v) AS x
            FROM a{i} a JOIN norm n USING (vec_id)
        ) a
        GROUP BY a.cid, i
    )
    GROUP BY cid
),
c{i} AS MATERIALIZED (
    SELECT c.cid,
           coalesce(list_transform(u.mv,
                        x -> x / sqrt(list_dot_product(u.mv, u.mv))), c.cv) AS cv
    FROM c{i - 1} c LEFT JOIN u{i} u USING (cid)
)"""
    return f"""dv AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
norm AS MATERIALIZED (
    SELECT vec_id,
           list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS v
    FROM dv
),
c0 AS MATERIALIZED (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
    FROM (SELECT vec_id, v FROM norm ORDER BY vec_id LIMIT {KMEANS_K})
){rounds},
final_assign AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.v, c.cv) DESC, c.cid) AS rn
        FROM norm n CROSS JOIN c{KMEANS_ITERS} c
    ) WHERE rn = 1
)"""


ORACLE_KMEANS = f"""
WITH {kmeans_assign_sql()}
SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
       count(*) OVER (PARTITION BY cid) AS cluster_size
FROM final_assign
"""


# IVF search replayed in SQL on the same index-build fragment: probe
# the n_probe nearest centroids per query (dot DESC, cid tie — the
# stable-argsort order the numpy kernel uses), brute-force only the
# probed lists' members, exclude self, round sims to 6 dp before the
# final rank.  Probe/assignment are discrete argmax decisions, robust
# to the ~1e-15 centroid accumulation-order drift between the
# fixed-order partial sums (Spark) and avg() (DuckDB) — the same
# robustness ORACLE_KMEANS already depends on.
ORACLE_IVF_TOPK = f"""
WITH {kmeans_assign_sql()},
q AS (
    SELECT vec_id AS query_id, v AS qv FROM norm WHERE vec_id < 8
),
probe AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cid) AS rn
        FROM q CROSS JOIN c{KMEANS_ITERS} c
    ) WHERE rn <= {IVF_N_PROBE}
),
cand AS (
    SELECT p.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(n.v, q.qv), 6) AS sim
    FROM probe p
    JOIN final_assign fa ON fa.cid = p.cid
    JOIN norm n ON n.vec_id = fa.vec_id
    JOIN q ON q.query_id = p.query_id
    WHERE n.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
FROM cand
QUALIFY rank <= {IVF_TOP_K}
"""


# The ANN planner's oracle: both branch formulations verbatim (the
# IVF chain over the shared kmeans fragment, the brute chain over raw
# embeddings exactly as ORACLE_COSINE_TOPK), gated by the replayed
# |C|·|Q| decision — DuckDB takes the same branch the Spark planner
# takes on the same data.
ORACLE_ANN_AUTO = f"""
WITH {kmeans_assign_sql()},
q AS (
    SELECT vec_id AS query_id, v AS qv FROM norm WHERE vec_id < 8
),
probe AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cid) AS rn
        FROM q CROSS JOIN c{KMEANS_ITERS} c
    ) WHERE rn <= {IVF_N_PROBE}
),
icand AS (
    SELECT p.query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(n.v, q.qv), 6) AS sim
    FROM probe p
    JOIN final_assign fa ON fa.cid = p.cid
    JOIN norm n ON n.vec_id = fa.vec_id
    JOIN q ON q.query_id = p.query_id
    WHERE n.vec_id <> p.query_id
),
ivf_ranked AS (
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
    FROM icand
),
bf_pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 8
),
bf_sims AS (
    SELECT query_id, neighbor_id,
           round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
    FROM bf_pairs GROUP BY 1, 2
),
bf_ranked AS (
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
    FROM bf_sims
),
decision AS (
    SELECT (SELECT count(*) FROM embeddings)
           * (SELECT count(*) FROM embeddings WHERE vec_id < 8)
           > {ANN_AUTO_SCAN_BUDGET} AS use_ivf
)
SELECT query_id, neighbor_id, sim, rank, TRUE AS used_ivf
FROM ivf_ranked
WHERE rank <= {IVF_TOP_K} AND (SELECT use_ivf FROM decision)
UNION ALL
SELECT query_id, neighbor_id, sim, rank, FALSE AS used_ivf
FROM bf_ranked
WHERE rank <= {IVF_TOP_K} AND NOT (SELECT use_ivf FROM decision)
"""


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
# with the quadratic bounded BY the clustering — k-means first, then
# all-pairs cosine ONLY within each cluster.  The default K now
# auto-scales ∝ n / target_cluster_size (the paper's own regime) so a
# cluster's pairwise matrix stays a constant-size task as the corpus
# grows; the corpus-wide all-pairs join never exists in the plan.
# Probed at 25× fixture volume: fixed K=8 took 129 s (quadratic),
# auto-K 6.7 s (sub-linear).
SEMDEDUP_THRESHOLD = 0.45  # probed: nearest sim is ≥1e-4 from this cut at every SF

#: Target within-cluster row count for the auto-scaled SemDeDup K.
#: With K fixed, cluster sizes grow linearly with the corpus and the
#: within-cluster pairwise matrix grows QUADRATICALLY — the 25× probe
#: measured exactly that (8.7 s @5× → 129 s @25× at K=8).  Scaling
#: K ∝ n/target (the paper's own regime: 50k clusters for LAION)
#: keeps per-cluster work bounded: O(n · target) total.  512 rows →
#: a 512×512 float64 sim matrix ≈ 2 MB per task, far inside any
#: executor.  The KMEANS_K floor makes the rule fixture-invisible
#: (n < 4608 always picks K=8), so the unrolled-Lloyd oracle stays an
#: exact twin at every test SF.
SEMDEDUP_TARGET_CLUSTER_ROWS = 512


def semdedup_auto_k(n: int) -> int:
    """K for an n-vector corpus: max(KMEANS_K, n // target)."""
    return max(KMEANS_K, n // SEMDEDUP_TARGET_CLUSTER_ROWS)


def semdedup(corpus: DataFrame, k: int | None = None) -> DataFrame:
    """Per-vector semantic-dedup verdict: (vec_id, cluster,
    n_prior_dups, keep, max_prior_sim).

    A vector is a duplicate if some SAME-CLUSTER vector with a lower
    id has cosine ≥ ``SEMDEDUP_THRESHOLD``; the lowest id in each duplicate
    neighborhood is the keeper (``keep = true``), so the kept set is
    deterministic.  ``max_prior_sim`` is the rounded max similarity
    to any lower-id cluster-mate (−2.0 sentinel when none — engines
    agree on the sentinel, unlike NULL-vs-NaN).

    Dataflow: centroids fit via broadcast-assign Lloyd rounds (corpus
    never shuffled); :func:`_nearest_centroids` tags each raw vector
    with its cluster (map-only), then ONE shuffle groups each
    cluster's vectors and a numpy kernel normalizes them and does the
    within-cluster pairwise matrix — O(Σ cluster_size²) work, the
    SemDeDup contract.

    ``k=None`` (default) auto-scales via :func:`semdedup_auto_k` so
    cluster sizes stay ~constant as the corpus grows (one count()
    action — a scalar, the same defensible driver traffic as the BPE
    merge loop); pass an explicit ``k`` to pin it.
    """
    import numpy as np
    import pandas as pd

    base = corpus.select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").alias("v"),
    )
    if k is None:
        k = semdedup_auto_k(base.count())
    model = _fit_centroids(base, k, KMEANS_ITERS)
    if model[0] == 0:  # empty corpus: nothing to dedup
        return corpus.sparkSession.createDataFrame(
            [], "vec_id long, cluster long, n_prior_dups long, "
                "keep boolean, max_prior_sim double")

    def _cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        m = len(pdf)
        sims = np.round(V @ V.T, 6)
        prior = np.tril(np.ones((m, m), dtype=bool), -1)  # j < i by id order
        masked = np.where(prior, sims, -np.inf)
        mx = masked.max(axis=1)
        nd = (masked >= SEMDEDUP_THRESHOLD).sum(axis=1)
        return pd.DataFrame({
            "vec_id": pdf["id"].to_numpy(),
            "cluster": pdf["cluster"].to_numpy(),
            "n_prior_dups": nd.astype(np.int64),
            "keep": nd == 0,
            "max_prior_sim": np.where(np.isfinite(mx), mx, -2.0),
        })

    clustered = _nearest_centroids(base, "v", model, "cluster")
    return clustered.groupBy("cluster").applyInPandas(
        _cluster_dedup,
        schema=("vec_id long, cluster long, n_prior_dups long, "
                "keep boolean, max_prior_sim double"),
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k is PINNED to KMEANS_K so ORACLE_SEMDEDUP (which unrolls Lloyd
    # at that fixed K) is an exact twin on ARBITRARY data, not just
    # corpora under KMEANS_K * SEMDEDUP_TARGET_CLUSTER_ROWS rows
    # (ADVICE r6).  Scale callers keep the k=None auto-scaling
    # default — the probe exercises that path.  Pinning also removes
    # the construction-time count() action from the registered entry.
    return semdedup(table(spark, sf_dir, "embeddings"), k=KMEANS_K)


ORACLE_SEMDEDUP = f"""
WITH {kmeans_assign_sql()},
pairs AS (
    SELECT a.vec_id AS vid, round(list_dot_product(na.v, nb.v), 6) AS sim
    FROM final_assign a
    JOIN final_assign b ON a.cid = b.cid AND b.vec_id < a.vec_id
    JOIN norm na ON na.vec_id = a.vec_id
    JOIN norm nb ON nb.vec_id = b.vec_id
),
agg AS (
    SELECT vid, max(sim) AS mx,
           sum(CASE WHEN sim >= {SEMDEDUP_THRESHOLD} THEN 1 ELSE 0 END) AS nd
    FROM pairs GROUP BY vid
)
SELECT f.vec_id,
       CAST(f.cid AS BIGINT) AS cluster,
       CAST(coalesce(a.nd, 0) AS BIGINT) AS n_prior_dups,
       coalesce(a.nd, 0) = 0 AS keep,
       coalesce(a.mx, -2.0) AS max_prior_sim
FROM final_assign f LEFT JOIN agg a ON f.vec_id = a.vid
"""


# --------------------------------------------------------------------------
# FILTERED vector search — the restriction every production vector
# workload carries ("nearest neighbors WHERE <metadata predicate>").
# Pre-filtering composes for free in the DataFrame algebra: the
# predicate lands on the corpus scan BEFORE block packing, so the
# matmul only ever sees qualifying rows (the plan's PushedFilters
# proves it reached parquet).  This beats post-filtering — which
# over-fetches k then discards — whenever the selectivity is below
# ~50%, and is exact at any selectivity.
ANN_FILTER_LABEL = 3
ANN_FILTER_K = 5


def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") == ANN_FILTER_LABEL)
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(corpus, queries, k=ANN_FILTER_K)


ORACLE_FILTERED_TOPK = f"""
WITH pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 8 AND c.label = {ANN_FILTER_LABEL}
),
sims AS (
    SELECT query_id, neighbor_id,
           round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
    FROM pairs GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {ANN_FILTER_K}
"""


# --------------------------------------------------------------------------
# GROUP-PARTITIONED vector search — the multi-tenant / per-shard index
# shape: every query searches ONLY its own group's corpus partition
# (tenant id, language, document type...).  The group key becomes a
# pack-and-join key, so blocks of different groups never meet: the
# equi-join on the group column co-partitions query packs with corpus
# packs, and the matmul kernel is unchanged.  Contrast with
# ann_filtered_topk (one global predicate): here the predicate is
# "same group as the query", per query.
GROUPED_ANN_K = 5


def grouped_cosine_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, sim, rank): top-``GROUPED_ANN_K``
    neighbors within the query's own ``label`` partition."""
    def packed(df: DataFrame, nb: int) -> DataFrame:
        return _pack_blocks(df, "vec_id", "embedding", nb, keys=("label",),
                            keys_schema="label int")

    return _block_topk(packed(corpus, 4), packed(queries, 1), GROUPED_ANN_K,
                       keys=("label",))


def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return grouped_cosine_topk(emb, emb.filter(F.col("vec_id") < 8))


ORACLE_GROUPED_TOPK = f"""
WITH pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id AND c.label = q.label
    WHERE q.vec_id < 8
),
sims AS (
    SELECT query_id, neighbor_id,
           round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
    FROM pairs GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM sims
)
SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {GROUPED_ANN_K}
"""


# --------------------------------------------------------------------------
# Contrastive pair mining — training-data prep for embedding models:
# per anchor query, ONE positive (its nearest corpus neighbor) and
# N "random" negatives.  Random-but-reproducible matters more than
# random here (rebuilding the dataset must yield the same pairs), so
# negatives are the N corpus vectors with the smallest
# md5(query_id "_" vec_id) — a per-anchor deterministic permutation,
# the same md5-membership idiom as the sampling operators.
#
# Scale: the anchor set is small by definition (it broadcasts through
# the ranking cross join), so the negative ranking shuffles
# O(corpus × |anchors|) narrow rows; similarity for the N·|anchors|
# chosen pairs is a broadcast probe into the embeddings table.
# In-batch-negative variants avoid even that at training time; this
# operator builds the OFFLINE mined set.
CONTRASTIVE_N_NEG = 3


def contrastive_pairs(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, vec_id, role, sim): one 'positive' (nearest
    neighbor) + ``CONTRASTIVE_N_NEG`` deterministic 'negative' rows per
    query."""
    pos = cosine_topk(corpus, queries, k=1).select(
        "query_id",
        F.col("neighbor_id").alias("vec_id"),
        F.lit("positive").alias("role"),
        "sim",
    )
    q_ids = queries.select(F.col("vec_id").alias("query_id"))
    cand = (
        corpus.select("vec_id")
        .crossJoin(F.broadcast(q_ids))
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(pos.select("query_id", F.col("vec_id").alias("_p"))),
            "query_id",
        )
        .filter(F.col("vec_id") != F.col("_p"))
        .withColumn("h", F.md5(F.concat_ws("_", "query_id", "vec_id")))
    )
    w = Window.partitionBy("query_id").orderBy("h")
    picked = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CONTRASTIVE_N_NEG)
        .select("query_id", "vec_id")
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    qe = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qe")
    )
    with_q = picked.join(F.broadcast(qe), "query_id")
    ce = corpus.select("vec_id", F.col("embedding").alias("_ce"))
    dot = fold(F.zip_with("_qe", "_ce", lambda a, b: a.cast("double") * b.cast("double")))
    nq = fold(F.transform("_qe", lambda x: x.cast("double") * x.cast("double")))
    nc = fold(F.transform("_ce", lambda x: x.cast("double") * x.cast("double")))
    negs = (
        ce.join(F.broadcast(with_q), "vec_id")
        .select(
            "query_id",
            "vec_id",
            F.lit("negative").alias("role"),
            F.round(dot / (F.sqrt(nq) * F.sqrt(nc)), 6).alias("sim"),
        )
    )
    return pos.unionByName(negs)


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return contrastive_pairs(emb, emb.filter(F.col("vec_id") < 8))


ORACLE_CONTRASTIVE = f"""
WITH pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 8
),
sims AS (
    SELECT query_id, neighbor_id,
           round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
    FROM pairs GROUP BY 1, 2
),
pos AS (
    SELECT query_id, neighbor_id, sim FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    ) WHERE rank = 1
),
negpick AS (
    SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY md5(CAST(q.vec_id AS VARCHAR) || '_'
                                || CAST(c.vec_id AS VARCHAR))) AS rn
        FROM embeddings q
        JOIN embeddings c ON c.vec_id <> q.vec_id
        JOIN pos p ON p.query_id = q.vec_id AND c.vec_id <> p.neighbor_id
        WHERE q.vec_id < 8
    ) WHERE rn <= {CONTRASTIVE_N_NEG}
),
negexp AS (
    SELECT np.query_id, np.vec_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM negpick np
    JOIN embeddings q ON q.vec_id = np.query_id
    JOIN embeddings c ON c.vec_id = np.vec_id
)
SELECT query_id, neighbor_id AS vec_id, 'positive' AS role, sim FROM pos
UNION ALL
SELECT query_id, vec_id, 'negative' AS role,
       round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
FROM negexp GROUP BY query_id, vec_id
"""


# --------------------------------------------------------------------------
# Int8 scalar-quantized vector search — the production memory path:
# unit-normalize, quantize each dimension to round(x·127) ∈ [-127,127],
# rank by the INTEGER dot product.  4× smaller vectors, SIMD-friendly
# int8 kernels, and (the point here) an EXACT hash oracle: after the
# one quantization round-trip (pure IEEE +,*,/,sqrt mirrored
# shape-for-shape in both engines), everything downstream is exact
# integer arithmetic with no accumulation-order sensitivity at all —
# unlike the float cosine queries, the search phase cannot drift by an
# ulp.
#
# Scale: quantization is map-only JVM column math (transform/aggregate,
# no Python); search is cosine_topk's block kernel over the packed
# integer-valued rows, un-normalized.  float64 is exact there: every
# product and partial sum is an integer of magnitude ≤ dim·127² < 2⁵³,
# so the kernel's sims are the integer dots.  Corpus never shuffled,
# queries broadcast.
# Recall vs the float baseline is gated in tests/test_round5_ops.py.
INT8_SCALE = 127
INT8_TOPK = 10
INT8_NQ = 8  # registered query set: vec_id < 8, as the float baseline


def int8_quantize(vectors: DataFrame, keep: tuple = ()) -> DataFrame:
    """(id, qvec, *keep): unit-normalized, Q7-quantized vectors —
    pure column math, map-only, whole-stage codegen.

    Zero-norm vectors have no direction to quantize: they are DROPPED
    here, and every DuckDB oracle that mirrors this quantization
    (ORACLE_INT8_TOPK, classifier.ORACLE_CENTROID) carries the same
    ``WHERE nrm > 0`` filter so the engines cannot diverge on a
    degenerate embedding (NaN qvec vs division error)."""
    x = F.col("embedding")
    norm = F.sqrt(F.aggregate(
        x, F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    ))
    q = F.transform(
        x, lambda v: F.round(v.cast("double") / norm * INT8_SCALE).cast("long")
    )
    return (vectors.where(norm > 0)
            .select(F.col("vec_id").cast("long").alias("id"),
                    q.alias("qvec"), *keep))


def int8_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-``INT8_TOPK`` neighbors per query under the quantized integer dot
    product → (query_id, neighbor_id, dot_q, rank); ties break by
    neighbor id (quantized scores tie often — determinism matters)."""
    def packed(df: DataFrame, nb: int) -> DataFrame:
        return _pack_blocks(int8_quantize(df), "id", "qvec", nb, normalize=False)

    return _block_topk(packed(corpus, VEC_BLOCKS), packed(queries, 1), INT8_TOPK).select(
        "query_id", "neighbor_id", F.col("sim").cast("long").alias("dot_q"),
        "rank")


def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return int8_topk(emb, emb.filter(F.col("vec_id") < INT8_NQ))


# DuckDB twin: the quantization mirrors the Spark fold shape exactly —
# list_reduce with a prepended 0.0 is the same sequential left fold as
# F.aggregate's (so both engines feed IDENTICAL doubles into round) —
# and everything after quantization is exact integer arithmetic.
ORACLE_INT8_TOPK = f"""
WITH nz AS (
    SELECT vec_id, embedding,
           sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (acc, t) -> acc + t)) AS nrm
    FROM embeddings
),
qz AS (
    SELECT vec_id,
           list_transform(embedding, v ->
               CAST(round(CAST(v AS DOUBLE) / nrm
                    * {INT8_SCALE}) AS BIGINT)) AS qv
    FROM nz WHERE nrm > 0
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           unnest(q.qv) AS qe, unnest(c.qv) AS ce
    FROM qz q JOIN qz c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {INT8_NQ}
),
dots AS (
    SELECT query_id, neighbor_id, CAST(sum(qe * ce) AS BIGINT) AS dot_q
    FROM pairs GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, neighbor_id, dot_q,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_q DESC, neighbor_id) AS rank
    FROM dots
)
SELECT query_id, neighbor_id, dot_q, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {INT8_TOPK}
"""


QUERIES = [
    ("ann_int8_topk", q_int8_topk, ORACLE_INT8_TOPK,
     "E2 int8 scalar-quantized vector search (the 4x-memory production "
     "path): unit-normalize -> Q7 quantize (JVM column math) -> exact "
     "integer-dot blocked top-k; hash-checked end to end."),
    ("semdedup", q_semdedup, ORACLE_SEMDEDUP,
     "SemDeDup: k-means then within-cluster-only cosine dedup with "
     "deterministic keeper election (cluster-bounded quadratic)."),
    ("embedding_kmeans", q_embedding_kmeans, ORACLE_KMEANS,
     "Spherical k-means cluster assignment (broadcast-assign Lloyd "
     "rounds, corpus never shuffled) — the semantic-clustering stage."),
    ("vector_functions", q_vector_functions, ORACLE_VECTOR_FUNCTIONS,
     "JVM-side vector math via transform/zip_with/aggregate (map-only)."),
    ("ann_cosine_topk", q_cosine_topk, ORACLE_COSINE_TOPK,
     "E2 similarity search: brute-force cosine top-k (oracle baseline)."),
    ("embedding_near_dup", q_embedding_near_dup, ORACLE_NEAR_DUP,
     "E2 embedding-cosine near-dup pairs above a similarity threshold."),
    ("ann_ivf_topk", q_ivf_topk, ORACLE_IVF_TOPK,
     "E2 IVF-indexed approximate top-k (scale path): the oracle "
     "replays index build, probe, and rescore on the shared "
     "kmeans_assign_sql fragment; + recall test."),
    ("ann_auto_topk", q_ann_topk_auto, ORACLE_ANN_AUTO,
     "Stats-driven ANN strategy selection (round 11): the engine "
     "counts corpus x queries and picks exact brute-force vs the IVF "
     "index itself; the decision is replayed inside the oracle, so "
     "the planner's choice is part of the hash (second instance of "
     "the lsh_near_dup_auto planner pattern)."),
    ("embedding_lsh_recall_stress", q_embedding_lsh_recall_stress,
     ORACLE_EMB_LSH,
     "E2 LSH recall-calibration stress harness (renamed from "
     "embedding_lsh_neardup, VERDICT r7 #1): deliberately adversarial "
     "low-threshold/narrow-band/guard-OFF point over a FIXED "
     "512-vector slice, so the registered work is constant at any "
     "corpus size; md5-derived hyperplanes let the oracle replay the "
     "full pipeline in SQL; + recall test.  Production near-dup = "
     "embedding_lsh_selective(_scaled)."),
    ("embedding_lsh_selective", q_embedding_lsh_selective,
     ORACLE_EMB_LSH_SELECTIVE,
     "E2 hyperplane-LSH near-dup at the SELECTIVE production regime "
     "(s>=0.9, 16-bit bands, hot-bucket guard ON and oracle-mirrored) "
     "over a deterministically planted near-dup corpus — the "
     "sub-linear scale path, hash-checked end to end."),
    ("embedding_lsh_selective_scaled", q_embedding_lsh_selective_scaled,
     ORACLE_EMB_LSH_SELECTIVE,
     "E2 selective LSH near-dup with log2(n)-scaled band widths — the "
     "production entry point after the r7 band-saturation fix; fixture "
     "n computes the pinned r=16, so the scale path itself is "
     "hash-checked against the same oracle."),
    ("embedding_incremental_neardup", q_embedding_incremental_neardup,
     ORACLE_EMB_INCREMENTAL,
     "E2 streaming-ingest ANN dedup: one-sided band join of an "
     "incoming shard against the corpus index (corpus x corpus never "
     "exists), exact-cosine rescore, per-incoming best-match report "
     "with total output — the embedding twin of incremental_dedup, "
     "hash-checked end to end at the selective calibration."),
    ("embedding_incremental_neardup_scaled",
     q_embedding_incremental_neardup_scaled, ORACLE_EMB_INCREMENTAL,
     "E2 incremental embedding dedup with corpus-sized band widths "
     "(selective_band_params) — the scale caller's entry point, "
     "hash-checked via the pinned-r fixture equivalence."),
    ("ann_filtered_topk", q_filtered_topk, ORACLE_FILTERED_TOPK,
     "E2 filtered vector search: metadata predicate pre-filters the "
     "corpus scan before block packing (exact at any selectivity)."),
    ("ann_grouped_topk", q_grouped_topk, ORACLE_GROUPED_TOPK,
     "E2 group-partitioned vector search: per-group pack-and-join "
     "index, each query searches only its own partition."),
    ("contrastive_pairs", q_contrastive_pairs, ORACLE_CONTRASTIVE,
     "Contrastive pair mining: nearest-neighbor positive + "
     "deterministic md5-ranked negatives per anchor, with exact "
     "cosine for every emitted pair."),
]
