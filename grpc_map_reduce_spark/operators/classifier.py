"""In-engine classifier training (extension E2/E3 — SURVEY.md §2.2):
a nearest-centroid (Rocchio) classifier trained distributed over the
int8-quantized embedding space, predicting the fixture's cluster
label.  One aggregate pass learns the model; the decision rule
``‖x−μ_A‖² < ‖x−μ_B‖²`` is evaluated with all denominators cleared —

    margin = 2·(x·S_A)·n_A·n_B² − (S_A·S_A)·n_B²
           − 2·(x·S_B)·n_B·n_A² + (S_B·S_B)·n_A²

— so training AND scoring are EXACT integer arithmetic on the
quantized vectors (class sums S, class counts n): every margin sign,
every prediction, and the whole learned model hash-check against a
DuckDB replay of the same sums.  A float learner's gradient order
would drift; integer sums cannot.  (The batch perceptron was tried
first and rejected: full-batch sign updates oscillate and never beat
the majority class on any fixture target — the centroid rule is the
linear learner that actually converges in one pass.)

Scale shape: quantization is map-only JVM column math
(similarity.int8_quantize); class sums come from ONE posexplode →
(class, dim) aggregate (the wordcount shape, 2·dims rows out); the
1-row class-stats table and the (class, dim) sums BROADCAST back
into a per-row dot-product aggregate — no driver collect anywhere.
Margins are computed in DECIMAL(38,0) (the n³ factors pass int64
around ~20k rows/class — the quality_auc overflow pattern), and the
emitted scaled margin divides the class-size factors back out
symmetrically (toward-zero on both engines) so the output column
stays int64 at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: the registered binary problem: fixture cluster label 0 vs 1
CENTROID_POS, CENTROID_NEG = 0, 1


def centroid_classifier(vectors: DataFrame) -> DataFrame:
    """(vec_id, margin_scaled, pred_label, true_label, correct) for
    every row labeled ``CENTROID_POS`` or ``CENTROID_NEG``."""
    from grpc_map_reduce_spark.operators.similarity import int8_quantize

    pos, neg = CENTROID_POS, CENTROID_NEG
    rows = vectors.filter(F.col("label").isin(pos, neg))
    q = pin(  # feeds sums AND scoring
        int8_quantize(rows, keep=("label",))
        .withColumn("cls", (F.col("label") == pos).cast("int"))
    )

    # class sums per dimension — one explode + keyed agg (2·dims rows)
    dim_sums = (
        q.select("cls", F.posexplode("qvec").alias("dim", "v"))
        .groupBy("cls", "dim")
        .agg(F.sum("v").alias("s"))
    )
    stats = (
        dim_sums.groupBy("cls")
        .agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
        .join(q.groupBy("cls").agg(F.count("*").alias("n")), "cls")
    )
    wide = (
        stats.groupBy()
        .agg(
            F.max(F.when(F.col("cls") == 1, F.col("n"))).alias("na"),
            F.max(F.when(F.col("cls") == 0, F.col("n"))).alias("nb"),
            F.max(F.when(F.col("cls") == 1, F.col("ss"))).alias("saa"),
            F.max(F.when(F.col("cls") == 0, F.col("ss"))).alias("sbb"),
        )
    )

    # per-row dot products against both class-sum vectors: explode the
    # quantized vector once, probe the broadcast (cls, dim, s) table
    # (int8_quantize normalizes the id column's name to ``id``)
    dots = (
        q.select("id", F.posexplode("qvec").alias("dim", "x"))
        .join(F.broadcast(dim_sums), "dim")
        .groupBy("id")
        .agg(
            F.sum(F.when(F.col("cls") == 1, F.col("x") * F.col("s"))
                  .otherwise(0)).alias("xsa"),
            F.sum(F.when(F.col("cls") == 0, F.col("x") * F.col("s"))
                  .otherwise(0)).alias("xsb"),
        )
    )
    d = "CAST({} AS DECIMAL(38,0))"
    margin = (
        f"2 * {d.format('xsa')} * na * nb * nb - {d.format('saa')} * nb * nb"
        f" - 2 * {d.format('xsb')} * nb * na * na + {d.format('sbb')} * na * na"
    )
    scale = f"{d.format('na')} * na * nb * nb"
    return (
        dots.crossJoin(F.broadcast(wide))
        .join(q.select("id", "label"), "id")
        .select(
            F.col("id").alias("vec_id"),
            # symmetric (toward-zero) scaled margin: sign-safe across
            # engines, int64-bounded at any corpus size
            F.expr(
                f"CAST(CASE WHEN ({margin}) < 0"
                f" THEN -((-({margin})) div ({scale}))"
                f" ELSE ({margin}) div ({scale}) END AS BIGINT)"
            ).alias("margin_scaled"),
            F.expr(f"CASE WHEN ({margin}) > 0 THEN {pos} ELSE {neg} END")
            .cast("long").alias("pred_label"),
            F.col("label").cast("long").alias("true_label"),
            F.expr(
                f"(CASE WHEN ({margin}) > 0 THEN {pos} ELSE {neg} END)"
                " = label"
            ).alias("correct"),
        )
    )


def q_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return centroid_classifier(table(spark, sf_dir, "embeddings"))


ORACLE_CENTROID = f"""
WITH nz AS (
    SELECT vec_id, label, embedding,
           sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (acc, t) -> acc + t)) AS nrm
    FROM embeddings
    WHERE label IN ({CENTROID_POS}, {CENTROID_NEG})
),
qz AS (
    SELECT vec_id, label,
           CASE WHEN label = {CENTROID_POS} THEN 1 ELSE 0 END AS cls,
           list_transform(embedding, v ->
               CAST(round(CAST(v AS DOUBLE) / nrm * 127) AS BIGINT)) AS qv
    FROM nz WHERE nrm > 0
),
dim_sums AS (
    SELECT cls, dim, sum(v) AS s
    FROM (
        SELECT cls, unnest(qv) AS v,
               generate_subscripts(qv, 1) AS dim
        FROM qz
    )
    GROUP BY cls, dim
),
stats AS (
    SELECT
        (SELECT count(*) FROM qz WHERE cls = 1) AS na,
        (SELECT count(*) FROM qz WHERE cls = 0) AS nb,
        (SELECT sum(s * s) FROM dim_sums WHERE cls = 1) AS saa,
        (SELECT sum(s * s) FROM dim_sums WHERE cls = 0) AS sbb
),
expl AS (
    SELECT vec_id, unnest(qv) AS v, generate_subscripts(qv, 1) AS dim
    FROM qz
),
dots AS (
    SELECT x.vec_id,
           sum(CASE WHEN d.cls = 1 THEN x.v * d.s ELSE 0 END) AS xsa,
           sum(CASE WHEN d.cls = 0 THEN x.v * d.s ELSE 0 END) AS xsb
    FROM expl x JOIN dim_sums d ON d.dim = x.dim
    GROUP BY x.vec_id
),
m AS (
    SELECT q.vec_id, q.label,
           2 * CAST(xsa AS HUGEINT) * na * nb * nb
           - CAST(saa AS HUGEINT) * nb * nb
           - 2 * CAST(xsb AS HUGEINT) * nb * na * na
           + CAST(sbb AS HUGEINT) * na * na AS margin,
           CAST(na AS HUGEINT) * na * nb * nb AS scale
    FROM dots t JOIN qz q USING (vec_id) CROSS JOIN stats
)
SELECT vec_id,
       CAST(CASE WHEN margin < 0 THEN -((-margin) // scale)
                 ELSE margin // scale END AS BIGINT) AS margin_scaled,
       CAST(CASE WHEN margin > 0 THEN {CENTROID_POS}
                 ELSE {CENTROID_NEG} END AS BIGINT) AS pred_label,
       CAST(label AS BIGINT) AS true_label,
       (CASE WHEN margin > 0 THEN {CENTROID_POS} ELSE {CENTROID_NEG} END)
           = label AS correct
FROM m
"""


QUERIES = [
    ("embedding_centroid_classifier", q_centroid_classifier, ORACLE_CENTROID,
     "In-engine classifier training: nearest-centroid (Rocchio) on "
     "int8-quantized embeddings, label 0 vs 1 — one aggregate pass "
     "learns the model, margins are exact cleared-denominator integer "
     "arithmetic (DECIMAL(38,0)/HUGEINT), fully hash-checked."),
]
