"""Skew mitigation: salting for hot keys (extension E5 — the 100 TB
posture made executable).

The reference has no skew handling at all — README.md:180 wishes for
"a good hashing function", but a hot key still lands every one of its
records on ONE reducer (FNV % nReducers, mapper.go:205-209).  Spark's
AQE skew-join splitting handles *join* skew automatically; these
operators cover the two cases AQE does not:

  * ``salted_aggregate`` — aggregation skew.  A Zipfian key (every
    real token distribution) funnels its whole group through one
    task's final-agg.  Salting splits each key into ``n_salts``
    sub-groups aggregated independently, then merges the tiny
    per-salt partials.  Correctness requires an algebraic aggregate
    (sum/count/min/max — anything with a merge step).
  * ``salted_shuffle_join`` — when the build side is too big to
    broadcast and one probe key is hot, replicating the build side
    ``n_salts``× and splitting the probe side keeps every task's
    share of the hot key bounded.  (If the build side FITS in a
    broadcast there is nothing to salt: a broadcast join never
    shuffles the probe side, so no task owns a whole key.)

Both are result-invariant rewrites — the salted wordcount below is
oracle-checked against the SAME SQL as the unsalted one.

WHEN TO SALT A JOIN vs TRUST AQE (measured by ``tools/plan_report.py``,
the skew walls in PLANS.md: 20 M probe rows / 40 % hot key / 1.5 M
build keys):

  * plain shuffle EQUI-join with a hot key: do NOT salt.  AQE's
    runtime split finished in 2.1 s where skew-off took 8.1 s (3.8x)
    and the manually salted join took 3.9 s (round 9, 32 cores; on
    4 cores 10.3 s vs 14.8 s vs 16.7 s) — the split beats salting
    because it never pays the n_salts x build-side replication (which
    also OOM'd a task's hash-map build at 4 M keys x 8 salts).
  * EXCEPT when the hot partition is highly compressible: AQE skew
    detection reads COMPRESSED map-output sizes, and a column-pruned
    hot partition (millions of identical 8-byte keys) lz4-compresses
    below the threshold — the probe measured the split NOT firing on
    exactly that shape while wall-clock skew remained.  Row-count
    skew with tiny compressed bytes is the one join case where
    ``salted_shuffle_join`` still pays.
  * aggregation skew: always ``salted_aggregate`` — AQE splits join
    partitions, never aggregation groups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import table


def _salt(df: DataFrame, n_salts: int) -> Column:
    # Deterministic per-row salt from the row's own content plus its
    # partition id.  Retry-stable: a re-executed task re-reads the
    # same partition contents with the same partition id, so every row
    # re-hashes to the same salt (monotonically_increasing_id, the
    # previous key, is NOT stable under retry — ids depend on row
    # position).  Content-identical rows in one partition share a
    # salt, which costs nothing: map-side partial aggregation has
    # already merged them before the shuffle.
    return F.pmod(
        F.xxhash64(F.spark_partition_id(), *[F.col(c) for c in df.columns]),
        F.lit(n_salts),
    )


def salted_aggregate(df: DataFrame, key_cols: list[str],
                     counts: dict[str, Column], n_salts: int = 16) -> DataFrame:
    """Two-stage skew-proof aggregation.

    ``counts`` maps output column name → a SUM-mergeable expression
    (e.g. ``F.lit(1)`` for a count, a value column for a sum).  Stage
    1 aggregates per (key, salt); stage 2 merges the ≤ ``n_salts``
    partials per key.  The hot key's work is spread across
    ``n_salts`` tasks instead of one.
    """
    partial = (
        df.withColumn("__salt", _salt(df, n_salts))
        .groupBy(*key_cols, "__salt")
        .agg(*[F.sum(expr).alias(f"__p_{name}") for name, expr in counts.items()])
    )
    return partial.groupBy(*key_cols).agg(
        *[F.sum(f"__p_{name}").alias(name) for name in counts]
    )


def salted_shuffle_join(probe: DataFrame, build: DataFrame, key: str,
                        n_salts: int = 8) -> DataFrame:
    """Inner SHUFFLE join with the build side replicated per salt.

    Probe rows get a deterministic salt; the build side is exploded
    ``n_salts``× so every (key, salt) bucket finds its match — the hot
    key's probe rows spread across ``n_salts`` shuffle partitions
    instead of stalling one task.  The shuffle-hash hint pins the
    strategy this operator exists for (a build side small enough for
    Catalyst to auto-broadcast doesn't need salting at all); tests
    assert the plan contains no broadcast join.
    """
    salted_probe = probe.withColumn("__salt", _salt(probe, n_salts))
    salted_build = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).hint("shuffle_hash")
    return salted_probe.join(salted_build, [key, "__salt"]).drop("__salt")


# --------------------------------------------------------------------------
# The reference's flagship job, skew-hardened: token frequencies are
# Zipfian, so the top word is exactly the aggregation-skew case.
def wordcount_salted(docs: DataFrame) -> DataFrame:
    tokens = docs.select(F.explode(words("text")).alias("word"))
    return salted_aggregate(tokens, ["word"], {"cnt": F.lit(1)})


def q_wordcount_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wordcount_salted(table(spark, sf_dir, "documents"))


# Result-invariance is the point: same oracle as the plain wordcount.
ORACLE_WORDCOUNT_SALTED = """
SELECT word, count(*) AS cnt
FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents
)
WHERE word <> ''
GROUP BY word
"""


QUERIES = [
    ("wordcount_salted", q_wordcount_salted, ORACLE_WORDCOUNT_SALTED,
     "Skew-proof two-stage salted aggregation; oracle-identical to wordcount."),
]
