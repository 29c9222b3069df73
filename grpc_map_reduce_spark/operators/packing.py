"""LLM training-data preparation: sequence packing and benchmark
decontamination.

Two pipeline stages every large-scale pretraining corpus goes through
after dedup/quality filtering (neither has any analog in the reference
engine — its surface ends at wordcount/inverted-index,
reducer.go:159-186 — so this is pure extension surface):

  * **Sequence packing** — concatenate documents back-to-back and cut
    the token stream into fixed-budget training sequences.  A document
    belongs to the sequence where it *starts* (concat-and-chunk
    semantics).  The running token total is a window cumsum, so the
    whole operator is one window over (source-partitioned, doc_id-
    ordered) rows — no Python, no self-join.
  * **Decontamination** — flag training documents that share word
    n-grams with a held-out benchmark/eval set, so eval data never
    leaks into training.  The benchmark's distinct shingle set is
    small by construction (eval sets are thousands of docs, not
    billions) and BROADCASTS; each training doc's shingles probe it
    map-side, and the only shuffle is the per-doc hit-count groupBy.

Scale notes (100 TB posture):
  * Packing parallelism = the window's partition key.  Partitioning by
    ``source`` packs each source's stream independently (sequences
    never mix sources — which production packing usually wants anyway
    for domain-mixing control).  A single giant source would serialize
    into one task; sub-shard the key (e.g. ``source, xxhash64(doc_id)
    % k``) and the semantics stay per-shard-deterministic.
  * Decontamination never joins train-to-train: work is O(train
    shingles) probe + O(hit pairs) aggregation.  If the benchmark set
    were huge, drop the broadcast hint and let AQE pick a shuffle
    join — the dataflow is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import (
    distinct_shingle_hashes_udf,
    words,
)
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: Token budget per packed training sequence.  Sized for the fixture
#: docs (10-99 words, median ~56); production values (2k-8k BPE
#: tokens) change nothing structurally.
PACK_SEQ_TOKENS = 256

#: Benchmark split: every 50th doc_id (~2 %) plays the held-out eval
#: set; 3-word shingles are the overlap unit (probed at sf0.01:
#: 257/490 train docs share >=1 shingle, max 23).
DECONTAM_BENCH_MOD = 50
DECONTAM_NGRAM = 3
#: A doc is contaminated at >= this many distinct shared shingles
#: (1 shared 3-gram is background noise; a run of them is leakage).
DECONTAM_MIN_HITS = 5


def pack_sequences(docs: DataFrame, seq_tokens: int = PACK_SEQ_TOKENS) -> DataFrame:
    """Assign each document to a fixed-token-budget training sequence.

    Output per doc: ``n_tokens``, ``seq_id`` (which sequence of its
    source's stream the doc starts in), ``seq_off`` (token offset of
    the doc within that sequence).  All integers — exact across
    engines.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tokens = F.size(words("text")).cast("long")
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("seq_id", F.floor(start / seq_tokens).cast("long"))
        .withColumn("seq_off", (start % seq_tokens).cast("long"))
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(table(spark, sf_dir, "documents"))


ORACLE_PACK_SEQUENCES = f"""
WITH toks AS (
    SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                w -> w <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
run AS (
    SELECT doc_id, source, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - n_tokens AS start
    FROM toks
)
SELECT doc_id, source, n_tokens,
       CAST(floor(start / {PACK_SEQ_TOKENS}) AS BIGINT) AS seq_id,
       start % {PACK_SEQ_TOKENS} AS seq_off
FROM run
"""


def decontaminate(docs: DataFrame,
                  bench_mod: int = DECONTAM_BENCH_MOD,
                  min_hits: int = DECONTAM_MIN_HITS) -> DataFrame:
    """Per training doc: distinct ``DECONTAM_NGRAM``-word shingles shared
    with the benchmark split, and the contamination flag.

    Training docs with zero overlap are kept in the output (left join,
    ``n_hits`` 0) so the result is a total audit of the train split.
    """
    is_bench = F.col("doc_id") % bench_mod == 0
    # Shingles travel as 60-bit hashes (functions.text.
    # distinct_shingle_hashes_udf): the broadcast benchmark set is 8 B
    # per shingle and the semi-join probes long equality.  The exploded
    # table is lazily pinned — BOTH branches (benchmark set + train
    # probe) read it, and without the checkpoint Spark re-runs the
    # shingling UDF over the whole corpus per branch.
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    sh = pin(
        docs.repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.explode(distinct_shingle_hashes_udf(DECONTAM_NGRAM)("text")).alias("sh_h"),
        )
    )
    bench = sh.filter(is_bench).select("sh_h").distinct()
    train = docs.filter(~is_bench).select("doc_id")
    hits = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "sh_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate(table(spark, sf_dir, "documents"))


ORACLE_DECONTAMINATE = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(ws) - {DECONTAM_NGRAM - 1}, 1) + 1),
               i -> array_to_string(ws[i:i+{DECONTAM_NGRAM - 1}], ' ')
           )) AS shingle
    FROM toks
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0),
hits AS (
    SELECT s.doc_id, count(*) AS n_hits
    FROM sh s JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id % {DECONTAM_BENCH_MOD} <> 0
    GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) >= {DECONTAM_MIN_HITS} AS contaminated
FROM documents d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {DECONTAM_BENCH_MOD} <> 0
"""


# --------------------------------------------------------------------------
# Length-bucketed curriculum: group docs of similar token length so
# training batches waste minimal padding.  The naive formulation —
# ``ntile(K) OVER (ORDER BY n_tokens)`` — is a GLOBAL SORT (every row
# through one ordering); the scale formulation computes the K−1 exact
# length percentiles (one tiny all-to-one aggregate), broadcasts them,
# and assigns buckets map-side — the corpus itself never sorts and the
# only full shuffle is the per-bucket stats window.
LENGTH_BUCKETS = 8


def length_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, bucket, bucket_size) — ``LENGTH_BUCKETS``
    equal-frequency length buckets, 1-based; bucket = 1 + #boundaries strictly below
    the doc's token count."""
    toks = docs.select(
        "doc_id", F.size(words("text")).cast("long").alias("n_tokens")
    )
    qs = [i / LENGTH_BUCKETS for i in range(1, LENGTH_BUCKETS)]
    bounds = toks.agg(
        F.percentile("n_tokens", F.lit(qs)).alias("bs")
    )
    bucket = (
        F.lit(1)
        + F.aggregate(
            "bs",
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col("n_tokens") > b, 1).otherwise(0),
        )
    ).cast("long")
    w = Window.partitionBy("bucket")
    return (
        toks.crossJoin(F.broadcast(bounds))
        .select("doc_id", "n_tokens", bucket.alias("bucket"))
        .withColumn("bucket_size", F.count("*").over(w))
    )


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_buckets(table(spark, sf_dir, "documents"))


def _length_buckets_oracle() -> str:
    k = LENGTH_BUCKETS
    qs = ", ".join(str(i / k) for i in range(1, k))
    return f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                w -> w <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
bounds AS (
    SELECT quantile_cont(n_tokens, [{qs}]) AS bs FROM toks
),
assigned AS (
    SELECT doc_id, n_tokens,
           CAST(1 + len(list_filter(bs, b -> n_tokens > b)) AS BIGINT) AS bucket
    FROM toks CROSS JOIN bounds
)
SELECT doc_id, n_tokens, bucket,
       count(*) OVER (PARTITION BY bucket) AS bucket_size
FROM assigned
"""


ORACLE_LENGTH_BUCKETS = _length_buckets_oracle()


# --------------------------------------------------------------------------
# Packing-efficiency sweep — "which sequence budget should training
# use?": for each candidate budget B, how many sequences the corpus
# packs into, how much tail padding each source's stream pays, and how
# many documents get SPLIT across a sequence boundary (split docs lose
# attention locality; padding loses FLOPs — the knee of this table is
# the budget decision).  Concat-and-chunk semantics, matching
# pack_sequences.  All integer math.
#
# Scale: ONE window cumsum per source (the pack_sequences shuffle),
# then a 4-row broadcast budget sweep joined map-side; aggregates are
# budget-count-sized.
PACK_SWEEP_BUDGETS = (128, 256, 512, 1024)


def packing_efficiency(docs: DataFrame) -> DataFrame:
    """(seq_budget, n_seqs, total_tokens, pad_tokens, pad_bp,
    n_split_docs) per ``PACK_SWEEP_BUDGETS`` candidate budget."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tokens = F.size(words("text")).cast("long")
    starts = pin(  # feeds the split scan AND totals
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    )
    budgets_df = F.broadcast(docs.sparkSession.createDataFrame(
        [(b,) for b in PACK_SWEEP_BUDGETS], "seq_budget long"
    ))
    crossing = (
        (F.col("n_tokens") > 0)
        & (F.expr("start DIV seq_budget")
           != F.expr("(start + n_tokens - 1) DIV seq_budget"))
    ).cast("long")
    splits = (
        starts.crossJoin(budgets_df)
        .groupBy("seq_budget")
        .agg(F.sum(crossing).alias("n_split_docs"))
    )
    per_source = starts.groupBy("source").agg(
        F.sum("n_tokens").alias("src_tokens")
    )
    sizing = (
        per_source.crossJoin(budgets_df)
        .groupBy("seq_budget")
        .agg(
            F.sum(F.expr("(src_tokens + seq_budget - 1) DIV seq_budget"))
            .alias("n_seqs"),
            F.sum("src_tokens").alias("total_tokens"),
        )
        .withColumn(
            "pad_tokens",
            F.col("n_seqs") * F.col("seq_budget") - F.col("total_tokens"),
        )
        .withColumn(
            "pad_bp",
            F.expr("(pad_tokens * 10000) DIV (n_seqs * seq_budget)"),
        )
    )
    # splits is budget-count-sized (4 rows) but sits behind an agg, so
    # the planner has no stats — hint the broadcast instead of an SMJ
    return sizing.join(F.broadcast(splits), "seq_budget").select(
        "seq_budget", "n_seqs", "total_tokens", "pad_tokens", "pad_bp",
        F.col("n_split_docs").cast("long").alias("n_split_docs"),
    )


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing_efficiency(table(spark, sf_dir, "documents"))


def _packing_efficiency_oracle() -> str:
    bs = ", ".join(f"({b})" for b in PACK_SWEEP_BUDGETS)
    return f"""
WITH toks AS (
    SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                w -> w <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
run AS (
    SELECT doc_id, source, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - n_tokens AS start
    FROM toks
),
budgets(seq_budget) AS (VALUES {bs}),
splits AS (
    SELECT seq_budget,
           CAST(sum(CASE WHEN n_tokens > 0
                         AND start // seq_budget
                             <> (start + n_tokens - 1) // seq_budget
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
    FROM run CROSS JOIN budgets
    GROUP BY seq_budget
),
per_source AS (
    SELECT source, sum(n_tokens) AS src_tokens FROM toks GROUP BY source
),
sizing AS (
    SELECT seq_budget,
           CAST(sum((src_tokens + seq_budget - 1) // seq_budget) AS BIGINT)
               AS n_seqs,
           CAST(sum(src_tokens) AS BIGINT) AS total_tokens
    FROM per_source CROSS JOIN budgets
    GROUP BY seq_budget
)
SELECT CAST(s.seq_budget AS BIGINT) AS seq_budget,
       n_seqs, total_tokens,
       CAST(n_seqs * s.seq_budget - total_tokens AS BIGINT) AS pad_tokens,
       CAST(((n_seqs * s.seq_budget - total_tokens) * 10000)
            // (n_seqs * s.seq_budget) AS BIGINT) AS pad_bp,
       sp.n_split_docs
FROM sizing s JOIN splits sp ON s.seq_budget = sp.seq_budget
"""


ORACLE_PACKING_EFFICIENCY = _packing_efficiency_oracle()


QUERIES = [
    ("packing_efficiency", q_packing_efficiency, ORACLE_PACKING_EFFICIENCY,
     "Sequence-budget sweep: sequences, tail padding, and boundary-"
     "split doc counts per candidate budget (one cumsum window + a "
     "4-row broadcast sweep — the packing-config decision table)."),
    ("docs_length_buckets", q_length_buckets, ORACLE_LENGTH_BUCKETS,
     "Equal-frequency length-bucketed curriculum (broadcast percentile "
     "boundaries, map-side assignment — no global sort)."),
    ("pack_sequences", q_pack_sequences, ORACLE_PACK_SEQUENCES,
     "Sequence packing: fixed-token-budget training sequences via window cumsum."),
    ("decontaminate_ngram", q_decontaminate, ORACLE_DECONTAMINATE,
     "Benchmark decontamination: n-gram overlap vs a held-out split "
     "(broadcast probe, no train-train join)."),
]
