"""Deterministic stratified sampling — the corpus-shaping operators a
training-data pipeline runs between dedup and tokenization (extension
E5 posture; no reference equivalent — its pipeline is a single
map→shuffle→reduce pass, master.go:112-234).

Both operators are hash-deterministic (md5-derived, like sketches.py /
dedup.py), NOT pseudo-random: re-runs, engine ports, and corpus
re-shards reproduce the identical sample, and the DuckDB oracle checks
them bit-for-bit.  Spark's built-in ``sampleBy`` draws from a seeded
RNG whose stream is engine- and partitioning-specific — fine for
one-off stats, wrong for a reproducible training corpus.

  * ``stratified_sample`` — per-stratum KEEP RATES (e.g. downweight
    English, keep all low-resource languages).  Map-only: one hash
    comparison per row, zero shuffle at any scale; the rate table
    rides along as a literal CASE expression.
  * ``balanced_downsample`` — per-stratum CAP (at most N docs per
    language), taken as the N lowest hash values per stratum —
    deterministic "random" choice without an RNG.  One shuffle on the
    stratum key; per-stratum ordering is the same window machinery as
    topk_per_group, so a hot stratum is bounded by the window sort,
    not a driver collect.  At 100 TB with mega-strata, pre-filter
    with ``stratified_sample`` at ~cap/stratum_count before the exact
    window pass (two-stage: cheap map-only cut, then exact cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.operators.sketches import _md5_long
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: Per-language keep rates (percent) — downsample the head language,
#: keep the tail whole: the standard corpus-balancing move.
SAMPLE_RATES = {"en": 40, "zh": 80, "es": 80}
SAMPLE_DEFAULT_RATE = 100

#: Per-language cap for the balanced variant.
BALANCE_CAP = 60


def stratified_sample(df: DataFrame, rates: dict[str, int] | None = None,
                      strata_col: str = "lang",
                      id_col: str = "doc_id") -> DataFrame:
    """Rows whose hash bucket falls under their stratum's keep rate.

    ``rates`` maps stratum value → keep percent (0-100); unlisted
    strata keep ``SAMPLE_DEFAULT_RATE``.  Bucket = md5(id) mod 100, so
    membership is a pure function of the row id — stable across runs
    and engines.
    """
    rates = SAMPLE_RATES if rates is None else rates
    bucket = _md5_long(F.col(id_col).cast("string")) % 100
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for stratum, pct in rates.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def balanced_downsample(df: DataFrame) -> DataFrame:
    """At most ``BALANCE_CAP`` rows per ``lang``: the lowest md5 hashes
    of ``doc_id`` (ties broken by id → fully deterministic).  Adds
    ``sample_rank`` (1-based position within the stratum's kept set)."""
    h = _md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= BALANCE_CAP)
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = stratified_sample(table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", "source")


def _rates_case_sql() -> str:
    whens = "\n         ".join(
        f"WHEN lang = '{s}' THEN {p}" for s, p in SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT_RATE} END"


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
      < {_rates_case_sql()}
"""


def q_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = balanced_downsample(table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", "sample_rank")


ORACLE_BALANCED_DOWNSAMPLE = f"""
SELECT doc_id, lang, sample_rank
FROM (
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                        doc_id
           ) AS BIGINT) AS sample_rank
    FROM documents
)
WHERE sample_rank <= {BALANCE_CAP}
"""


# --------------------------------------------------------------------------
# Target-mixture resampling with epochs — the "data mixing" step of a
# training recipe: given RELATIVE WEIGHTS per source and a total
# budget, compute how many copies of each source's rows to emit so the
# output matches the target mixture.  Unlike ``stratified_sample``
# (fixed keep rates), the per-source rate is DERIVED from the observed
# counts, and sources weighted above their natural share are
# UPSAMPLED — rows repeat with an ``epoch`` counter (>1 epochs is how
# real recipes overweight small high-quality sources).
#
# All mixture math is integer (basis points via DIV), and the
# fractional-epoch choice is an md5 bucket — the resample is a pure
# function of (doc_id, source counts), reproducible across runs,
# engines, and shard layouts.
#
# Scale: the normalization is a 1-row aggregate (over the O(#sources)
# count table) crossJoin-broadcast back onto the corpus; the resample
# itself is map-only (hash compare + explode of a ≤max_epochs-element
# sequence).  No shuffle beyond the tiny count aggregate at any
# corpus size.
MIXTURE_WEIGHTS = {"src0": 3, "src1": 3}
MIXTURE_DEFAULT_WEIGHT = 1
MIXTURE_BUDGET_PCT = 100  # output size target, percent of input rows


def mixture_epoch_resample(df: DataFrame,
                           weights: dict[str, int] | None = None,
                           default_weight: int = MIXTURE_DEFAULT_WEIGHT,
                           budget_pct: int = MIXTURE_BUDGET_PCT) -> DataFrame:
    """Resample to a target source mixture → input rows + ``epoch``.

    Target mixture: source s's share of the output is proportional to
    ``w_s·n_s`` (each of its rows counts ``w_s``×), normalized by
    ``W = Σ_j w_j·n_j`` and scaled to the row budget ``T·budget%``.
    The per-ROW copy ratio is then independent of the source's own
    size, in basis points:

        ratio_bp(s) = (T · budget_pct · w_s · 100) DIV W

    Every row gets ``ratio_bp DIV 10000`` full epochs, plus one more
    iff its hash bucket (md5 mod 10⁴) falls under ``ratio_bp mod
    10⁴`` — so realized counts hit the target in expectation with
    deterministic membership.
    """
    weights = MIXTURE_WEIGHTS if weights is None else weights
    w_col = F.lit(default_weight)
    for s, w in weights.items():
        w_col = F.when(F.col("source") == s, F.lit(w)).otherwise(w_col)

    counts = df.groupBy("source").agg(F.count("*").alias("n_s"))
    totals = (
        counts.withColumn("w", w_col)
        .agg(
            F.sum("n_s").alias("t_rows"),
            F.sum(F.col("w") * F.col("n_s")).alias("w_total"),
        )
    )
    ratio_bp = F.expr(f"(t_rows * {budget_pct} * w * 100) DIV w_total")
    bucket = _md5_long(F.col("doc_id").cast("string")) % 10000
    copies = (ratio_bp / 10000).cast("long") + (
        (bucket < ratio_bp % 10000).cast("long")
    )
    return (
        df.crossJoin(F.broadcast(totals))
        .withColumn("w", w_col)
        .withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .select(
            *df.columns,
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("_copies"))
            ).alias("epoch"),
        )
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = mixture_epoch_resample(table(spark, sf_dir, "documents"))
    return out.select("doc_id", "source", "epoch")


def _weights_case_sql(col: str = "source") -> str:
    whens = " ".join(
        f"WHEN {col} = '{s}' THEN {w}" for s, w in MIXTURE_WEIGHTS.items()
    )
    return f"CASE {whens} ELSE {MIXTURE_DEFAULT_WEIGHT} END"


ORACLE_MIXTURE_RESAMPLE = f"""
WITH counts AS (
    SELECT source, count(*) AS n_s, {_weights_case_sql()} AS w
    FROM documents GROUP BY source
),
totals AS (
    SELECT sum(n_s) AS t_rows, sum(w * n_s) AS w_total FROM counts
),
scored AS (
    SELECT d.doc_id, d.source,
           (t_rows * {MIXTURE_BUDGET_PCT} * ({_weights_case_sql("d.source")}) * 100)
               // w_total AS ratio_bp,
           ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
               AS bucket
    FROM documents d
    CROSS JOIN totals
),
copies AS (
    SELECT doc_id, source,
           CAST(ratio_bp // 10000
                + CASE WHEN bucket < ratio_bp % 10000 THEN 1 ELSE 0 END
                AS BIGINT) AS n_copies
    FROM scored
)
SELECT doc_id, source,
       CAST(unnest(range(1, n_copies + CAST(1 AS BIGINT))) AS BIGINT) AS epoch
FROM copies
WHERE n_copies > 0
"""


# --------------------------------------------------------------------------
# Temperature-scaled mixture (UniMax / multilingual-sampling style):
# instead of hand-set weights, the target source share is derived
# from the data as n_s^α with α = 0.5 — large sources are damped,
# tail sources upsampled, the standard remedy for head-domination in
# multi-source corpora.  Everything after the one sqrt is INTEGER so
# the realized sample is bit-stable across engines:
#
#   s_i       = floor(sqrt(n_s) · 1000)          (exact per source —
#               IEEE sqrt of an integer is identical everywhere)
#   share_bp  = (s_i · 10⁴) DIV Σ s_j            (≤ 10⁴)
#   ratio_bp  = (T · budget% · share_bp) DIV (100 · n_s)
#
# ratio_bp's product is ≤ t_rows·10⁶ — safe in int64 to ~10¹² corpus
# rows.  Copies/membership then follow the mixture_epoch_resample
# contract (md5 bucket under ratio_bp mod 10⁴, + full epochs).
TEMP_BUDGET_PCT = 100


def temperature_epoch_resample(df: DataFrame) -> DataFrame:
    """Resample so source shares follow ``sqrt(n_s)`` (α=0.5
    temperature sampling) → input rows + ``epoch``."""
    counts = df.groupBy("source").agg(F.count("*").alias("n_s")).withColumn(
        "s_i", F.floor(F.sqrt("n_s") * 1000).cast("long")
    )
    totals = counts.agg(
        F.sum("n_s").alias("t_rows"), F.sum("s_i").alias("s_total")
    )
    per_source = counts.crossJoin(F.broadcast(totals)).withColumn(
        "share_bp", F.expr("(s_i * 10000) DIV s_total")
    ).withColumn(
        "ratio_bp",
        F.expr(f"(t_rows * {TEMP_BUDGET_PCT} * share_bp) DIV (100 * n_s)"),
    ).select("source", "ratio_bp")
    bucket = _md5_long(F.col("doc_id").cast("string")) % 10000
    copies = (F.col("ratio_bp") / 10000).cast("long") + (
        (bucket < F.col("ratio_bp") % 10000).cast("long")
    )
    return (
        df.join(F.broadcast(per_source), "source")
        .withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .select(
            *df.columns,
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("_copies"))
            ).alias("epoch"),
        )
    )


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = temperature_epoch_resample(table(spark, sf_dir, "documents"))
    return out.select("doc_id", "source", "epoch")


ORACLE_TEMPERATURE_RESAMPLE = f"""
WITH counts AS (
    SELECT source, count(*) AS n_s,
           CAST(floor(sqrt(count(*)) * 1000) AS BIGINT) AS s_i
    FROM documents GROUP BY source
),
totals AS (
    SELECT sum(n_s) AS t_rows, sum(s_i) AS s_total FROM counts
),
per_source AS (
    SELECT source,
           (t_rows * {TEMP_BUDGET_PCT} * ((s_i * 10000) // s_total))
               // (100 * n_s) AS ratio_bp
    FROM counts CROSS JOIN totals
),
copies AS (
    SELECT d.doc_id, d.source,
           CAST(p.ratio_bp // 10000
                + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                            % 10000 < p.ratio_bp % 10000
                       THEN 1 ELSE 0 END AS BIGINT) AS n_copies
    FROM documents d JOIN per_source p USING (source)
)
SELECT doc_id, source,
       CAST(unnest(range(1, n_copies + CAST(1 AS BIGINT))) AS BIGINT) AS epoch
FROM copies
WHERE n_copies > 0
"""


# --------------------------------------------------------------------------
# Epoch shuffle: a reproducible global permutation, sharded.
#
# Training dataloaders need every epoch's read order to be (a) a
# fresh permutation and (b) exactly reproducible across restarts and
# engines.  ``orderBy(rand(seed))`` fails both at scale: it is a
# GLOBAL SORT (range-exchange over the full corpus) and Spark's RNG
# stream depends on partitioning.  The hash formulation needs no
# global sort at all: shard = md5(id, epoch) mod S routes each row
# with a map-side hash, and the within-shard order is a window sort
# over one shard — S independent sorts of corpus/S rows each, the
# same machinery a sharded writer uses anyway.  A new epoch seed is a
# brand-new permutation; the same seed is bit-identical forever.
EPOCH_SHUFFLE_SEED = 17
EPOCH_SHUFFLE_SHARDS = 8


def epoch_shuffle(df: DataFrame, seed: int = EPOCH_SHUFFLE_SEED) -> DataFrame:
    """(id, shard, shuffle_pos): a deterministic sharded permutation.

    ``shard`` = seeded md5 hash of ``doc_id`` mod
    ``EPOCH_SHUFFLE_SHARDS``; ``shuffle_pos`` is
    the row's 1-based position inside its shard, ordered by (hash,
    id).  One hash-partition shuffle total; no global sort ever.
    """
    h = _md5_long(
        F.concat(F.col("doc_id").cast("string"), F.lit(f"#e{seed}"))
    )
    out = df.withColumn("__h", h).withColumn(
        "shard", (F.col("__h") % EPOCH_SHUFFLE_SHARDS).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("__h", "doc_id")
    return (
        out.withColumn("shuffle_pos", F.row_number().over(w).cast("long"))
        .drop("__h")
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = epoch_shuffle(table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "shard", "shuffle_pos")


ORACLE_EPOCH_SHUFFLE = f"""
WITH h AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#e{EPOCH_SHUFFLE_SEED}'),
                           1, 8))::BIGINT AS hv
    FROM documents
)
SELECT doc_id,
       CAST(hv % {EPOCH_SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY hv % {EPOCH_SHUFFLE_SHARDS} ORDER BY hv, doc_id
       ) AS BIGINT) AS shuffle_pos
FROM h
"""


# --------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al.,
# arXiv:2302.03169): score every raw document by how much more likely
# its hashed-n-gram features are under a small TARGET corpus than
# under the raw pool, then keep the target-like documents.  The
# hashed-feature trick is what makes it a one-pass distributed job:
# both "language models" are just B-bucket count tables (tiny —
# broadcast), and a doc's log importance weight is a sum of per-token
# bucket scores.
DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCE = "src0"


def dsir_scores(docs: DataFrame, complete: bool = True) -> DataFrame:
    """(doc_id, source, logw, target_like) — add-one-smoothed hashed
    unigram importance weights.

    λ(b) = ln((ct[b]+1)/(T+B)) − ln((cr[b]+1)/(R+B)); logw(doc) =
    Σ_tokens λ(bucket(token)), rounded to 4 dp; ``target_like`` =
    logw > 0, with B = ``DSIR_BUCKETS`` and the target the
    ``DSIR_TARGET_SOURCE`` rows.  Plan: both language models come from ONE B-row count
    table (conditional aggregate, map-side partial, then broadcast);
    per-token broadcast join + one groupBy(doc) sum.  The raw corpus
    is never joined to itself and the only full shuffles are the
    bucket aggregation and the final per-doc aggregation.

    ``complete=False`` skips the completion join that re-attaches
    token-less documents (logw 0, never target-like): a pipeline that
    only consumes the ``target_like`` survivors loses nothing, and the
    plan drops the two doc-keyed join exchanges.  The token table is
    lazily pinned because it feeds two consumers (count tables +
    per-doc scoring) — without pinning each branch re-runs the whole
    upstream (at 100 TB: the dedup window) to re-tokenize.
    """
    toks = pin(docs.select(
        "doc_id", "source", F.explode(words("text")).alias("word")
    ).withColumn("b", _md5_long(F.col("word")) % DSIR_BUCKETS))
    # BOTH count tables from ONE tokenize pass: the target count is a
    # conditional aggregate of the same groupBy, not a second scan.
    counts = toks.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1).otherwise(0)
        ).alias("ct"),
    )
    tot = counts.agg(
        F.sum("cr").cast("double").alias("r_total"),
        F.sum("ct").cast("double").alias("t_total"),
    )
    lam = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log((F.col("ct") + 1) / (F.col("t_total") + DSIR_BUCKETS))
                - F.log((F.col("cr") + 1) / (F.col("r_total") + DSIR_BUCKETS))
            ).alias("lam"),
        )
    )
    scored = (
        toks.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum("lam"), 4).alias("logw"))
    )
    if not complete:
        return scored.select(
            "doc_id", "source", "logw", (F.col("logw") > 0).alias("target_like")
        )
    return (
        docs.select("doc_id", "source")
        .join(scored, ["doc_id", "source"], "left")
        .select(
            "doc_id", "source",
            F.coalesce("logw", F.lit(0.0)).alias("logw"),
            (F.coalesce("logw", F.lit(0.0)) > 0).alias("target_like"),
        )
    )


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_scores(table(spark, sf_dir, "documents"))


ORACLE_DSIR = f"""
WITH toks AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(word), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
    FROM (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        FROM documents
    )
    WHERE word <> ''
),
raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
tgt AS (SELECT b, count(*) AS ct FROM toks
        WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY b),
rtot AS (SELECT CAST(sum(cr) AS DOUBLE) AS r_total FROM raw),
ttot AS (SELECT CAST(sum(ct) AS DOUBLE) AS t_total FROM tgt),
lam AS (
    SELECT raw.b,
           ln((coalesce(ct, 0) + 1) / (t_total + {DSIR_BUCKETS}))
           - ln((cr + 1) / (r_total + {DSIR_BUCKETS})) AS lam
    FROM raw LEFT JOIN tgt ON raw.b = tgt.b
    CROSS JOIN rtot CROSS JOIN ttot
),
scored AS (
    SELECT doc_id, source, round(sum(lam), 4) AS logw
    FROM toks JOIN lam ON toks.b = lam.b
    GROUP BY doc_id, source
)
SELECT d.doc_id, d.source,
       coalesce(s.logw, 0.0) AS logw,
       coalesce(s.logw, 0.0) > 0 AS target_like
FROM documents d
LEFT JOIN scored s ON d.doc_id = s.doc_id AND d.source = s.source
"""


QUERIES = [
    ("docs_temperature_resample", q_temperature_resample,
     ORACLE_TEMPERATURE_RESAMPLE,
     "Temperature-scaled (alpha=0.5) source resampling: shares follow "
     "sqrt(n_s), integer ratio/membership math, map-only resample."),
    ("docs_dsir_scores", q_dsir_scores, ORACLE_DSIR,
     "DSIR importance weights: hashed-unigram target-vs-raw "
     "log-likelihood ratio per doc (broadcast count tables)."),
    ("docs_epoch_shuffle", q_epoch_shuffle, ORACLE_EPOCH_SHUFFLE,
     "Deterministic sharded epoch shuffle (seeded hash permutation, "
     "no global sort)."),
    ("docs_stratified_sample", q_stratified_sample, ORACLE_STRATIFIED_SAMPLE,
     "Deterministic per-stratum keep-rate sampling (map-only, zero shuffle)."),
    ("docs_balanced_downsample", q_balanced_downsample, ORACLE_BALANCED_DOWNSAMPLE,
     "Deterministic per-stratum cap via lowest-hash window rank."),
    ("docs_mixture_resample", q_mixture_resample, ORACLE_MIXTURE_RESAMPLE,
     "Target source-mixture resampling with epoch upsampling "
     "(integer mixture math + md5 fractional membership)."),
]
