"""The composed corpus-prep pipeline: exact dedup → quality filter →
stratified sample, as ONE declarative dataflow.

Individually-tested operators are necessary but not sufficient — a
training-data engine is used as a PIPELINE, and this query proves the
pieces compose without materialization barriers: Catalyst fuses the
dedup window, the map-only quality scoring, and the map-only sample
filter into a single plan with exactly one shuffle (the dedup
window's partition-by-text).  Deterministic end to end (hash-based
sampling, integer basis-point scores), so the whole pipeline is
DuckDB-oracle-checked — the composition itself is under test, not
just the stages.

Stage order matters at scale and mirrors production practice:
  1. exact dedup FIRST — cheapest per-byte, and shrinking the corpus
     makes every later stage cheaper;
  2. quality filter — map-only column math on the survivors;
  3. stratified sample LAST — rates are chosen against the cleaned
     distribution, not the raw crawl's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.sampling import (
    SAMPLE_RATES,
    _rates_case_sql,
    stratified_sample,
)
from grpc_map_reduce_spark.operators.text_analysis import quality_scores
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: Minimum composite quality score (basis points) — keeps ~66 % of the
#: fixture corpus (probed at sf0.01: median 7040, p25 6124).
QUALITY_MIN_BP = 6500

#: DSIR training budget: how many of the scored survivors the capstone
#: pipeline selects (take-K by importance weight).
TRAINING_TOP_K = 100


def corpus_prep(docs: DataFrame) -> DataFrame:
    """documents → training-ready (doc_id, lang, n_words, quality_bp)."""
    w = Window.partitionBy("text").orderBy("doc_id")
    kept = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    scored = quality_scores(kept).filter(F.col("quality_bp") >= QUALITY_MIN_BP)
    sampled = stratified_sample(scored, SAMPLE_RATES, strata_col="lang",
                                id_col="doc_id")
    return sampled.select("doc_id", "lang", "n_words", "quality_bp")


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_prep(table(spark, sf_dir, "documents"))


ORACLE_CORPUS_PREP = rf"""
WITH keeps AS (
    SELECT doc_id, lang, text
    FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
),
f AS (
    SELECT doc_id,
           lang,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> ''))                                AS n_words,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
               w -> list_contains(['the','a','of','and','to','in','is','on','for','with'], w)))
                                                                         AS n_stop,
           len(regexp_extract_all(text, '[^\w\s]'))                      AS n_punct,
           length(text)                                                  AS n_chars
    FROM keeps
),
scored AS (
    SELECT doc_id, lang,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(floor((0.4 * least(n_words / 100.0, 1.0)
               + 0.3 * least((n_stop * 1.0 / n_words) * 10, 1.0)
               + 0.3 * (1 - least((n_punct * 1.0 / n_chars) * 5, 1.0))) * 10000)
               AS BIGINT) AS quality_bp
    FROM f
)
SELECT doc_id, lang, n_words, quality_bp
FROM scored
WHERE quality_bp >= {QUALITY_MIN_BP}
  AND (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
      < {_rates_case_sql()}
"""


# --------------------------------------------------------------------------
# The round-3 capstone composition: the LLM-training data path end to
# end — exact dedup → quality gate → DSIR target-likeness selection →
# sharded epoch shuffle — one declarative dataflow.  DSIR's language
# models are (correctly) fit on the CLEANED corpus, not the raw crawl:
# composition order is part of the semantics, and the chained DuckDB
# oracle pins exactly that order.
def training_prep(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, source, logw, shard, shuffle_pos) for the
    selected training subset.

    Selection is the deterministic take-K variant of DSIR's importance
    resampling: rank the scored pool by (logw DESC, doc_id) and keep
    the ``TRAINING_TOP_K`` most target-like docs — the paper's fixed training
    budget, minus the Gumbel noise (seeded noise would hash-diverge
    across engines; rank is reproducible everywhere).  A plain
    ``logw > 0`` gate is degenerate on corpora whose sources share a
    vocabulary distribution (all weights ≤ 0 — true of the synthetic
    fixture), whereas a budget always selects.  The take-K is cut off
    from the downstream shard plan with a lazy checkpoint so its limit
    stays TERMINAL in its own subplan and compiles to
    TakeOrderedAndProject — per-partition top-K then a merge of K-row
    heaps.  Fused with epoch_shuffle, Catalyst instead plans
    Sort(global=true) + GlobalLimit: a range-partitioned sort of the
    ENTIRE scored corpus to select K rows — the one global sort the
    plan audit ever flagged, and a scale-killer at 100 TB.
    """
    from grpc_map_reduce_spark.operators.sampling import (
        dsir_scores,
        epoch_shuffle,
    )

    w = Window.partitionBy("text").orderBy("doc_id")
    kept = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # quality gate inline: quality_scores carries text/source through
    # (map-only), so the gate is a filter in the SAME flow — the old
    # formulation joined a doc_id projection back to `kept`, costing
    # two doc-keyed exchanges for a predicate Catalyst can just keep
    # in the pipeline.
    surv = (
        quality_scores(kept, keep=("source", "text"))
        .filter(F.col("quality_bp") >= QUALITY_MIN_BP)
        .select("doc_id", "source", "text")
    )
    # complete=False: token-less docs score -inf-like (absent) and can
    # never be selected, so the completion join (two more doc-keyed
    # exchanges) buys nothing here.
    sel = pin(
        dsir_scores(surv, complete=False)
        .select("doc_id", "source", "logw")
        .orderBy(F.desc("logw"), "doc_id")
        .limit(TRAINING_TOP_K)
    )
    return epoch_shuffle(sel).select(
        "doc_id", "source", "logw", "shard", "shuffle_pos"
    )


def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_prep(table(spark, sf_dir, "documents"))


def _training_prep_oracle() -> str:
    from grpc_map_reduce_spark.operators.sampling import (
        DSIR_BUCKETS,
        DSIR_TARGET_SOURCE,
        EPOCH_SHUFFLE_SEED,
        EPOCH_SHUFFLE_SHARDS,
    )

    return rf"""
WITH keeps AS (
    SELECT doc_id, source, text
    FROM (
        SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
),
f AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> ''))                                AS n_words,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
               w -> list_contains(['the','a','of','and','to','in','is','on','for','with'], w)))
                                                                         AS n_stop,
           len(regexp_extract_all(text, '[^\w\s]'))                      AS n_punct,
           length(text)                                                  AS n_chars
    FROM keeps
),
qual AS (
    SELECT doc_id FROM f
    WHERE CAST(floor((0.4 * least(n_words / 100.0, 1.0)
              + 0.3 * least((n_stop * 1.0 / n_words) * 10, 1.0)
              + 0.3 * (1 - least((n_punct * 1.0 / n_chars) * 5, 1.0))) * 10000)
          AS BIGINT) >= {QUALITY_MIN_BP}
),
surv AS (
    SELECT k.doc_id, k.source, k.text FROM keeps k JOIN qual USING (doc_id)
),
toks AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(word), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
    FROM (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        FROM surv
    )
    WHERE word <> ''
),
counts AS (
    SELECT b, count(*) AS cr,
           sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct
    FROM toks GROUP BY b
),
tot AS (
    SELECT CAST(sum(cr) AS DOUBLE) AS r_total,
           CAST(sum(ct) AS DOUBLE) AS t_total
    FROM counts
),
lam AS (
    SELECT b,
           ln((ct + 1) / (t_total + {DSIR_BUCKETS}))
           - ln((cr + 1) / (r_total + {DSIR_BUCKETS})) AS lam
    FROM counts CROSS JOIN tot
),
sel AS (
    SELECT doc_id, source, round(sum(lam), 4) AS logw
    FROM toks JOIN lam USING (b)
    GROUP BY doc_id, source
    ORDER BY round(sum(lam), 4) DESC, doc_id
    LIMIT {TRAINING_TOP_K}
),
h AS (
    SELECT doc_id, source, logw,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#e{EPOCH_SHUFFLE_SEED}'),
                           1, 8))::BIGINT AS hv
    FROM sel
)
SELECT doc_id, source, logw,
       CAST(hv % {EPOCH_SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY hv % {EPOCH_SHUFFLE_SHARDS} ORDER BY hv, doc_id
       ) AS BIGINT) AS shuffle_pos
FROM h
"""


ORACLE_TRAINING_PREP = _training_prep_oracle()


# --------------------------------------------------------------------------
# Dedup rule attribution — the ops question after any dedup run:
# WHICH rule flags each document, and how do the rules overlap?
# Three independent flag passes over the full corpus (exact-text dup,
# canonical-URL dup, near-dup non-canonical) joined doc-wise into the
# 2³ Venn breakdown.  Overlap drives real decisions: a URL-dup that
# is NOT an exact dup is a re-render (template drift); a near-dup that
# is neither is paraphrase-level; "all three" is a straight mirror.
# Rules run on the FULL corpus (attribution semantics — not the
# sequential waterfall, whose later stages see survivors only), so
# each rule's oracle fragment composes unchanged.
#
# Scale: exact flag = one text-keyed window; URL flag = one
# canon_url-keyed window; near-dup flag = the LSH→CC→quality chain
# (sub-quadratic, clustering.canonical_docs); the final joins are all
# doc-keyed, the output is 8 rows.


def dedup_rule_attribution(docs: DataFrame) -> DataFrame:
    """(exact_dup, url_dup, near_dup, n_docs) — the Venn-cell counts
    of the three dedup rules over the full corpus.

    NOTE (VERDICT r9): the fixture `documents` table has no url
    column, so the URL rule's input is FIXTURE-SYNTHESIZED from
    doc_id arithmetic below — it exercises the url_dedup operator's
    full canonicalization path, but the url_dup counts in the Venn
    are a property of that synthesis, not corpus evidence.  On a real
    corpus, feed ``url_dedup`` the actual url column."""
    from grpc_map_reduce_spark.operators.clustering import canonical_docs
    from grpc_map_reduce_spark.operators.web import url_dedup

    wt = Window.partitionBy("text")
    exact = docs.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(wt)).alias("exact_dup"),
    )
    url = F.concat(
        F.lit("HTTPS://WWW."), F.upper(F.col("source")),
        F.lit(".Example.COM:443/Articles/"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("?id="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_source=feed&utm_campaign=c"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("#section-"), (F.col("doc_id") % 4).cast("string"),
    )
    urls = url_dedup(docs.select("doc_id", url.alias("url")), "url") \
        .select("doc_id", F.col("is_dup").alias("url_dup"))
    near = canonical_docs(docs).select(
        "doc_id", (~F.col("is_canonical")).alias("near_dup")
    )
    return (
        exact.join(urls, "doc_id").join(near, "doc_id")
        .groupBy("exact_dup", "url_dup", "near_dup")
        .agg(F.count("*").alias("n_docs"))
    )


def q_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_rule_attribution(table(spark, sf_dir, "documents"))


def _rule_attribution_oracle() -> str:
    from grpc_map_reduce_spark.operators.clustering import (
        ORACLE_DEDUP_CANONICAL,
    )
    from grpc_map_reduce_spark.operators.web import ORACLE_URL_DEDUP

    # compose the existing per-rule oracles verbatim as subqueries —
    # the attribution is checked against the same fragments that
    # hash-check each rule on its own
    return f"""
WITH exact AS (
    SELECT doc_id,
           doc_id <> min(doc_id) OVER (PARTITION BY text) AS exact_dup
    FROM documents
),
urls AS (
    SELECT doc_id, is_dup AS url_dup FROM ({ORACLE_URL_DEDUP})
),
near AS (
    SELECT doc_id, NOT is_canonical AS near_dup
    FROM ({ORACLE_DEDUP_CANONICAL})
)
SELECT e.exact_dup, u.url_dup, n.near_dup, count(*) AS n_docs
FROM exact e JOIN urls u USING (doc_id) JOIN near n USING (doc_id)
GROUP BY 1, 2, 3
"""


ORACLE_RULE_ATTRIBUTION = _rule_attribution_oracle()


QUERIES = [
    ("dedup_rule_attribution", q_rule_attribution, ORACLE_RULE_ATTRIBUTION,
     "Dedup Venn breakdown: exact-text x canonical-URL x near-dup "
     "flags per doc, aggregated to the 8 overlap cells — each rule's "
     "oracle fragment composes verbatim."),
    ("pipeline_corpus_prep", q_corpus_prep, ORACLE_CORPUS_PREP,
     "Composed corpus-prep pipeline: exact dedup -> quality filter -> "
     "stratified sample, one fused plan."),
    ("pipeline_training_prep", q_training_prep, ORACLE_TRAINING_PREP,
     "Capstone composition: dedup -> quality gate -> DSIR selection "
     "(LMs fit on the cleaned corpus) -> sharded epoch shuffle."),
]
