"""Text-analysis operators over ``documents`` (extension E3 —
SURVEY.md §2.2): per-document statistics, token counting, a
deterministic language-ID heuristic, and content fingerprinting.

All expressions are JVM-side Column math (no Python UDFs) — at 100 TB
these are embarrassingly parallel map-only plans with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: Tiny English stopword list used by the quality/language heuristics.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


# --------------------------------------------------------------------------
def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document size/shape statistics (quality-scoring features),
    plus token counts two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single punctuation marks)."""
    ws = words("text")
    word_lens = F.transform(ws, lambda w: F.length(w).cast("double"))
    total_word_chars = F.aggregate(word_lens, F.lit(0.0), lambda acc, x: acc + x)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_uniq_words"),
        F.round(total_word_chars / F.size(ws), 4).alias("avg_word_len"),
        F.array_max(F.transform(ws, lambda w: F.length(w).cast("long"))).alias("max_word_len"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
        .cast("long")
        .alias("bpe_tokens"),
    )


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_stats(table(spark, sf_dir, "documents"))


ORACLE_DOC_STATS = r"""
WITH toks AS (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
)
SELECT
    doc_id,
    CAST(length(text) AS BIGINT)          AS n_chars_calc,
    CAST(len(ws) AS BIGINT)               AS n_words,
    CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq_words,
    round(list_sum(list_transform(ws, w -> CAST(length(w) AS DOUBLE))) / len(ws), 4)
                                          AS avg_word_len,
    CAST(list_max(list_transform(ws, w -> length(w))) AS BIGINT) AS max_word_len,
    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ws_tokens,
    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
        AS bpe_tokens
FROM toks
"""


# --------------------------------------------------------------------------
# Polynomial rolling hash (Rabin-Karp) over the token stream —
# order-sensitive (unlike a token-set md5), so reordered words change
# the fingerprint.  h = fold(h * B + tokhash) mod P with P = 2^31-1,
# B = 131; intermediate h*B + t < 2^31 * 131 + 2^31 fits int64.
RH_P = 2_147_483_647
RH_B = 131


def _rolling_hash_col():
    """Polynomial rolling-hash Column over the token stream (see the
    RH_P/RH_B constants below for the arithmetic)."""
    ws = words("text")
    tok_h = lambda w: F.conv(F.substring(F.md5(w), 1, 7), 16, 10).cast("long") % RH_P
    return F.aggregate(
        ws, F.lit(0).cast("long"),
        lambda acc, w: (acc * RH_B + tok_h(w)) % RH_P,
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprints, order-insensitive AND order-sensitive:

    * ``fingerprint`` — md5 of the normalized token stream.  Collapses
      whitespace/punctuation variation, so it is the exact-dup key for
      "same words, different formatting" — one digest per doc, 16
      bytes on the shuffle regardless of document size.
    * ``rhash`` — polynomial rolling hash (Rabin-Karp) over the same
      token stream; reordered words change it (see
      :func:`rolling_hash` below for the arithmetic).
    """
    norm = F.concat_ws(" ", words("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        _rolling_hash_col().alias("rhash"),
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(table(spark, sf_dir, "documents"))


ORACLE_FINGERPRINTS = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                       w -> w <> '') AS ws
    FROM documents
)
SELECT doc_id,
       md5(array_to_string(ws, ' ')) AS fingerprint,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(ws,
                   w -> (('0x' || substr(md5(w), 1, 7))::BIGINT % {RH_P}))),
           (acc, t) -> (acc * {RH_B} + t) % {RH_P}) AS rhash
FROM toks
"""


# --------------------------------------------------------------------------
def quality_scores(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Composite quality score from length / punctuation / stopword
    ratios — the standard cheap pre-filter for LLM training corpora.
    All Column math: map-only, zero shuffle at any scale.

    ``keep`` names extra input columns to carry through — lets a
    composed pipeline filter on quality and keep flowing (e.g. with
    ``text``) without joining the scores back to the corpus.
    """
    ws = words("text")
    n_words = F.size(ws)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    stop_ratio = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))) / n_words
    punct_ratio = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]")) / F.length("text")
    # length factor: saturating ramp, 1.0 at >= 100 words
    len_score = F.least(n_words / F.lit(100.0), F.lit(1.0))
    score = (
        0.4 * len_score + 0.3 * F.least(stop_ratio * 10, F.lit(1.0))
        + 0.3 * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    # Outputs in basis points via floor, not round(·, 4): these
    # rationals land exactly on .xxxx5 halves (e.g. 15/96·10⁴),
    # where Spark's and DuckDB's round() disagree; floor of the same
    # IEEE double is identical everywhere.
    bp = lambda c: F.floor(c * 10000).cast("long")
    # Language-ID heuristic rides along: stopword-share in basis
    # points is exactly the en-ness score, so `looks_en` is a pure
    # integer comparison (no double in the hash).
    return docs.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        bp(stop_ratio).alias("stop_bp"),
        bp(punct_ratio).alias("punct_bp"),
        bp(score).alias("quality_bp"),
        (bp(stop_ratio) >= 300).alias("looks_en"),
        *keep,
    )


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(table(spark, sf_dir, "documents"))


ORACLE_QUALITY = r"""
WITH f AS (
    SELECT doc_id,
           lang,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           w -> w <> ''))                                AS n_words,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
               w -> list_contains(['the','a','of','and','to','in','is','on','for','with'], w)))
                                                                         AS n_stop,
           len(regexp_extract_all(text, '[^\w\s]'))                      AS n_punct,
           length(text)                                                  AS n_chars
    FROM documents
)
SELECT doc_id,
       lang,
       CAST(n_words AS BIGINT)                                     AS n_words,
       CAST(floor((n_stop * 1.0 / n_words) * 10000) AS BIGINT)     AS stop_bp,
       CAST(floor((n_punct * 1.0 / n_chars) * 10000) AS BIGINT)    AS punct_bp,
       -- term shapes mirror the Spark expression exactly — e.g.
       -- (n_stop/n_words)*10, NOT n_stop*10/n_words — so both engines
       -- produce bit-identical doubles before the floor.
       CAST(floor((0.4 * least(n_words / 100.0, 1.0)
           + 0.3 * least((n_stop * 1.0 / n_words) * 10, 1.0)
           + 0.3 * (1 - least((n_punct * 1.0 / n_chars) * 5, 1.0))) * 10000) AS BIGINT)
                                                                   AS quality_bp,
       floor((n_stop * 1.0 / n_words) * 10000) >= 300              AS looks_en
FROM f
"""


# --------------------------------------------------------------------------
def rolling_hash(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _rolling_hash_col().alias("rhash"))


def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rolling_hash(table(spark, sf_dir, "documents"))


ORACLE_ROLLING_HASH = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               w -> w <> ''),
                   w -> (('0x' || substr(md5(w), 1, 7))::BIGINT % {RH_P}))),
           (acc, t) -> (acc * {RH_B} + t) % {RH_P}) AS rhash
FROM documents
"""


# --------------------------------------------------------------------------
# PMI collocations: which word pairs co-occur more than chance?
# pmi(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) over adjacent-token
# bigrams.  All four frequency tables come from ONE tokenize pass;
# unigram counts and the two 1-row totals broadcast into the scoring
# join (vocabulary ≪ corpus at any scale — a vocab too big to
# broadcast just flips the joins to shuffle joins, same plan shape).
# All ratios computed in double (the integer product n_pair·T² would
# overflow int64 on a large corpus — cast BEFORE multiplying, both
# engines).
PMI_MIN_COUNT = 5


def pmi_collocations(docs: DataFrame) -> DataFrame:
    toks = docs.select(words("text").alias("ws"))
    bigram_arr = F.transform(
        F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", w, F.element_at(F.col("ws"), i + 2)),
    )
    # uni and bgc each feed two consumers (totals + scoring join);
    # lazy-checkpoint the REDUCED tables so the corpus is tokenized
    # once per table instead of once per consumer.  (The raw token
    # stream is never materialized — at scale re-reading compressed
    # parquet beats persisting an exploded token table.)
    uni = pin(
        toks.select(F.explode("ws").alias("word"))
        .groupBy("word").agg(F.count("*").alias("n_w"))
    )
    tot = uni.agg(F.sum("n_w").cast("double").alias("n_tokens"))
    bgc = pin(
        toks.select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram").agg(F.count("*").alias("n_pair"))
    )
    btot = bgc.agg(F.sum("n_pair").cast("double").alias("n_bigrams"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n_w").alias("n_w2"))
    pmi = F.log(
        (F.col("n_pair").cast("double") * F.col("n_tokens") * F.col("n_tokens"))
        / (F.col("n_bigrams") * F.col("n_w1").cast("double") * F.col("n_w2"))
    )
    return (
        bgc.filter(F.col("n_pair") >= PMI_MIN_COUNT)
        .select(
            F.split("bigram", " ")[0].alias("w1"),
            F.split("bigram", " ")[1].alias("w2"),
            "n_pair",
        )
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select("w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi"))
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pmi_collocations(table(spark, sf_dir, "documents"))


ORACLE_PMI = f"""
WITH toks AS (
    SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                       w -> w <> '') AS ws
    FROM documents
),
uni AS (
    SELECT unnest(ws) AS word FROM toks
),
unic AS (SELECT word, count(*) AS n_w FROM uni GROUP BY word),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n_tokens FROM unic),
bg AS (
    SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
                                 i -> ws[i] || ' ' || ws[i+1])) AS bigram
    FROM toks
),
bgc AS (SELECT bigram, count(*) AS n_pair FROM bg GROUP BY bigram),
btot AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS n_bigrams FROM bgc)
SELECT
    split_part(bigram, ' ', 1) AS w1,
    split_part(bigram, ' ', 2) AS w2,
    n_pair,
    round(ln((CAST(n_pair AS DOUBLE) * n_tokens * n_tokens)
             / (n_bigrams * CAST(u1.n_w AS DOUBLE) * u2.n_w)), 6) AS pmi
FROM bgc
JOIN unic u1 ON split_part(bigram, ' ', 1) = u1.word
JOIN unic u2 ON split_part(bigram, ' ', 2) = u2.word
CROSS JOIN tot
CROSS JOIN btot
WHERE n_pair >= {PMI_MIN_COUNT}
"""


# --------------------------------------------------------------------------
# Regex scalar functions: extract / count / replace — map-only, pure
# codegen (no UDF), same POSIX-ish semantics in DuckDB.
def q_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_word"),
        F.regexp_count("text", F.lit(r"[aeiou]{2}")).cast("long").alias("n_vowel_pairs"),
        F.regexp_replace("source", r"[0-9]+", "#").alias("masked_source"),
        F.col("text").rlike(r"\bjoin\b").alias("mentions_join"),
    )


ORACLE_REGEX = r"""
SELECT
    doc_id,
    coalesce(regexp_extract(text, '^([a-z]+)', 1), '') AS first_word,
    CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_vowel_pairs,
    regexp_replace(source, '[0-9]+', '#', 'g')         AS masked_source,
    regexp_matches(text, '\bjoin\b')                   AS mentions_join
FROM documents
"""


QUERIES = [
    ("doc_stats", q_doc_stats, ORACLE_DOC_STATS,
     "E3 per-document size/shape statistics."),
    ("regex_functions", q_regex_functions, ORACLE_REGEX,
     "Regex extract/count/replace/match scalar functions (map-only)."),
    ("pmi_collocations", q_pmi_collocations, ORACLE_PMI,
     "E3 PMI bigram collocations from one tokenize pass."),
    ("doc_quality", q_quality, ORACLE_QUALITY,
     "E3 quality scoring: length/punctuation/stopword-ratio composite."),
    ("doc_rolling_hash", q_rolling_hash, ORACLE_ROLLING_HASH,
     "E3 order-sensitive Rabin-Karp rolling hash over the token stream."),
    ("doc_fingerprints", q_fingerprints, ORACLE_FINGERPRINTS,
     "E3 md5 + Rabin-Karp fingerprints of the normalized token stream."),
]
