"""Corpus-hygiene operators for LLM training-data preparation
(extension E3 — SURVEY.md §2.2): repetition-based quality filters in
the style of the Gopher rules (Rae et al., "Scaling Language Models:
Methods, Analysis & Insights from Training Gopher", 2021, §A1.1 —
duplicate n-gram fractions) and regex PII redaction (the C4/CCNet
style scrub pass).

The reference engine has no quality filtering at all (its two jobs
are wc and ii, mapper.go:170-230); this is pure extension surface.

Scale design:
  * ``repetition_stats`` is MAP-ONLY: per document, each gram array
    is sorted (materialized as a real projected column — see below)
    and run-length folded with ONE ``F.aggregate`` pass, so every
    statistic — total, distinct, max frequency, duplicated
    occurrences — falls out in O(L log L) per doc with ZERO shuffle.
    The naive alternatives all lose at scale: exploding the
    1/2/3-gram stream shuffles O(3·tokens) rows (it benched 16 s of
    a 101 s total at sf0.1 — the single hottest query); counting
    each distinct gram with a ``filter`` lambda is O(L²) per doc;
    and — the subtle one — any formulation that references the
    ``array_sort(...)`` EXPRESSION inside a higher-order-function
    lambda is quadratic too, because Catalyst does not
    common-subexpression-eliminate across lambda scopes, so each
    lambda invocation re-sorts the whole array (measured: 64 s at
    sf0.001 vs 0.4 s for this form).  Sorted arrays therefore live
    in their own projection step and the fold touches each element
    exactly once via the accumulator.
  * All ratios are basis points via integer division (``DIV``), so
    the DuckDB oracle hashes bit-identically — no rounded double in
    any hashed output.
  * ``redact_pii`` is map-only ``regexp_replace`` chains — pure
    whole-stage codegen, embarrassingly parallel at any scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import spread, table

# Keep-thresholds (basis points), Gopher-flavored: drop a doc when its
# most frequent word exceeds 20% of tokens or >18% of its 2-gram /
# >16% of its 3-gram occurrences are repeats.  The top-word rule only
# applies to docs with at least TOP_WORD_MIN_WORDS tokens — on a
# 3-word doc the most frequent word is ≥33% by pigeonhole, so the
# ratio is meaningless below a length floor (Gopher likewise pairs
# its repetition rules with a minimum word count).
TOP_WORD_MAX_BP = 2000
TOP_WORD_MIN_WORDS = 20
DUP_2GRAM_MAX_BP = 1800
DUP_3GRAM_MAX_BP = 1600


def _run_length_fold(a):
    """Run-length statistics of a SORTED array column ``a`` as a
    struct ``(uniq, mx, dup)`` via one ``F.aggregate`` fold — each
    element is visited exactly once, the accumulator carries (previous
    value, current run length, running stats).  ``mx`` is the longest
    run (count of the most frequent value); ``dup`` the number of
    occurrences belonging to values appearing more than once (a run's
    1st repeat retroactively counts its first occurrence: +2, then +1).

    ``a`` MUST be a plain attribute (a materialized column), not a
    sort expression — Catalyst does not CSE into lambda scopes.
    """
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("uniq"),
        zero.alias("mx"),
        zero.alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc["uniq"] + F.when(same, 0).otherwise(1)).alias("uniq"),
            F.greatest(acc["mx"], run).alias("mx"),
            (
                acc["dup"]
                + F.when(same, F.when(acc["run"] == 1, 2).otherwise(1)).otherwise(0)
            ).alias("dup"),
        )

    return F.aggregate(
        a, init, step,
        lambda acc: F.struct(
            acc["uniq"].alias("uniq"), acc["mx"].alias("mx"),
            acc["dup"].alias("dup"),
        ),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition statistics + the keep/drop decision.

    Output (one row per doc with ≥1 word):
      * ``n_words`` / ``uniq_words`` — token totals;
      * ``top_word_bp`` — share of tokens taken by the single most
        frequent word (basis points);
      * ``dup_word_bp`` — fraction of token occurrences beyond each
        word's first (1 − uniq/total);
      * ``dup_2gram_bp`` / ``dup_3gram_bp`` — fraction of 2-gram /
        3-gram occurrences that belong to a gram appearing more than
        once (the Gopher duplicate-n-gram rule, word-occurrence
        weighted);
      * ``keep`` — True iff all three repetition shares are under the
        module thresholds.
    """
    ws = F.col("ws")
    bi = F.transform(
        F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", w, F.element_at(ws, i + 2)),
    )
    tri = F.transform(
        F.slice(ws, 1, F.greatest(F.size(ws) - 2, F.lit(0))),
        lambda w, i: F.concat_ws(
            " ", w, F.element_at(ws, i + 2), F.element_at(ws, i + 3)
        ),
    )
    # Each projection step materializes what the next step references
    # more than once (or inside a lambda), so nothing expensive is
    # duplicated when Catalyst collapses projects.
    stats = (
        spread(docs).select("doc_id", words("text").alias("ws"))
        .filter(F.size("ws") >= 1)
        .select(
            "doc_id",
            F.size(ws).alias("w_total"),
            F.array_sort(ws).alias("a1"),
            F.array_sort(bi).alias("a2"),
            F.array_sort(tri).alias("a3"),
        )
        .select(
            "doc_id",
            "w_total",
            F.size("a2").alias("b_total"),
            F.size("a3").alias("t_total"),
            _run_length_fold(F.col("a1")).alias("s1"),
            _run_length_fold(F.col("a2")).alias("s2"),
            _run_length_fold(F.col("a3")).alias("s3"),
        )
        .select(
            "doc_id",
            "w_total",
            F.col("s1.uniq").alias("w_uniq"),
            F.col("s1.mx").alias("w_max"),
            "b_total",
            F.col("s2.dup").alias("b_dup"),
            "t_total",
            F.col("s3.dup").alias("t_dup"),
        )
    )
    # Integer basis points: a*10000 DIV b — exact in both engines.
    bp = lambda a, b: F.expr(f"({a} * 10000) DIV {b}")
    zbp = lambda a, b: F.coalesce(
        F.when(F.col(b) > 0, F.expr(f"({a} * 10000) DIV {b}")), F.lit(0)
    ).cast("long")
    out = stats.select(
        "doc_id",
        F.col("w_total").cast("long").alias("n_words"),
        F.col("w_uniq").cast("long").alias("uniq_words"),
        bp("w_max", "w_total").cast("long").alias("top_word_bp"),
        bp("(w_total - w_uniq)", "w_total").cast("long").alias("dup_word_bp"),
        zbp("b_dup", "b_total").alias("dup_2gram_bp"),
        zbp("t_dup", "t_total").alias("dup_3gram_bp"),
    )
    return out.withColumn(
        "keep",
        (
            (F.col("n_words") < TOP_WORD_MIN_WORDS)
            | (F.col("top_word_bp") <= TOP_WORD_MAX_BP)
        )
        & (F.col("dup_2gram_bp") <= DUP_2GRAM_MAX_BP)
        & (F.col("dup_3gram_bp") <= DUP_3GRAM_MAX_BP),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(table(spark, sf_dir, "documents"))


ORACLE_REPETITION = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
grams AS (
    SELECT doc_id, 1 AS g, unnest(ws) AS gram FROM toks
    UNION ALL
    SELECT doc_id, 2 AS g,
           unnest(list_transform(range(1, greatest(len(ws), 1)),
                                 i -> ws[i] || ' ' || ws[i+1])) AS gram
    FROM toks
    UNION ALL
    SELECT doc_id, 3 AS g,
           unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
    FROM toks
),
per_gram AS (
    SELECT doc_id, g, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
),
per_size AS (
    SELECT doc_id, g,
           sum(cnt)  AS total,
           count(*)  AS uniq,
           max(cnt)  AS mx,
           sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_occ
    FROM per_gram GROUP BY 1, 2
),
stats AS (
    SELECT doc_id,
           max(CASE WHEN g = 1 THEN total END) AS w_total,
           max(CASE WHEN g = 1 THEN uniq  END) AS w_uniq,
           max(CASE WHEN g = 1 THEN mx    END) AS w_max,
           coalesce(max(CASE WHEN g = 2 THEN total   END), 0) AS b_total,
           coalesce(max(CASE WHEN g = 2 THEN dup_occ END), 0) AS b_dup,
           coalesce(max(CASE WHEN g = 3 THEN total   END), 0) AS t_total,
           coalesce(max(CASE WHEN g = 3 THEN dup_occ END), 0) AS t_dup
    FROM per_size GROUP BY doc_id
),
bp AS (
    SELECT doc_id,
           CAST(w_total AS BIGINT) AS n_words,
           CAST(w_uniq  AS BIGINT) AS uniq_words,
           CAST((w_max * 10000) // w_total AS BIGINT)              AS top_word_bp,
           CAST(((w_total - w_uniq) * 10000) // w_total AS BIGINT) AS dup_word_bp,
           CAST(CASE WHEN b_total > 0 THEN (b_dup * 10000) // b_total ELSE 0 END
                AS BIGINT) AS dup_2gram_bp,
           CAST(CASE WHEN t_total > 0 THEN (t_dup * 10000) // t_total ELSE 0 END
                AS BIGINT) AS dup_3gram_bp
    FROM stats
)
SELECT *,
       ((n_words < {TOP_WORD_MIN_WORDS} OR top_word_bp <= {TOP_WORD_MAX_BP})
        AND dup_2gram_bp <= {DUP_2GRAM_MAX_BP}
        AND dup_3gram_bp <= {DUP_3GRAM_MAX_BP}) AS keep
FROM bp
"""


# --------------------------------------------------------------------------
# Unigram language-model quality scoring (the CCNet-style perplexity
# filter, Wenzek et al. 2020 — docs whose LM score is far from the
# reference distribution are boilerplate/gibberish candidates).  A
# real deployment scores against an external LM; here the LM is
# trained on the corpus's own md5-train split (sketches.hash_split
# convention) and scores ALL docs, so test-split docs genuinely
# exercise the OOV/add-one-smoothing path.
#
# Scale: the LM is a word→count table — O(vocabulary), broadcast; the
# token stream is scored map-side and reduced per doc with partial
# aggregation.  Two shuffles total (vocab count, per-doc agg), both
# O(distinct keys).  The add-one-smoothed NLL is computed from exact
# integer counts, so the only float op is the final ln/avg — rounded
# to 6 dp, far above the ~1-ulp ln() divergence between engines.
LM_SMOOTH_K = 1  # add-one (Laplace)


def unigram_nll(docs: DataFrame) -> DataFrame:
    """Per-doc mean negative log-likelihood under an add-one-smoothed
    unigram LM trained on the md5-train split.

    Output: (doc_id, n_tokens, n_oov, mean_nll) — one row per doc
    with ≥1 word; high ``mean_nll`` = far from the reference
    distribution (drop candidates); ``n_oov`` counts tokens unseen in
    training.
    """
    from grpc_map_reduce_spark.operators.sketches import hash_split

    docs = spread(docs)
    toks = docs.select("doc_id", F.explode(words("text")).alias("word"))
    train_toks = (
        hash_split(docs)
        .filter(F.col("split") == "train")
        .select(F.explode(words("text")).alias("word"))
    )
    vocab = train_toks.groupBy("word").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vsize")
    )
    nll = -F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)) + LM_SMOOTH_K)
        / (F.col("total") + LM_SMOOTH_K * F.col("vsize"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("cnt").isNull().cast("long")).alias("n_oov"),
            F.round(F.avg(nll), 6).alias("mean_nll"),
        )
    )


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_nll(table(spark, sf_dir, "documents"))


from grpc_map_reduce_spark.operators.sketches import SPLIT_TRAIN_PCT

ORACLE_UNIGRAM_NLL = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                              w -> w <> '')) AS word
    FROM documents
),
tr AS (
    SELECT doc_id FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
          < {SPLIT_TRAIN_PCT}
),
vocab AS (
    SELECT word, count(*) AS cnt FROM toks JOIN tr USING (doc_id) GROUP BY word
),
tot AS (SELECT sum(cnt) AS total, count(*) AS vsize FROM vocab)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(avg(-ln((coalesce(v.cnt, 0) + {LM_SMOOTH_K})
                     / (tot.total + {LM_SMOOTH_K} * tot.vsize))), 6) AS mean_nll
FROM toks t LEFT JOIN vocab v USING (word), tot
GROUP BY t.doc_id
"""


# --------------------------------------------------------------------------
# PII redaction: regex scrub of emails / phone numbers / IPv4 addresses.
#
# The synthetic corpus contains no PII by construction, so the
# registered query FABRICATES a deterministic contact string per doc
# (from doc_id + source) and redacts that — the regex semantics are
# therefore actually exercised and hash-checked, not vacuously green
# on no-match text.  ``redact_pii`` itself is generic over any string
# column.  Patterns are RE2-compatible, so Spark (Java regex) and
# DuckDB (RE2) agree.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def redact_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Adds ``masked`` plus per-type match counts for ``text_col``.

    Replacement order matters: emails first (their local parts can
    contain digits/dots that the narrower patterns would mangle),
    then IPv4 (dotted digits), then bare phone numbers.
    """
    c = F.col(text_col)
    masked = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    masked = F.regexp_replace(masked, IPV4_RE, "<IP>")
    masked = F.regexp_replace(masked, PHONE_RE, "<PHONE>")
    return df.withColumns(
        {
            "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)).cast("long"),
            "n_ips": F.regexp_count(c, F.lit(IPV4_RE)).cast("long"),
            "n_phones": F.regexp_count(c, F.lit(PHONE_RE)).cast("long"),
            "masked": masked,
        }
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    contact = F.concat(
        F.lit("reach user"),
        F.col("doc_id"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    synth = docs.select("doc_id", contact.alias("contact"))
    return redact_pii(synth, "contact").select(
        "doc_id", "masked", "n_emails", "n_ips", "n_phones"
    )


ORACLE_PII = f"""
WITH synth AS (
    SELECT doc_id,
           'reach user' || doc_id || '@' || source ||
           '.example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
           CAST((doc_id * 7) % 256 AS VARCHAR) AS contact
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(
               regexp_replace(contact, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IPV4_RE}', '<IP>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g')                          AS masked,
       CAST(len(regexp_extract_all(contact, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(contact, '{IPV4_RE}')) AS BIGINT)  AS n_ips,
       CAST(len(regexp_extract_all(contact, '{PHONE_RE}')) AS BIGINT) AS n_phones
FROM synth
"""


# --------------------------------------------------------------------------
# Compression-ratio quality signal: DEFLATE-compressed size over raw
# size, in basis points.  Highly templated/repetitive text compresses
# far below natural prose, making the ratio a cheap, language-free
# repetition filter used alongside the Gopher heuristics in real
# corpus pipelines.  Map-only Arrow UDF (stdlib zlib, fixed level so
# the byte count is deterministic); DuckDB has no DEFLATE, so this
# registers rows-only with a pytest parity gate against direct zlib.
COMPRESSION_LEVEL = 6
COMPRESSION_KEEP_MIN_BP = 2500  # keep docs compressing to >= 25%


def compression_signal(docs: DataFrame) -> DataFrame:
    """(doc_id, raw_bytes, deflate_bytes, ratio_bp, keep)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def deflate_len(col: pd.Series) -> pd.Series:
        return col.map(
            lambda t: len(zlib.compress(t.encode(), COMPRESSION_LEVEL))
        )

    return (
        spread(docs).select(
            "doc_id",
            F.octet_length(F.encode("text", "UTF-8")).cast("long")
            .alias("raw_bytes"),
            deflate_len("text").alias("deflate_bytes"),
        )
        .withColumn("ratio_bp", F.expr("(deflate_bytes * 10000) DIV raw_bytes"))
        .withColumn("keep", F.col("ratio_bp") >= COMPRESSION_KEEP_MIN_BP)
    )


# Structure-gated driver twin (VERDICT r9 item 5): zlib's DEFLATE
# output is genuinely non-replayable in DuckDB, so the raw
# `deflate_bytes` column can never be hash-checked — but the size
# OBEYS engine-replayable invariants, each provable from the
# zlib/DEFLATE spec (RFC 1950/1951):
#
#   * upper bound — a zlib stream is never longer than stored blocks
#     + framing: deflate <= raw + raw/1000 + 64 (zlib's own
#     compressBound envelope, padded);
#   * lower bound — DEFLATE's maximum compression ratio is 1032:1
#     (a 258-byte match costs >= 2 bits), and the stream carries a
#     2-byte header + 4-byte Adler-32: deflate*1032 >= raw and
#     deflate >= 8;
#   * concatenation — deflate(t||t) <= deflate(t) + 64: the second
#     copy is matches into the 32 KB window (for texts beyond the
#     window, into the repeated structure), plus block-boundary
#     slack;
#   * internal consistency — ratio_bp and keep are pure integer
#     functions of (deflate, raw).
#
# The registered query emits each invariant as a boolean column whose
# oracle value is TRUE: a zlib kernel that ever violated one
# hash-mismatches the driver compare.  The full-value signal stays
# available as `compression_signal` (and its exact zlib parity gate
# in tests/test_quality_filters.py); the driver artifact just stops
# being rows-only.
def compression_signal_checked(docs: DataFrame) -> DataFrame:
    """(doc_id, raw_bytes, deflate_in_bounds, concat_monotone,
    keep_consistent) — hash-checkable structural gate over the zlib
    kernel."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def deflate2_len(col: pd.Series) -> pd.Series:
        return col.map(
            lambda t: len(zlib.compress((t + t).encode(),
                                        COMPRESSION_LEVEL))
        )

    # doc-keyed join back to text for the doubled-text kernel: the
    # gate deliberately consumes compression_signal's OWN output (so
    # the deployed kernel + integer expressions are what is checked,
    # not a reimplementation); at any scale this is a co-keyed join
    # AQE broadcasts or co-partitions.
    sig = compression_signal(docs).join(
        docs.select("doc_id", deflate2_len("text").alias("deflate2")),
        "doc_id",
    )
    return sig.select(
        "doc_id",
        "raw_bytes",
        (
            (F.col("deflate_bytes") >= F.greatest(
                F.lit(8), F.ceil(F.col("raw_bytes") / 1032).cast("long")))
            & (F.col("deflate_bytes")
               <= F.col("raw_bytes") + F.expr("raw_bytes DIV 1000") + 64)
        ).alias("deflate_in_bounds"),
        (F.col("deflate2") <= F.col("deflate_bytes") + 64)
        .alias("concat_monotone"),
        (
            (F.col("ratio_bp")
             == F.expr("(deflate_bytes * 10000) DIV raw_bytes"))
            & (F.col("keep")
               == (F.col("ratio_bp") >= COMPRESSION_KEEP_MIN_BP))
        ).alias("keep_consistent"),
    )


def q_compression_signal_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compression_signal_checked(table(spark, sf_dir, "documents"))


ORACLE_COMPRESSION_CHECKED = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS raw_bytes,
       TRUE AS deflate_in_bounds,
       TRUE AS concat_monotone,
       TRUE AS keep_consistent
FROM documents
"""


# --------------------------------------------------------------------------
# Character-entropy signal — the SQL-replayable half of the
# compression-quality story (VERDICT r4 item 6): order-0 Shannon
# coding bound per document, i.e. the information-theoretic floor of
# ``compression_signal``'s DEFLATE size.  Gibberish/binary spam sits
# near the random ceiling, boilerplate/repetition near the floor, so
# the keep gate is a BAND.  The zlib kernel stays rows-only (DEFLATE
# has no SQL twin); this companion hash-checks the whole histogram →
# entropy plumbing end-to-end.
#
# Scale shape: one per-char explode with map-side partial agg — the
# shuffled volume is the (doc, char) histogram, bounded by docs ×
# alphabet, NOT the corpus characters (the wordcount shape).
# Numeric discipline: the only float is log2; both engines mirror the
# exact expression shape and the result is rounded at 1e0 granularity
# on a ×10⁴ integer scale, ~1e9 times coarser than a 2-3 ulp libm
# disagreement can reach — no rounding-boundary risk in the hash.
ENTROPY_KEEP_LO_E4 = 30000  # < 3.0 bits/char: repetitive/boilerplate
ENTROPY_KEEP_HI_E4 = 52000  # > 5.2 bits/char: random/binary gibberish


def entropy_signal(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, distinct_chars, entropy_bpc_e4, keep):
    order-0 character entropy in 1e-4 bits/char, band-gated."""
    ch = (
        spread(docs)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("n"))
    )
    agg = ch.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars"),
        F.count("*").alias("distinct_chars"),
        F.sum(F.col("n") * F.log2("n")).alias("_nlog"),
    )
    bits = F.col("n_chars") * F.log2("n_chars") - F.col("_nlog")
    e4 = F.round(bits / F.col("n_chars") * 10000).cast("long")
    return agg.select(
        "doc_id", "n_chars", "distinct_chars",
        e4.alias("entropy_bpc_e4"),
    ).withColumn(
        "keep",
        (F.col("entropy_bpc_e4") >= ENTROPY_KEEP_LO_E4)
        & (F.col("entropy_bpc_e4") <= ENTROPY_KEEP_HI_E4),
    )


def q_entropy_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entropy_signal(table(spark, sf_dir, "documents"))


ORACLE_ENTROPY = f"""
WITH ch AS (
    SELECT doc_id, c AS ch, count(*) AS n
    FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    )
    WHERE c <> ''
    GROUP BY doc_id, c
),
agg AS (
    SELECT doc_id,
           CAST(sum(n) AS BIGINT)   AS n_chars,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           sum(n * log2(n))         AS nlog
    FROM ch GROUP BY doc_id
)
SELECT doc_id, n_chars, distinct_chars,
       CAST(round((n_chars * log2(n_chars) - nlog) / n_chars * 10000)
            AS BIGINT) AS entropy_bpc_e4,
       CAST(round((n_chars * log2(n_chars) - nlog) / n_chars * 10000)
            AS BIGINT) BETWEEN {ENTROPY_KEEP_LO_E4} AND {ENTROPY_KEEP_HI_E4}
           AS keep
FROM agg
"""


# --------------------------------------------------------------------------
# Interpolated bigram-LM perplexity — the next rung up from the
# unigram CCNet score: P(w|prev) = λ·P_bi + (1−λ)·P_uni with add-one
# smoothing on both components, trained on the same md5-train split.
# Jelinek-Mercer interpolation is the classic backoff that keeps
# unseen bigrams finite without discount bookkeeping, and it is
# expressible as pure column arithmetic over two count tables.
#
# Scale notes: bigram extraction is MAP-ONLY (slice + arrays_zip on
# the token array — no window, no extra shuffle); the bigram count
# table is keyed by (prev, word) and joined WITHOUT a broadcast hint
# — at fixture scale AQE broadcasts it, at 100 TB it is a shuffle
# join on the bigram key, which is the correct plan when the bigram
# vocabulary outgrows executor memory.  Only the unigram vocab and
# the scalar totals are forced-broadcast.
LM_LAMBDA_X10 = 7  # λ = 0.7, kept integral so both engines parse "0.7" alike


def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, word) for every adjacent token pair — map-only."""
    ws = words("text")
    pairs = F.arrays_zip(
        F.expr("slice(_ws, 1, greatest(size(_ws) - 1, 0))").alias("prev"),
        F.expr("slice(_ws, 2, greatest(size(_ws) - 1, 0))").alias("word"),
    )
    return (
        docs.withColumn("_ws", ws)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", F.col("bg.prev").alias("prev"),
                F.col("bg.word").alias("word"))
    )


def bigram_nll(docs: DataFrame) -> DataFrame:
    """Per-doc mean NLL under the interpolated bigram LM.

    Output: (doc_id, n_bigrams, n_unseen_bigrams, mean_nll) for every
    doc with ≥2 tokens.
    """
    from grpc_map_reduce_spark.operators.sketches import hash_split

    lam = LM_LAMBDA_X10 / 10.0
    docs = spread(docs)
    train = hash_split(docs).filter(F.col("split") == "train")
    tr_bi = _bigrams(train)
    tr_uni = train.select(F.explode(words("text")).alias("word"))

    uni = tr_uni.groupBy("word").agg(F.count("*").alias("c1"))
    ctx = tr_bi.groupBy(F.col("prev").alias("word")).agg(
        F.count("*").alias("cctx")
    )
    bi = tr_bi.groupBy("prev", "word").agg(F.count("*").alias("c2"))
    tot = uni.agg(F.sum("c1").alias("total"), F.count("*").alias("vsize"))

    probe = _bigrams(docs)
    p_uni = (F.coalesce(F.col("c1"), F.lit(0)) + LM_SMOOTH_K) / (
        F.col("total") + LM_SMOOTH_K * F.col("vsize")
    )
    p_bi = (F.coalesce(F.col("c2"), F.lit(0)) + LM_SMOOTH_K) / (
        F.coalesce(F.col("cctx"), F.lit(0)) + LM_SMOOTH_K * F.col("vsize")
    )
    nll = -F.log(lam * p_bi + (1 - lam) * p_uni)
    return (
        probe.join(bi, ["prev", "word"], "left")
        .join(F.broadcast(ctx.withColumnRenamed("word", "prev")), "prev", "left")
        .join(F.broadcast(uni), "word", "left")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("c2").isNull().cast("long")).alias("n_unseen_bigrams"),
            F.round(F.avg(nll), 6).alias("mean_nll"),
        )
    )


def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_nll(table(spark, sf_dir, "documents"))


def _bigram_oracle() -> str:
    from grpc_map_reduce_spark.operators.sketches import SPLIT_TRAIN_PCT

    lam = LM_LAMBDA_X10 / 10.0
    return f"""
WITH ws AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                       w -> w <> '') AS arr
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(arr) AS word,
           generate_subscripts(arr, 1) AS pos
    FROM ws
),
bg AS (
    SELECT a.doc_id, a.word AS prev, b.word AS word
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
tr AS (
    SELECT doc_id FROM documents
    WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
          < {SPLIT_TRAIN_PCT}
),
uni AS (
    SELECT word, count(*) AS c1 FROM toks JOIN tr USING (doc_id) GROUP BY word
),
ctx AS (
    SELECT prev, count(*) AS cctx FROM bg JOIN tr USING (doc_id) GROUP BY prev
),
bi AS (
    SELECT prev, word, count(*) AS c2
    FROM bg JOIN tr USING (doc_id) GROUP BY prev, word
),
tot AS (SELECT sum(c1) AS total, count(*) AS vsize FROM uni)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unseen_bigrams,
       round(avg(-ln(
           {lam} * ((coalesce(b.c2, 0) + {LM_SMOOTH_K})
                    / (coalesce(c.cctx, 0) + {LM_SMOOTH_K} * tot.vsize))
         + {1 - lam} * ((coalesce(u.c1, 0) + {LM_SMOOTH_K})
                        / (tot.total + {LM_SMOOTH_K} * tot.vsize))
       )), 6) AS mean_nll
FROM bg p
LEFT JOIN bi  b ON p.prev = b.prev AND p.word = b.word
LEFT JOIN ctx c ON p.prev = c.prev
LEFT JOIN uni u ON p.word = u.word, tot
GROUP BY p.doc_id
"""


ORACLE_BIGRAM_NLL = _bigram_oracle()


# --------------------------------------------------------------------------
# Winsorized length statistics — the robust-scaling step a mixture
# pipeline runs before length-based weighting: clamp doc lengths to
# exact discrete [p05, p95] percentiles so a handful of megadocs (or
# empty crawls) can't dominate a mean.  Percentiles follow an explicit
# integer rule BOTH engines implement verbatim — p_q = min{v : cum(v)
# ≥ ceil(q·n)} over the VALUE-DOMAIN cumulative histogram — rather
# than either engine's interpolating quantile, so the cut is exact
# and hash-stable.
#
# Scale notes: the histogram groupBy is one shuffle whose key count
# is |distinct n_chars| — value-domain-sized, not corpus-sized.  The
# cumulative window runs un-partitioned over that domain table (a
# few thousand rows at ANY corpus size; the data-sized tables never
# see a global sort), and the two thresholds broadcast back onto the
# doc scan.
WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def winsorized_length_stats(docs: DataFrame) -> DataFrame:
    """Per-source doc counts and winsorized length stats, clamped to
    the corpus-global exact-discrete [p05, p95] length band."""
    n = docs.agg(F.count("*").alias("_n"))
    hist = docs.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    k_lo = F.floor((F.col("_n") * WINSOR_LO_PCT + 99) / 100)
    k_hi = F.floor((F.col("_n") * WINSOR_HI_PCT + 99) / 100)
    thr = (
        cum.crossJoin(F.broadcast(n))
        .agg(
            F.min(F.when(F.col("cum") >= k_lo, F.col("n_chars"))).alias("p_lo"),
            F.min(F.when(F.col("cum") >= k_hi, F.col("n_chars"))).alias("p_hi"),
        )
    )
    clamped = docs.crossJoin(F.broadcast(thr)).select(
        "source",
        "p_lo",
        "p_hi",
        F.greatest(F.least(F.col("n_chars"), F.col("p_hi")), F.col("p_lo"))
        .alias("w_len"),
        (F.col("n_chars") < F.col("p_lo")).cast("long").alias("lo_clip"),
        (F.col("n_chars") > F.col("p_hi")).cast("long").alias("hi_clip"),
    )
    return clamped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("p_lo").cast("long").alias("p05_len"),
        F.min("p_hi").cast("long").alias("p95_len"),
        F.floor(F.sum("w_len") * 100 / F.count("*")).cast("long")
        .alias("winsor_mean_len_x100"),
        F.sum("lo_clip").cast("long").alias("n_clipped_low"),
        F.sum("hi_clip").cast("long").alias("n_clipped_high"),
    )


def q_docs_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winsorized_length_stats(table(spark, sf_dir, "documents"))


ORACLE_WINSORIZE = f"""
WITH n AS (SELECT count(*) AS _n FROM documents),
hist AS (SELECT n_chars, count(*) AS cnt FROM documents GROUP BY 1),
cum AS (
    SELECT n_chars, sum(cnt) OVER (ORDER BY n_chars
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM hist
),
thr AS (
    SELECT min(CASE WHEN cum >= (SELECT floor((_n * {WINSOR_LO_PCT} + 99) / 100)
                                 FROM n) THEN n_chars END) AS p_lo,
           min(CASE WHEN cum >= (SELECT floor((_n * {WINSOR_HI_PCT} + 99) / 100)
                                 FROM n) THEN n_chars END) AS p_hi
    FROM cum
),
clamped AS (
    SELECT d.source, t.p_lo, t.p_hi,
           greatest(least(d.n_chars, t.p_hi), t.p_lo) AS w_len,
           CASE WHEN d.n_chars < t.p_lo THEN 1 ELSE 0 END AS lo_clip,
           CASE WHEN d.n_chars > t.p_hi THEN 1 ELSE 0 END AS hi_clip
    FROM documents d CROSS JOIN thr t
)
SELECT source,
       count(*) AS n_docs,
       CAST(min(p_lo) AS BIGINT) AS p05_len,
       CAST(min(p_hi) AS BIGINT) AS p95_len,
       CAST(floor(sum(w_len) * 100 / count(*)) AS BIGINT)
           AS winsor_mean_len_x100,
       CAST(sum(lo_clip) AS BIGINT) AS n_clipped_low,
       CAST(sum(hi_clip) AS BIGINT) AS n_clipped_high
FROM clamped
GROUP BY source
"""


QUERIES = [
    ("docs_winsorize", q_docs_winsorize, ORACLE_WINSORIZE,
     "Exact-discrete-percentile winsorized length stats per source "
     "(value-domain histogram, broadcast thresholds)."),
    ("docs_compression_signal", q_compression_signal_checked,
     ORACLE_COMPRESSION_CHECKED,
     "DEFLATE compression-ratio repetition filter, structure-gated: "
     "the zlib size is non-replayable in SQL, so the driver hashes "
     "its RFC-1950/1951 invariants (stored-block upper bound, 1032:1 "
     "lower bound, concatenation bound, integer-ratio consistency) "
     "as TRUE-columns; full values stay in compression_signal + its "
     "exact zlib parity pytest gate."),
    ("docs_entropy_signal", q_entropy_signal, ORACLE_ENTROPY,
     "Order-0 character-entropy band filter (1e-4 bits/char) — the "
     "hash-checked information-theoretic floor of the DEFLATE "
     "compression signal (histogram shuffle bounded by alphabet)."),
    ("repetition_stats", q_repetition_stats, ORACLE_REPETITION,
     "Gopher-style repetition quality filter: top-word share + duplicate "
     "2/3-gram fractions (integer basis points) + keep decision."),
    ("doc_bigram_perplexity", q_doc_bigram_perplexity, ORACLE_BIGRAM_NLL,
     "Interpolated (Jelinek-Mercer) bigram-LM mean NLL per doc: "
     "map-only bigram extraction, shuffle-joined bigram counts."),
    ("doc_perplexity", q_doc_perplexity, ORACLE_UNIGRAM_NLL,
     "CCNet-style unigram-LM quality score: add-one-smoothed mean NLL "
     "vs the md5-train split, broadcast LM, OOV counted."),
    ("pii_redact", q_pii_redact, ORACLE_PII,
     "Regex PII redaction (email/IPv4/phone) with per-type match counts "
     "over fabricated deterministic contact strings."),
]
