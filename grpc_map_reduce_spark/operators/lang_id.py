"""Character-n-gram language identification — extension E3 (the
mandate's "language-ID (n-gram heuristic)" item).

Cavnar-Trenkle-style profile classification, reduced to integer
arithmetic so the output is byte-stable across engines: a language's
profile is its top-K most frequent character trigrams (learned from
the labeled corpus itself — train and classify in one dataflow), and
a document's score for a language is the number of its trigram
OCCURRENCES that appear in that language's profile.  Argmax with a
deterministic (score desc, lang desc) tie-break picks the prediction.
No floats anywhere — rank-distance and log-likelihood variants exist,
but integer hit-count scoring is hash-checkable and order-free.

The reference engine has no analysis beyond word counting; this is
pure extension surface over its document corpus, same tokenization
spirit as the wc job (mapper.go:170-190).

Scale design (reworked in round 6 — the 125× probe crashed the
previous shape):
  * The profile table is ``n_langs × K`` rows — broadcast, so the
    corpus-side trigram stream never shuffles for the probe.
  * TWO independent map-only trigram explodes, one per pass, sharing
    NOTHING materialized.  Through round 5 the passes shared one
    ``groupBy(doc_id, lang, tg)`` shuffle via a pinned
    localCheckpoint — but that table is O(corpus) and the pin is what
    the capped-heap scale probe crashed on at 125× data
    (UNABLE_TO_ACQUIRE_MEMORY at 8 GiB: linear-in-corpus storage
    blocks squeezing execution memory; peak heap measured 1.4 / 3.8 /
    7.3 GiB at 1× / 5× / 25×).  Recomputing the explode is map-only
    CPU; the rework also DELETES the corpus-sized (doc_id, tg)
    shuffle entirely:
      - profile pass: trigrams → partial-agg groupBy(lang, tg) —
        shuffle bounded by partitions × trigram vocabulary;
      - classify pass: trigrams → broadcast profile join (inner) →
        groupBy(doc_id, cand_lang) — map-side combine bounds the
        shuffle by docs × langs, never docs × trigrams.
  * The final argmax is ``max(struct(score, lang))`` — an aggregate,
    not a window, so no extra sort; the tie-break (max ⇒ lang DESC
    among equal scores) is mirrored in the oracle's
    ``ORDER BY score DESC, cand_lang DESC``.
  * Docs with fewer than 3 characters produce no trigrams and fall
    out of the scoring stream; the final left join from the pruned
    2-column docs scan restores them with ``pred_lang='und'``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.sources.tables import spread, table

#: Profile size: top-K trigrams per language.
LANG_PROFILE_K = 32

#: Identical trigram extraction on both engines: all length-3 char
#: windows of lower(text).
_TG = "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"


def _trigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, tg) — one row per trigram occurrence."""
    return (
        spread(docs).filter(F.length("text") >= 3)
        .select("doc_id", "lang", F.lower("text").alias("t"))
        .select("doc_id", "lang", F.explode(F.expr(_TG)).alias("tg"))
    )


def lang_profiles(docs: DataFrame) -> DataFrame:
    """(lang, tg) — each language's top-``LANG_PROFILE_K`` trigrams by corpus
    count, ties broken by trigram so the profile is deterministic.

    One partial-aggregated shuffle bounded by partitions × trigram
    vocabulary (the corpus-sized occurrence stream combines map-side);
    the top-K window runs on the langs × vocabulary reduced table."""
    from pyspark.sql import Window

    counts = _trigrams(docs).groupBy("lang", "tg").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "tg")
    return (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= LANG_PROFILE_K)
        .select("lang", "tg")
    )


def classify_langs(docs: DataFrame, profiles: DataFrame) -> DataFrame:
    """(doc_id, lang, pred_lang, score, is_correct) for every doc.

    The broadcast profile join runs directly on the trigram
    OCCURRENCE stream (map-only), so counting occurrences after the
    inner join equals the old sum-of-per-doc-counts — and the only
    shuffle is groupBy(doc_id, cand_lang), bounded by docs × langs
    after map-side combine.  Nothing corpus-sized is ever pinned or
    shuffled."""
    probe = F.broadcast(profiles.withColumnRenamed("lang", "cand_lang"))
    scores = (
        _trigrams(docs).select("doc_id", "tg")
        .join(probe, "tg")  # inner: non-profile trigrams score 0 anyway
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("score"))
    )
    best = (
        scores.groupBy("doc_id")
        .agg(F.max(F.struct("score", "cand_lang")).alias("m"))
        .select(
            "doc_id",
            F.col("m.cand_lang").alias("pred_lang"),
            F.col("m.score").alias("score"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("score", F.lit(0)).cast("long").alias("score"),
            (F.col("lang") == F.coalesce("pred_lang", F.lit("und")))
            .alias("is_correct"),
        )
    )


# --------------------------------------------------------------------------
# Vectorized code path (round 11).  The Column-expression formulation
# above stays as the JVM-only reference twin, but its constant was the
# most expensive thing on the 3125× probe board: 705 s for 15.6 M
# docs, exactly linear, all of it Spark-4 INTERPRETED evaluation of
# the `transform(sequence(...), i -> substring(t,i,3))` lambda (HOFs
# run outside whole-stage codegen, with a per-comparison collation
# fetch — SURVEY §8.11).  Round 10 measured the obvious alternative
# (an Arrow UDF emitting trigram STRINGS) SLOWER — output ~3× the
# input text through Arrow.  This formulation inverts that shape:
# Python sees the text ONCE per pass and emits nearly nothing.
#
#   * A trigram is packed into ONE int64: three 21-bit codepoints,
#     (cp1<<42)|(cp2<<21)|cp3.  For equal-length strings this packing
#     is ORDER-PRESERVING vs UTF8_BINARY / DuckDB byte order, so the
#     profile tie-break (count DESC, trigram ASC) and therefore every
#     downstream result is bit-identical to the string formulation —
#     the DuckDB oracle is unchanged.
#   * Extraction is numpy, whole-batch: the batch's lowered texts are
#     joined, decoded to a codepoint array once (utf-32), and all
#     windows are three shifted vector ops; windows spanning doc
#     boundaries are masked out.  No per-row Python loop touches
#     characters.
#   * Profile pass emits per-batch (lang, code, partial count) — the
#     shuffle is bounded by batches × trigram vocabulary, never the
#     occurrence stream.
#   * Classify pass emits the FINAL five output columns (argmax done
#     in the batch against the ≤ langs×K broadcast profile, langs
#     ordered DESC so numpy's first-max argmax reproduces
#     max(struct(score, lang))) — one map-only pass, zero shuffles,
#     zero joins in the registered plan.
#   * The profile itself (≤ n_langs × K rows, bounded by
#     construction) is collected at plan-build time and shipped in
#     the UDF closure — same bounded-driver-scalar idiom as the BPE
#     merge table (vocab.py).
#
# Measured (fresh sessions, 8 GiB cap): 705.4 s → see SURVEY §8.11
# round-11 row for the before/after at 125× and 3125×.


def _batch_trigram_codes(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """All trigram codes for a batch of (already lowered) texts.

    Returns ``(codes, doc_idx)`` — int64 packed codes for every
    3-codepoint window that lies entirely inside one text, and the
    batch-row index each window belongs to."""
    if not texts:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64,
                       count=len(texts))
    joined = "".join(texts)
    if len(joined) < 3:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
        np.int64
    )
    codes = (cps[:-2] << 42) | (cps[1:-1] << 21) | cps[2:]
    doc_of_pos = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    valid = doc_of_pos[:-2] == doc_of_pos[2:]
    return codes[valid], doc_of_pos[:-2][valid]


def lang_profile_codes(docs: DataFrame) -> DataFrame:
    """(lang, code) — `lang_profiles` with packed-int64 trigrams.

    Same top-``LANG_PROFILE_K``-by-count, ties-by-trigram profile (packing is
    order-preserving), but counting runs vectorized in Arrow batches
    and the shuffle carries (lang, code, partial-count) rows bounded
    by batches × vocabulary instead of the occurrence stream."""
    from pyspark.sql import Window

    def partials(batches):
        for pdf in batches:
            langs_out: list[str] = []
            codes_out: list[np.ndarray] = []
            cnts_out: list[np.ndarray] = []
            for lang, grp in pdf.groupby("lang"):
                codes, _ = _batch_trigram_codes(
                    [t.lower() for t in grp["text"]]
                )
                if codes.size:
                    u, c = np.unique(codes, return_counts=True)
                    langs_out.extend([lang] * len(u))
                    codes_out.append(u)
                    cnts_out.append(c)
            yield pd.DataFrame({
                "lang": pd.Series(langs_out, dtype=object),
                "code": np.concatenate(codes_out)
                if codes_out else np.empty(0, dtype=np.int64),
                "cnt": np.concatenate(cnts_out).astype(np.int64)
                if cnts_out else np.empty(0, dtype=np.int64),
            })

    counts = (
        spread(docs).filter(F.length("text") >= 3)
        .select("lang", "text")
        .mapInPandas(partials, "lang string, code long, cnt long")
        .groupBy("lang", "code")
        .agg(F.sum("cnt").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "code")
    return (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= LANG_PROFILE_K)
        .select("lang", "code")
    )


def classify_langs_codes(docs: DataFrame,
                         profile: list[tuple[str, int]]) -> DataFrame:
    """`classify_langs` with the ≤ langs×K packed profile in the UDF
    closure: ONE map-only pass emitting the final five columns —
    scoring, argmax, and the 'und' totality rule all happen inside
    the batch, so the registered plan has zero shuffles and zero
    joins (at 100 TB: scan → repartition → MapInPandas, perfectly
    data-parallel)."""
    langs = sorted({lang for lang, _ in profile}, reverse=True)
    assert len(langs) <= 63, "bitmask packing supports <= 63 languages"
    li_of = {lang: i for i, lang in enumerate(langs)}
    code_mask: dict[int, int] = {}
    for lang, code in profile:
        code_mask[code] = code_mask.get(code, 0) | (1 << li_of[lang])
    prof_codes = np.array(sorted(code_mask), dtype=np.int64)
    prof_mask = np.array([code_mask[c] for c in sorted(code_mask)],
                         dtype=np.int64)
    lang_arr = np.array(langs, dtype=object)

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            codes, doc_idx = _batch_trigram_codes(
                [("" if t is None else t).lower() for t in pdf["text"]]
            )
            scores = np.zeros((max(len(langs), 1), n), dtype=np.int64)
            if codes.size and prof_codes.size:
                pos = np.searchsorted(prof_codes, codes)
                pos = np.minimum(pos, len(prof_codes) - 1)
                hit = prof_codes[pos] == codes
                masks = prof_mask[pos[hit]]
                hdoc = doc_idx[hit]
                for li in range(len(langs)):
                    sel = (masks >> li) & 1
                    scores[li] = np.bincount(
                        hdoc[sel.astype(bool)], minlength=n
                    )
            best_li = scores.argmax(axis=0)  # first max = largest lang
            best_sc = scores[best_li, np.arange(n)]
            if langs:
                pred = np.where(best_sc > 0, lang_arr[best_li], "und")
            else:
                pred = np.full(n, "und", dtype=object)
            lang_vals = pdf["lang"].to_numpy(dtype=object)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "lang": lang_vals,
                "pred_lang": pred,
                "score": best_sc,
                "is_correct": (lang_vals == pred).astype(bool),
            })

    return spread(docs, "doc_id").select("doc_id", "lang", "text").mapInPandas(
        score,
        "doc_id long, lang string, pred_lang string, score long, "
        "is_correct boolean",
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # Bounded-by-construction driver scalar (≤ n_langs × K rows, like
    # vocab.py's BPE merge table): the profile job runs eagerly at
    # plan-build time; the returned plan is the single map-only
    # classify pass.
    profile = [
        (r["lang"], r["code"]) for r in lang_profile_codes(docs).collect()
    ]
    return classify_langs_codes(docs, profile)


ORACLE_LANG_ID = f"""
WITH tri AS (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, length(text) - 1),
                                 i -> substr(lower(text), i, 3))) AS tg
    FROM documents
    WHERE length(text) >= 3
),
prof AS (
    SELECT lang AS cand_lang, tg
    FROM (
        SELECT lang, tg, count(*) AS n
        FROM tri GROUP BY lang, tg
    )
    QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg)
            <= {LANG_PROFILE_K}
),
doc_tg AS (
    SELECT doc_id, tg, count(*) AS cnt FROM tri GROUP BY doc_id, tg
),
scores AS (
    SELECT doc_id, cand_lang, sum(cnt) AS score
    FROM doc_tg JOIN prof USING (tg)
    GROUP BY doc_id, cand_lang
),
best AS (
    SELECT doc_id, cand_lang AS pred_lang, score
    FROM scores
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, cand_lang DESC) = 1
)
SELECT d.doc_id,
       d.lang,
       coalesce(b.pred_lang, 'und') AS pred_lang,
       CAST(coalesce(b.score, 0) AS BIGINT) AS score,
       d.lang = coalesce(b.pred_lang, 'und') AS is_correct
FROM documents d LEFT JOIN best b USING (doc_id)
"""


QUERIES = [
    ("docs_lang_id", q_lang_id, ORACLE_LANG_ID,
     "Char-trigram language ID: packed-int64 trigram codes, "
     "vectorized Arrow batch scoring against the bounded profile, "
     "deterministic argmax in one map-only pass (round 11; the "
     "string/HOF formulation stays as the JVM-only reference twin)."),
]
