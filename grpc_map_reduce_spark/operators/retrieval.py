"""Ranked retrieval (BM25) — the natural extension of the reference's
inverted-index job.

The reference stops at `word → sorted file list` (invIndexReduce,
reducer.go:172-186); a real corpus engine needs the *scored* version:
given query terms, rank documents.  BM25 (Robertson/Spärck Jones) is
the standard; every factor is an aggregate the engine already
computes — tf (the wordcount join key), df (the inverted-index group
size), doc length, and two corpus scalars (N, avgdl).

Scale notes:
  * One tokenize pass feeds BOTH per-doc-length and per-(doc,word) tf
    aggregations; everything downstream operates on the reduced
    aggregates, never raw tokens.
  * The query-term filter lands directly after tf aggregation, so the
    scoring join only moves rows for the queried terms — O(df(term))
    rows per term, not O(corpus).
  * N and avgdl are a 1-row aggregate crossJoin-broadcast (no driver
    round-trip); df per term broadcasts (|terms| rows).
  * Top-k is TakeOrderedAndProject on the rounded score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import spread, table
from grpc_map_reduce_spark.plans.checkpoint import pin

BM25_K1 = 1.2
BM25_B = 0.75
DEFAULT_TERMS = ("join", "hash", "scan")
TOP_K = 15


def bm25_scores(docs: DataFrame, terms: list[str], top_k: int = TOP_K) -> DataFrame:
    """Top-k documents by BM25 score (``BM25_K1``, ``BM25_B``) for
    ``terms`` → (doc_id, bm25).

    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)  (the Lucene form —
    never negative, well-defined for df = N).
    """
    tokens = spread(docs).select("doc_id", F.explode(words("text")).alias("word"))
    # tf feeds FOUR consumers (scoring, dl, stats, df).  Spark has no
    # common-subplan reuse across branches, so without pinning, each
    # branch re-scans and re-tokenizes the corpus (4 full scans,
    # measured).  A lazy localCheckpoint materializes the reduced
    # (doc,word,tf) table once — O(vocab·docs) rows, far smaller than
    # the corpus — and every branch reads that.  (On a cluster,
    # ``checkpoint()`` to HDFS gives the fault-tolerant equivalent.)
    tf = pin(tokens.groupBy("doc_id", "word").agg(F.count("*").alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = (
        tf.filter(F.col("word").isin(*terms))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    k1, b = BM25_K1, BM25_B
    tf_norm = (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(top_k)
    )


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_scores(table(spark, sf_dir, "documents"), list(DEFAULT_TERMS))


_TERMS_SQL = ", ".join(f"'{t}'" for t in DEFAULT_TERMS)

ORACLE_BM25 = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents
),
tf AS (
    SELECT doc_id, word, count(*) AS tf
    FROM toks WHERE word <> '' GROUP BY doc_id, word
),
dl AS (
    SELECT doc_id, count(*) AS dl
    FROM toks WHERE word <> '' GROUP BY doc_id
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dfreq AS (
    SELECT word, count(*) AS df FROM tf
    WHERE word IN ({_TERMS_SQL}) GROUP BY word
)
SELECT doc_id,
       round(sum(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1)
           * tf * ({BM25_K1} + 1)
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
       ), 6) AS bm25
FROM tf
JOIN dfreq USING (word)
JOIN dl    USING (doc_id)
CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {TOP_K}
"""


# --------------------------------------------------------------------------
# TF-IDF keyword extraction: the per-document dual of BM25's per-query
# ranking — "which words characterize this document?"  Standard corpus
# labeling/feature op (smooth idf, sklearn's formulation:
# ln((N+1)/(df+1)) + 1, never zero or negative).
#
# Scale: one tokenize pass → reduced (doc,word,tf) table; df is a
# O(vocab) aggregate of THAT (broadcast into the scoring join — a
# vocab too large to broadcast flips to a shuffle join on word, same
# plan shape); N is a 1-row crossJoin broadcast.  Top-k per doc is a
# row_number window partitioned by doc_id — shuffle keyed on doc_id,
# no global sort anywhere.
TFIDF_TOP_K = 3


def tfidf_keywords(docs: DataFrame) -> DataFrame:
    """Top-``TFIDF_TOP_K`` words per document by smooth TF-IDF →
    (doc_id, rank, word, tf, tfidf)."""
    from pyspark.sql.window import Window

    tf = pin(  # feeds df AND scoring
        spread(docs).select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * (
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    )
    w = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("word").asc()
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "doc_id", F.col("rank").cast("long").alias("rank"), "word", "tf",
            F.round(score, 6).alias("tfidf"),
        )
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_keywords(table(spark, sf_dir, "documents"))


ORACLE_TFIDF = f"""
WITH tf AS (
    SELECT doc_id, word, count(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
        FROM documents
    )
    WHERE word <> '' GROUP BY doc_id, word
),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, word, tf,
           tf * (ln((n_docs + 1.0) / (df + 1)) + 1) AS score,
           row_number() OVER (
               PARTITION BY doc_id
               ORDER BY tf * (ln((n_docs + 1.0) / (df + 1)) + 1) DESC, word ASC
           ) AS rank
    FROM tf JOIN dfreq USING (word) CROSS JOIN n
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, word, tf,
       round(score, 6) AS tfidf
FROM scored
WHERE rank <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# Phrase search over a POSITIONAL inverted index — the retrieval
# shape the plain inverted_index query (reference `ii` job) can't
# answer: "docs where w1 is immediately followed by w2".  The index
# is (word, doc_id, pos) from one posexplode; a phrase probe is a
# self-join of the two posting lists on (doc_id, pos+1) — postings-
# sized, never corpus-sized, and the probe terms are filtered BEFORE
# the join so the shuffle carries only the queried words' postings
# (at 100 TB: two index lookups + a co-partitioned merge, the
# standard positional-index intersection).
PHRASES = [("table", "hash"), ("merge", "group"), ("vector", "small")]


def positional_index(docs: DataFrame) -> DataFrame:
    """(word, doc_id, pos) — pos is 0-based token position."""
    return spread(docs).select(
        "doc_id", F.posexplode(words("text")).alias("pos", "word")
    )


def phrase_search(docs: DataFrame) -> DataFrame:
    """Per (``PHRASES`` entry, doc): occurrence count + first hit position."""
    idx = positional_index(docs)
    probe = [w for p in PHRASES for w in p]
    hits = None
    pruned = idx.where(F.col("word").isin(probe))
    for w1, w2 in PHRASES:
        a = pruned.where(F.col("word") == w1).select(
            "doc_id", F.col("pos").alias("p1")
        )
        b = pruned.where(F.col("word") == w2).select(
            "doc_id", F.col("pos").alias("p2")
        )
        h = (
            a.join(b, (a.doc_id == b.doc_id) & (F.col("p2") == F.col("p1") + 1))
            .select(a.doc_id, "p1")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_hits"),
                F.min("p1").alias("first_pos"),
            )
            .select(F.lit(f"{w1} {w2}").alias("phrase"), "doc_id",
                    "n_hits", "first_pos")
        )
        hits = h if hits is None else hits.unionByName(h)
    return hits


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phrase_search(table(spark, sf_dir, "documents"))


def _phrase_oracle() -> str:
    selects = []
    for w1, w2 in PHRASES:
        selects.append(f"""
SELECT '{w1} {w2}' AS phrase, a.doc_id,
       count(*) AS n_hits,
       CAST(min(a.pos) AS BIGINT) AS first_pos
FROM toks a JOIN toks b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.word = '{w1}' AND b.word = '{w2}'
GROUP BY a.doc_id""")
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH ws AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                       w -> w <> '') AS arr
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(arr) AS word,
           generate_subscripts(arr, 1) - 1 AS pos
    FROM ws
)
{body}
"""


ORACLE_PHRASE = _phrase_oracle()


# --------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of the lexical (BM25) and
# dense (embedding cosine) rankings, the standard first-stage fusion
# in modern RAG / retrieval stacks (Cormack et al., SIGIR'09):
#     rrf(d) = Σ_legs 1 / (K + rank_leg(d)),   K = 60.
# One hybrid query = the BM25 term set + one query embedding (the
# fixture's vec_id space is the doc_id space).  Ranks, not scores,
# are fused, so the two legs' incomparable score scales never meet —
# and the output is hash-stable: ranks are integers and each
# reciprocal is the same IEEE double on both engines.
#
# Scale: each leg is the already-sub-quadratic operator (BM25's
# reduced aggregates; cosine's broadcast-query block scan); fusion
# touches only 2×POOL candidate rows — a full-outer join of two
# top-POOL lists, nothing corpus-sized.  Absent legs are encoded as
# rank 0 (NOT null: a nullable int column decays to float64 in the
# driver's pandas canonicalization, which would hash-diverge).
RRF_K = 60
RRF_POOL = 50
RRF_TOP = 15
RRF_QUERY_VEC = 0


def hybrid_rrf(docs: DataFrame, emb: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, r_text, r_vec, rrf, rank): top-``RRF_TOP`` fused results
    of the ``RRF_POOL`` best text hits and the ``RRF_POOL`` nearest
    neighbors of vector ``RRF_QUERY_VEC``."""
    from pyspark.sql import Window

    from grpc_map_reduce_spark.operators.similarity import cosine_topk

    # Both windows rank tiny post-limit candidate lists (≤ RRF_POOL rows),
    # so the unpartitioned sort is a single-partition no-op, not a
    # corpus-wide global sort.
    wt = Window.orderBy(F.col("bm25").desc(), "doc_id")
    t = (
        bm25_scores(docs, terms, top_k=RRF_POOL)
        .withColumn("r_text", F.row_number().over(wt).cast("long"))
        .select("doc_id", "r_text")
    )
    v = cosine_topk(
        emb, emb.filter(F.col("vec_id") == RRF_QUERY_VEC), k=RRF_POOL
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_vec"))

    fused = (
        t.join(v, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("r_text", F.lit(0)).cast("long").alias("r_text"),
            F.coalesce("r_vec", F.lit(0)).cast("long").alias("r_vec"),
        )
    )

    def _contrib(col: str) -> F.Column:
        return F.when(
            F.col(col) > 0, F.lit(1.0) / (F.lit(RRF_K) + F.col(col))
        ).otherwise(F.lit(0.0))

    wr = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rrf", F.round(_contrib("r_text") + _contrib("r_vec"), 6))
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= RRF_TOP)
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hybrid_rrf(
        table(spark, sf_dir, "documents"),
        table(spark, sf_dir, "embeddings"),
        list(DEFAULT_TERMS),
    )


ORACLE_HYBRID_RRF = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents
),
tf AS (
    SELECT doc_id, word, count(*) AS tf
    FROM toks WHERE word <> '' GROUP BY doc_id, word
),
dl AS (
    SELECT doc_id, count(*) AS dl
    FROM toks WHERE word <> '' GROUP BY doc_id
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dfreq AS (
    SELECT word, count(*) AS df FROM tf
    WHERE word IN ({_TERMS_SQL}) GROUP BY word
),
bm AS (
    SELECT doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1)
               * tf * ({BM25_K1} + 1)
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN dfreq USING (word)
    JOIN dl    USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
),
t AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_text
    FROM bm
    QUALIFY r_text <= {RRF_POOL}
),
vpairs AS (
    SELECT c.vec_id AS neighbor_id,
           CAST(unnest(q.embedding) AS DOUBLE) AS qe,
           CAST(unnest(c.embedding) AS DOUBLE) AS ce
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id = {RRF_QUERY_VEC}
),
vsims AS (
    SELECT neighbor_id,
           round(sum(qe * ce) / (sqrt(sum(qe * qe)) * sqrt(sum(ce * ce))), 6) AS sim
    FROM vpairs GROUP BY 1
),
v AS (
    SELECT neighbor_id AS doc_id,
           CAST(row_number() OVER (ORDER BY sim DESC, neighbor_id) AS BIGINT) AS r_vec
    FROM vsims
    QUALIFY r_vec <= {RRF_POOL}
),
fused AS (
    SELECT coalesce(t.doc_id, v.doc_id)      AS doc_id,
           CAST(coalesce(t.r_text, 0) AS BIGINT) AS r_text,
           CAST(coalesce(v.r_vec, 0) AS BIGINT)  AS r_vec
    FROM t FULL OUTER JOIN v ON t.doc_id = v.doc_id
),
scored AS (
    SELECT doc_id, r_text, r_vec,
           round((CASE WHEN r_text > 0
                       THEN CAST(1 AS DOUBLE) / ({RRF_K} + r_text) ELSE 0 END)
               + (CASE WHEN r_vec > 0
                       THEN CAST(1 AS DOUBLE) / ({RRF_K} + r_vec) ELSE 0 END),
                 6) AS rrf
    FROM fused
)
SELECT doc_id, r_text, r_vec, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {RRF_TOP}
"""


QUERIES = [
    ("phrase_search", q_phrase_search, ORACLE_PHRASE,
     "Positional-index phrase search: adjacency self-join of pruned "
     "posting lists, per-doc hit counts."),
    ("bm25_retrieval", q_bm25, ORACLE_BM25,
     "BM25 ranked retrieval over the inverted-index aggregates."),
    ("tfidf_keywords", q_tfidf_keywords, ORACLE_TFIDF,
     "Per-document top-k TF-IDF keywords (smooth idf, windowed top-k)."),
    ("hybrid_rrf_retrieval", q_hybrid_rrf, ORACLE_HYBRID_RRF,
     "Reciprocal-rank fusion of BM25 and embedding-cosine rankings "
     "(RAG first-stage hybrid retrieval; integer ranks fused)."),
]
