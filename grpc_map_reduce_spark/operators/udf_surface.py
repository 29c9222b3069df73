"""The full user-defined-function surface: UDTF and grouped-agg UDAF.

SURVEY.md §2.1: the reference's "UDF mechanism" is a hard-coded string
dispatch on ``fn ∈ {"wc","ii"}`` (mapper.go:40-44) — users cannot
register anything.  ``operators/map_reduce.py`` supplies the
flatMap/reduce surface; this module completes the taxonomy with the
two remaining Spark UDF kinds:

  * **UDTF** (table function, one row → many rows) — demonstrated as
    passage chunking: split each document into fixed-width word
    windows, the standard retrieval-index prep step (BM25/embedding
    passages).  Invoked via SQL ``LATERAL``, Arrow-batched.
  * **Grouped-agg pandas UDAF** (many rows → one scalar per group) —
    demonstrated as an exact integer-cents median, a rank statistic
    Spark has no exact built-in aggregate for (``percentile`` is
    interpolating; the UDAF pins the discrete (a+b)//2 definition).

Both are the *surface* demo, not the hot path: chunking is equally
expressible JVM-side (sequence + transform + posexplode, though
Catalyst may duplicate the interpreted lambdas into inferred filters
and generator projections), and a grouped-agg UDAF ships every
group's values into Python (fine for coarse groups like market
segments; wrong for per-key aggregates with millions of groups).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.money import cents
from grpc_map_reduce_spark.functions.text import TOKEN_SPLIT_RE
from grpc_map_reduce_spark.sources.tables import table

#: Words per retrieval passage.
CHUNK_WORDS = 10


def passage_chunks(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_words) — ``CHUNK_WORDS``-word
    windows per document via a Python UDTF in a SQL ``LATERAL`` join.

    The UDTF is Arrow-batched and partition-parallel: each executor
    chunks its documents locally; no shuffle at all (the plan is
    scan → generate)."""
    from pyspark.sql.functions import udtf

    token_re = re.compile(TOKEN_SPLIT_RE)

    @udtf(returnType="chunk_idx bigint, chunk_text string, n_words bigint",
          useArrow=True)
    class ChunkWords:
        def eval(self, text: str):
            ws = [w for w in token_re.split(text.lower()) if w]
            for i in range(0, len(ws), CHUNK_WORDS):
                chunk = ws[i:i + CHUNK_WORDS]
                yield i // CHUNK_WORDS, " ".join(chunk), len(chunk)

    spark.udtf.register("passage_chunks_udtf", ChunkWords)
    docs.select("doc_id", "text").createOrReplaceTempView("_chunk_docs")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_words "
        "FROM _chunk_docs d, LATERAL passage_chunks_udtf(d.text) c"
    )


def q_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return passage_chunks(spark, table(spark, sf_dir, "documents"))


ORACLE_PASSAGE_CHUNKS = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
    FROM documents
),
chunks AS (
    SELECT doc_id, ws,
           unnest(range(0, CAST(ceil(len(ws) / {CHUNK_WORDS}.0) AS BIGINT))) AS chunk_idx
    FROM toks
)
SELECT doc_id, chunk_idx,
       array_to_string(ws[chunk_idx * {CHUNK_WORDS} + 1 : (chunk_idx + 1) * {CHUNK_WORDS}], ' ')
           AS chunk_text,
       CAST(least({CHUNK_WORDS}, len(ws) - chunk_idx * {CHUNK_WORDS}) AS BIGINT)
           AS n_words
FROM chunks
"""


def q_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-cents median order value per market segment via a
    grouped-agg pandas UDAF.  (Spark refuses to mix grouped-agg pandas
    UDFs with JVM aggregates in one ``agg`` — INVALID_PANDAS_UDF_
    PLACEMENT — so the row count is a second pandas aggregate.)

    Median definition: sorted cents, middle element; even count →
    (lo + hi) // 2 — all-integer, so both engines agree exactly."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def median_cents(v: pd.Series) -> int:
        s = v.sort_values().to_numpy()
        n = len(s)
        mid = n // 2
        if n % 2:
            return int(s[mid])
        return int((int(s[mid - 1]) + int(s[mid])) // 2)

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", cents("o_totalprice").alias("pc")
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            median_cents("pc").alias("median_price_cents"),
            n_rows("pc").alias("n_orders"),
        )
    )


# DuckDB median of BIGINT is quantile_cont: exact middle for odd
# counts, (lo+hi)/2.0 for even — floor reproduces the UDAF's integer
# (lo+hi)//2 (values are positive).
ORACLE_MEDIAN_PRICE = """
SELECT c_mktsegment,
       CAST(floor(median(CAST(round(o_totalprice * 100) AS BIGINT))) AS BIGINT)
           AS median_price_cents,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


QUERIES = [
    ("udtf_passage_chunks", q_passage_chunks, ORACLE_PASSAGE_CHUNKS,
     "Python UDTF via SQL LATERAL: fixed-width retrieval passages per doc."),
    ("udaf_median_price", q_median_price, ORACLE_MEDIAN_PRICE,
     "Grouped-agg pandas UDAF: exact integer-cents median per segment."),
]
