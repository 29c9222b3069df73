"""Inverted index — the reference's second built-in job (``ii``).

Reference dataflow (SURVEY.md §2 O4+O11): ``invIndexMap`` emits
``(word, source_file)`` per token (mapper.go:191-203); after the
shuffle ``invIndexReduce`` sorts the file list, adjacent-dedups it,
and emits ``"{n} f1,f2,..."`` (reducer.go:172-186).

Spark-first: ``collect_set`` de-duplicates *during* partial
aggregation (each map-side partial holds at most |distinct sources|
entries per word), so the shuffle carries sets, not one record per
token occurrence — again asymptotically lighter than the reference's
shuffle.  ``sort_array`` reproduces the reducer's deterministic
ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import table


def inverted_index(docs: DataFrame, reference_parity: bool = False) -> DataFrame:
    """Per word: count of distinct source docs + sorted CSV of them.

    Output columns: ``word, n_docs, doc_list`` — doc_list matches the
    reference's ``"f1,f2,..."`` payload (reducer.go:185).
    ``reference_parity=True`` switches to the reference's exact
    tokenizer (case-preserving, Unicode letters — functions.text).
    """
    w = (words("text", lowercase=False, unicode_letters=True)
         if reference_parity else words("text"))
    return (
        docs
        .select("source", F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.sort_array(F.collect_set("source")).alias("sources"))
        .select(
            "word",
            F.size("sources").alias("n_docs"),
            F.concat_ws(",", "sources").alias("doc_list"),
        )
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index(table(spark, sf_dir, "documents"))


ORACLE_INVERTED_INDEX = """
SELECT
    word,
    count(DISTINCT source) AS n_docs,
    array_to_string(array_agg(DISTINCT source ORDER BY source), ',') AS doc_list
FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents
)
WHERE word <> ''
GROUP BY word
"""
