"""Word count — the reference's flagship job (``wc``).

Reference dataflow (SURVEY.md §2 O3→O6→O9→O10): ``wcMap`` splits text
on non-letters and emits ``(word, "1")`` per token (mapper.go:179-189);
pairs are FNV-hash-partitioned (mapper.go:205-209), shipped whole to
reducers, grouped into ``map[string][]string`` (reducer.go:47), and
``wcReduce`` sums the "1"s with string→int round trips
(reducer.go:159-170).

Spark-first re-expression: explode the token array and count per
group.  ``groupBy().count()`` gives partial (map-side) aggregation +
final aggregation automatically — an asymptotic win over the
reference, which ships every single ``(word,"1")`` pair through the
shuffle.  Shuffle volume is O(distinct words × partitions), not
O(total tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.text import words
from grpc_map_reduce_spark.sources.tables import table


def wordcount(docs: DataFrame, reference_parity: bool = False) -> DataFrame:
    """Count token occurrences across the corpus → ``(word, cnt)``.

    ``reference_parity=True`` tokenizes exactly like the reference's
    ``wcMap`` (case-preserving, Unicode letter classes — see
    functions.text); the default mode is the pinned ASCII-lower
    contract the DuckDB oracle checks.
    """
    w = (words("text", lowercase=False, unicode_letters=True)
         if reference_parity else words("text"))
    return (
        docs
        .select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wordcount(table(spark, sf_dir, "documents"))


ORACLE_WORDCOUNT = """
SELECT word, count(*) AS cnt
FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents
)
WHERE word <> ''
GROUP BY word
"""
