"""Generic user-defined MapReduce surface.

The reference claims a user-pluggable map/reduce API but actually
hard-codes dispatch on ``fn ∈ {"wc", "ii"}`` (mapper.go:40-44,
reducer.go:120-124) — users must edit the engine to add a job.  Here
``map_reduce`` is a real library function over any DataFrame, and
``register_job`` gives named jobs the reference's CLI-style dispatch.

This is the one deliberate RDD escape hatch in the engine
(SURVEY.md §4.3): arbitrary Python ``flat_map_fn`` / ``reduce_fn``
cannot be expressed as Column expressions.  ``reduceByKey`` still
does map-side combining, so the shuffle carries one record per
(partition, key) — the same asymptotics as the DataFrame path, just
with Python-speed per-record cost.  Anything expressible as built-in
expressions should use the DataFrame operators instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

from grpc_map_reduce_spark.sources.tables import table

FlatMapFn = Callable[[Row], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, Any], Any]


def map_reduce(df: DataFrame, flat_map_fn: FlatMapFn, reduce_fn: ReduceFn,
               schema: str = "key string, value string") -> DataFrame:
    """Classic MapReduce over a DataFrame: flatMap → shuffle → fold.

    ``flat_map_fn(row) -> iterable[(key, value)]`` is the mapper
    (reference: mapper.go:179-203); ``reduce_fn(v1, v2) -> v`` is an
    associative+commutative fold (reference: reducer.go:159-186 folds
    a whole value list; an associative fold is required here so Spark
    can combine map-side — the win the reference lacks, SURVEY.md §4.2).
    """
    return df.rdd.flatMap(flat_map_fn).reduceByKey(reduce_fn).toDF(schema=schema)


_JOBS: dict[str, tuple[FlatMapFn, ReduceFn, str]] = {}


def register_job(name: str, flat_map_fn: FlatMapFn, reduce_fn: ReduceFn,
                 schema: str = "key string, value string") -> None:
    """Register a named MapReduce job (the reference's `wc`/`ii` CLI
    dispatch, but open for extension)."""
    _JOBS[name] = (flat_map_fn, reduce_fn, schema)


def run_job(name: str, df: DataFrame) -> DataFrame:
    flat_map_fn, reduce_fn, schema = _JOBS[name]
    return map_reduce(df, flat_map_fn, reduce_fn, schema=schema)


# --------------------------------------------------------------------------
# The reference's two built-in jobs, re-implemented on the generic API
# as proof of the UDF surface.  Tokenization matches mapper.go:179-203
# (split on non-letters, lowercase normalization as in functions.text).
import re

_TOKEN_RE = re.compile(r"[^a-zA-Z]+")


def _wc_flat_map(row: Row) -> Iterable[tuple[str, int]]:
    return ((w, 1) for w in _TOKEN_RE.split(row.text.lower()) if w)


def _ii_flat_map(row: Row) -> Iterable[tuple[str, str]]:
    return ((w, row.source) for w in _TOKEN_RE.split(row.text.lower()) if w)


def _ii_reduce(a: str, b: str) -> str:
    # Accumulate a comma-joined *sorted distinct* source list; inputs
    # are single sources or already-merged sorted lists, so a sorted
    # set-union keeps the fold associative and commutative.
    return ",".join(sorted(set(a.split(",")) | set(b.split(","))))


register_job("wc", _wc_flat_map, lambda a, b: a + b, schema="word string, cnt long")
register_job("ii", _ii_flat_map, _ii_reduce, schema="word string, doc_list string")


def q_wordcount_mr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount via the generic RDD map_reduce path — must agree with
    the DataFrame `wordcount` operator (same oracle)."""
    return run_job("wc", table(spark, sf_dir, "documents"))


from grpc_map_reduce_spark.operators.wordcount import ORACLE_WORDCOUNT as _ORACLE_WC

QUERIES = [
    ("wordcount_mapreduce", q_wordcount_mr, _ORACLE_WC,
     "Generic RDD map_reduce API running the reference `wc` job."),
]
