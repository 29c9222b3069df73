"""Central query registry — the single source of truth for the driver
contract (``__spark_entry__.py``) and the bench harness.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB oracle SQL string (or ``None`` for
genuinely non-SQL-expressible operators, which get a rows-only
check).  Column names are aliased identically on both sides — the
driver's compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, spark_fn: SparkQuery, oracle: str | None, doc: str = "") -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    _REGISTRY[name] = Query(name, spark_fn, oracle, doc)


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return dict(_REGISTRY)


def spark_queries() -> dict[str, SparkQuery]:
    return {q.name: q.spark_fn for q in all_queries().values()}


def oracle_sqls() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values() if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module exactly once to populate the registry."""
    global _LOADED
    if _LOADED:
        return
    from grpc_map_reduce_spark.operators import inverted_index, wordcount

    register(
        "wordcount",
        wordcount.q_wordcount,
        wordcount.ORACLE_WORDCOUNT,
        "Reference `wc` job (O3/O6/O9/O10): tokenize documents.text, count per word.",
    )
    register(
        "inverted_index",
        inverted_index.q_inverted_index,
        inverted_index.ORACLE_INVERTED_INDEX,
        "Reference `ii` job (O4/O11): word → sorted distinct sources + count.",
    )
    _register_more()
    _LOADED = True


def _register_more() -> None:
    """Registrations for the wider operator surface (kept separate so
    the reference-parity core above stays readable)."""
    from grpc_map_reduce_spark.operators import (
        basket,
        classifier,
        clustering,
        data_quality,
        dedup,
        events,
        lang_id,
        map_reduce,
        multimodal,
        packing,
        pipeline,
        quality_filters,
        relational,
        retrieval,
        sampling,
        similarity,
        sketches,
        skew,
        sql_api,
        text_analysis,
        timeseries,
        tpch_suite,
        udf_surface,
        vocab,
        web,
    )

    for mod in (relational, tpch_suite, events, dedup, clustering,
                similarity, text_analysis, multimodal, map_reduce, skew,
                retrieval, sketches, sampling, pipeline, packing, sql_api,
                udf_surface, quality_filters, vocab, web, lang_id,
                data_quality, timeseries, basket, classifier):
        for name, spark_fn, oracle, doc in getattr(mod, "QUERIES", ()):
            register(name, spark_fn, oracle, doc)
