"""The benchmark's workloads: which operations a pass runs, on which
generated inputs, and how each result is checked.

An operation is one user-visible job: a registered query collected to
pandas, or a reference CLI job writing ``key: value`` text.  Its
``run`` callable does the operator call and the action (the timed
part); ``check`` compares the result with a reference computed once
per seed before any timing, and returns ``None`` or a reason.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import duckdb
import pandas as pd

import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".out")
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_correctness import TABLES, _canon, _strict_match, _unhashable_cols  # noqa: E402

# Registered queries in the Spark-driver-bound mix, all oracle-checked: TPC-H
# aggregates and joins, a pivot, window ranks and event sessionisation.
QUERY_MIX = [
    "q1_pricing_summary", "q3_top_orders", "q6_forecast_revenue", "q12_priority_lines",
    "q13_customer_distribution", "q18_large_volume_customers", "pivot_order_counts",
    "window_rank_suite", "events_sessionize",
]


@dataclass
class Op:
    name: str
    run: Callable  # (spark, tracer) -> result
    check: Callable  # (result) -> None | str


@dataclass
class Workload:
    ops: list[Op]
    docs_dir: str  # directory holding a documents.parquet of this workload
    manifests: dict


# ---------------------------------------------------------------- references
def _oracle_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _oracle_check(expected: pd.DataFrame):
    """Byte-strict comparison against a DuckDB oracle result, with the
    canonicalisation of tools/check_correctness.py."""
    bad = _unhashable_cols(expected)
    if bad:
        raise ValueError(f"oracle returned unhashable columns {bad}")
    want = _canon(expected)

    def check(got: pd.DataFrame):
        if _unhashable_cols(got):
            return f"unhashable columns {_unhashable_cols(got)}"
        got = _canon(got)
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        cols = _strict_match(got, want)
        return f"values differ in {cols}" if cols else None

    return check


def _registered_ops(names: list[str], data_dir: str) -> list[Op]:
    from grpc_map_reduce_spark import registry

    queries = registry.all_queries()
    con = _oracle_con(data_dir)
    ops = []
    for name in names:
        q = queries[name]
        expected = con.execute(q.oracle).df()

        def run(spark, tracer, q=q):
            df = tracer.call("operators", q.spark_fn, spark, data_dir)
            return tracer.call("spark", df.toPandas)

        ops.append(Op(name, run, _oracle_check(expected)))
    con.close()
    return ops


_LETTERS = re.compile(r"[^\W\d_]+")


def _reference_jobs(corpus_dir: str):
    """Pure-Python ``wc`` and ``ii`` with the reference's rule: split on
    every non-letter rune, case preserved, sorted distinct sources."""
    wc, ii = Counter(), {}
    for name in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, name), encoding="utf-8") as fh:
            text = fh.read()
        words = _LETTERS.findall(text)
        wc.update(words)
        for w in set(words):
            ii.setdefault(w, []).append(name)
    ii = {w: f"{len(srcs)} {','.join(sorted(srcs))}" for w, srcs in ii.items()}
    return {w: str(c) for w, c in wc.items()}, ii


def _read_kv_text(path: str) -> dict[str, str]:
    out = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as fh:
                for line in fh:
                    k, v = line.rstrip("\n").split(": ", 1)
                    if k in out:
                        raise ValueError(f"key {k!r} written twice")
                    out[k] = v
    return out


def _output_check(expected: dict):
    """Check of a ``key: value`` text output directory against ``expected``."""
    def check(path: str):
        try:
            got = _read_kv_text(path)
        except (OSError, ValueError) as exc:
            return f"{type(exc).__name__}: {exc}"
        if got == expected:
            return None
        diff = next(k for k in sorted(set(got) | set(expected)) if got.get(k) != expected.get(k))
        return (f"{len(got)} keys vs {len(expected)} expected; first difference at {diff!r}: "
                f"{got.get(diff)!r} != {expected.get(diff)!r}")
    return check


# ---------------------------------------------------------------- workloads
def text_pipeline(seed: int, scale: float) -> Workload:
    """The paper's ``wc``/``ii`` jobs through the reference CLI path, then
    the LLM near-dup chain (Arrow shingling UDF, MinHash LSH candidates,
    exact rescore) on a document corpus with planted near-duplicate
    clusters."""
    from grpc_map_reduce_spark.sinks.text import run_reference_job

    corpus, text_manifest = gen.text_corpus(seed, scale)
    docs_dir, docs_manifest = gen.neardup_docs(seed, scale)
    wc, ii = _reference_jobs(corpus)
    out = os.path.join(OUT_DIR, f"text_pipeline-s{seed}")
    shutil.rmtree(out, ignore_errors=True)

    def ref_job(fn):
        # the job ends when its text is written; check() parses it, untimed
        def run(spark, tracer):
            path = os.path.join(out, fn)
            tracer.call("entry", run_reference_job, spark, corpus, fn, path)
            return path
        return run

    # The near-dup query is checked against its oracle only: MinHash LSH
    # may miss a planted pair (seed 54 loses one of 1,774, and so does
    # the oracle), so planted-pair recall is a per-layer metric.
    (neardup,) = _registered_ops(["dedup_lsh_neardup"], docs_dir)
    ops = [
        Op("wc", ref_job("wc"), _output_check(wc)),
        Op("ii", ref_job("ii"), _output_check(ii)),
        neardup,
    ]
    return Workload(ops, docs_dir,
                    {"text": text_manifest, "documents": docs_manifest})


def query_mix(seed: int, scale: float) -> Workload:
    """Small registered relational, TPC-H and event queries: per-query
    fixed cost (planning, scheduling, shuffle width) dominates."""
    data, manifest = gen.star_schema(seed, 0.3 * scale)
    return Workload(_registered_ops(QUERY_MIX, data), data, {"tables": manifest})


WORKLOADS = {"text_pipeline": text_pipeline, "query_mix": query_mix}
