"""Gates for the two E5 runtime mechanisms firing LIVE (VERDICT r9
item 1): runtime bloom-filter pruning and AQE skew-join splits,
witnessed through the executed plan's own SQL metrics rather than
static explain.  Volumes are the smallest that cross the (lowered)
thresholds so the gate stays fast; tools/plan_report.py runs the same
witnesses at full probe volume for PLANS.md.

The session-reuse gates below check that a long-lived session does not
re-derive what an earlier query already derived: parquet schemas
(``sources.tables.table``) and generated classes (Janino's codegen
cache, sized in ``session.DEFAULT_CONF``)."""

from __future__ import annotations

import ast
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from grpc_map_reduce_spark import registry
from grpc_map_reduce_spark.plans.runtime_witness import (
    bloom_pruning_witness,
    skew_split_witness,
)
from grpc_map_reduce_spark.sources.tables import table


def test_runtime_bloom_filter_fires_and_prunes(spark):
    w = bloom_pruning_witness(
        spark, n_fact=4_000_000, n_dim=100_000, sel_mod=16)
    # the mechanism: InjectRuntimeFilter planted a might_contain
    # Filter in the FINAL executed plan...
    assert w["bloom_filter_nodes"] >= 1
    assert w["might_contain_in_final"]
    # ...and it actually pruned: survivors must be well under the
    # scan (dim keeps ~1/16 of keys; allow 2x slack for bloom false
    # positives) and never under the true join matches.
    assert w["rows_after_bloom"] >= w["rows_joined"]
    assert w["rows_after_bloom"] <= w["fact_rows_scanned"] // 8
    assert w["rows_pruned"] >= w["fact_rows_scanned"] // 2


def test_aqe_skew_split_fires(spark):
    w = skew_split_witness(
        spark, n_probe=3_000_000, n_build=500_000, threshold_mb=2)
    # the planted hot key (40% of the probe side) must be detected
    # from compressed map-output sizes and split into multiple reads
    assert w["num_skewed_partitions"] >= 1
    assert w["num_skewed_splits"] >= 2
    assert w["skewed_in_final_str"]


def _job_ids(spark, group, fn):
    """``fn()`` and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, None)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_table_schema_cached_until_file_changes(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first, jobs = _job_ids(spark, "schema-miss", lambda: table(spark, str(tmp_path), "region"))
    assert jobs, "the first read infers the schema with a Spark job"
    second, jobs = _job_ids(spark, "schema-hit", lambda: table(spark, str(tmp_path), "region"))
    assert jobs == [], "an unchanged file must be served from the schema cache"
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    pq.write_table(pa.table({"r_regionkey": [0], "r_comment": ["c"]}), path)
    assert table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_comment"]


def test_table_schema_cache_keys_on_nanos_as_long(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as int64 only under the legacy
    conf and is rejected without it: a cache that ignored the conf
    would keep serving the int64 schema."""
    ts = pa.array([1_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"o_orderkey": [1], "ts": ts}), tmp_path / "orders.parquet",
                   version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert table(spark, str(tmp_path), "orders").schema["ts"].dataType == LongType()
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            table(spark, str(tmp_path), "orders")
    finally:
        spark.conf.set(key, before)


def _query_mix() -> list[str]:
    """The benchmark's ``query_mix`` query names, read from
    perfbench/workloads.py without importing its generator stack."""
    src = Path(__file__).parent.parent / "perfbench" / "workloads.py"
    for node in ast.parse(src.read_text()).body:
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "QUERY_MIX":
            return ast.literal_eval(node.value)
    raise AssertionError("QUERY_MIX not found in perfbench/workloads.py")


def test_repeated_query_mix_compiles_no_new_classes(spark, sf_dir):
    """A second pass over the query_mix queries must find every
    generated class in Janino's cache: one pass generates more classes
    than Spark's default 100-entry cache holds."""
    queries = registry.all_queries()
    names = _query_mix()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for name in names:
        queries[name].spark_fn(spark, sf_dir).toPandas()
    before = compiles.getCount()
    for name in reversed(names):
        queries[name].spark_fn(spark, sf_dir).toPandas()
    assert compiles.getCount() == before
