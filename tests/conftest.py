from __future__ import annotations

import os

import duckdb
import pytest

from grpc_map_reduce_spark import get_spark
from grpc_map_reduce_spark.sources.tables import TABLE_NAMES
from tools.check_correctness import _canon, _strict_match, _unhashable_cols

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (round 12, VERDICT r11 item 5): the full suite's
    ~28-30 min wall exceeded the driver's verify window, silently
    degrading the independent test gate to "trust the builder's log"
    (VERIFY_r11 ``tests_ok: false`` with zero failures, cut off
    mid-suite).  Tests marked ``slow`` (multi-JVM pseudo-cluster
    parity/loss gates, full-inventory harness runs) are skipped unless
    ``SPARK_GRAFT_SLOW_TESTS=1`` — the builder runs both tiers; the
    driver's default ``pytest tests/`` run gets a core tier that
    finishes inside its window."""
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        "grpc-map-reduce-spark-tests",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        extra_conf={
            # keep catalog-table files (bucketing tests) out of the repo
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_matches_oracle(spark, duck, sf_dir, name):
    """Run registry query `name` on Spark and its DuckDB oracle and
    compare them as the driver's gate does (tools/check_correctness.py):
    columns sorted by name, rows sorted, values byte-strict on their
    rendering, and a list column is a failure of its own."""
    from grpc_map_reduce_spark import registry

    q = registry.all_queries()[name]
    got = q.spark_fn(spark, sf_dir).toPandas()
    want = duck.execute(q.oracle).df()
    unhashable = sorted(set(_unhashable_cols(got)) | set(_unhashable_cols(want)))
    assert not unhashable, f"{name}: list/array output columns {unhashable}"
    a, b = _canon(got), _canon(want)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column names differ: {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count differs: spark={len(a)} duckdb={len(b)}"
    bad = _strict_match(a, b)
    assert not bad, (
        f"{name}: values differ in {bad}; first 5 rows:\n"
        f"{a[bad].head().to_string()}\nvs\n{b[bad].head().to_string()}"
    )
