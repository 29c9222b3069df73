"""The SQL entry point: temp-view registration + pure-`spark.sql`
queries.

Everything else in this package declares plans through the DataFrame
API; this module proves the OTHER first-class Spark surface works over
the same engine — register the fixture tables as views, hand Catalyst
a SQL string, get the identical optimized plan treatment (pushdown,
broadcast, partial agg).  A user migrating SQL workloads onto this
engine starts here.

The showcase query groups orders by market segment × month and ranks
months within each segment by revenue — aggregation, date truncation,
and a window over the aggregate in one statement, written in the ANSI
subset that Spark SQL and DuckDB share (modulo the documented
``date_trunc`` return-type difference, handled in the oracle).
Revenue is exact integer cents per the functions.money contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from grpc_map_reduce_spark.sources.tables import TABLE_NAMES, table


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a session temp view, so
    ``spark.sql`` can reference them by name."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


#: Runs verbatim under Spark SQL; the DuckDB twin differs only in the
#: date_trunc cast (DuckDB returns DATE, Spark TIMESTAMP).
SQL_SEGMENT_MONTH = """
SELECT c_mktsegment AS segment,
       date_trunc('MONTH', o_orderdate) AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(rank() OVER (
           PARTITION BY c_mktsegment
           ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) DESC,
                    date_trunc('MONTH', o_orderdate)
       ) AS BIGINT) AS month_rank
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c_mktsegment, date_trunc('MONTH', o_orderdate)
"""


def q_sql_segment_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(SQL_SEGMENT_MONTH)


ORACLE_SQL_SEGMENT_MONTH = """
SELECT c_mktsegment AS segment,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(rank() OVER (
           PARTITION BY c_mktsegment
           ORDER BY sum(CAST(round(o_totalprice * 100) AS BIGINT)) DESC,
                    date_trunc('month', o_orderdate)
       ) AS BIGINT) AS month_rank
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c_mktsegment, date_trunc('month', o_orderdate)
"""


QUERIES = [
    ("sql_segment_month_rank", q_sql_segment_month, ORACLE_SQL_SEGMENT_MONTH,
     "Pure spark.sql surface: temp views + agg + window-over-aggregate."),
]
