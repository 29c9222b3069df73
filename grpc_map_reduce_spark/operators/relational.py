"""Relational operator breadth on the TPC-H-ish fixtures.

The reference has NO joins, windows, sorts-as-query-op, set ops,
grouping sets, or scalar function library (SURVEY.md §2.1) — this
module supplies that surface as first-class engine capabilities,
each a declarative DataFrame plan Catalyst can optimize.

Scale notes (100 TB posture), per query:
  * Filters are expressed directly on scan columns so they push into
    the parquet reader (``PushedFilters`` in the plan).
  * Dimension joins (customer/nation/region/supplier/part) broadcast
    under ``autoBroadcastJoinThreshold``; only fact-fact joins
    (lineitem ⨝ orders) shuffle, on their join key.
  * Aggregates use ``groupBy().agg`` → automatic partial (map-side)
    aggregation before the shuffle.
  * All float aggregates are rounded identically here and in the
    DuckDB oracles, so value hashes are stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.money import cents
from grpc_map_reduce_spark.sources.tables import table


def _ts(s: str):
    return F.to_timestamp(F.lit(s))


# --------------------------------------------------------------------------
# Q1-style pricing summary: scan-heavy single-table aggregation.
# At 100 TB this is a pure map-side-partial + tiny final agg (6 groups);
# shuffle volume is O(groups × partitions), independent of row count.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT
    l_returnflag, l_linestatus,
    round(sum(l_quantity), 2)                                            AS sum_qty,
    round(sum(l_extendedprice), 2)                                       AS sum_base_price,
    round(sum(l_extendedprice * (1 - l_discount)), 2)                    AS sum_disc_price,
    round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)      AS sum_charge,
    round(avg(l_quantity), 4)                                            AS avg_qty,
    round(avg(l_extendedprice), 4)                                       AS avg_price,
    round(avg(l_discount), 4)                                            AS avg_disc,
    count(*)                                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Q3-style shipping priority: dim ⨝ fact ⨝ fact with group-by + top-k.
# customer is a broadcast side; orders ⨝ lineitem shuffles on orderkey.
# Top-k is a TakeOrderedAndProject — no global sort materialization.
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = _ts("1998-06-15")
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


ORACLE_Q3 = """
SELECT
    l_orderkey, o_orderdate, o_orderpriority,
    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Q5-style local-supplier revenue: 6-table join.  region/nation/supplier/
# customer all broadcast; the only shuffle joins are on the fact keys.
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


ORACLE_Q5 = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Window functions: per-customer order sequence — ROWS frames
# (row_number / lag / running sum / whole-partition avg) AND a RANGE
# frame (trailing-30-day spend) in one query.  One shuffle on the
# partition key; the window computations share it.
#
# Money outputs are exact integer cents / basis points (see
# functions.money): round-1's rounded-double versions hash-failed on
# last-ulp round() divergence between Spark and DuckDB.
# The RANGE frame orders by datediff-from-epoch (a timezone-free day
# number) rather than unix_timestamp, so the 30-day offset cannot
# shift across DST boundaries (ADVICE round 1).
def window_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").withColumn(
        "pc", cents("o_totalprice")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("o_custkey")
    day_no = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w_30d = Window.partitionBy("o_custkey").orderBy(day_no).rangeBetween(-30, 0)
    # avg in basis points of dollars = floor(sum_cents * 100 / n):
    # IEEE division of exact integers, then floor — identical in both
    # engines (no rounded-double hashing anywhere).
    cust_avg_bp = F.floor(
        F.sum("pc").over(w_all) * 100 / F.count(F.lit(1)).over(w_all)
    ).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("pc").over(w).alias("prev_price_cents"),
        F.sum("pc").over(w_run).alias("running_total_cents"),
        cust_avg_bp.alias("cust_avg_bp"),
        F.sum("pc").over(w_30d).alias("spend_30d_cents"),
        F.count(F.lit(1)).over(w_30d).alias("n_orders_30d"),
    )


ORACLE_WINDOW = """
WITH o AS (
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(round(o_totalprice * 100) AS BIGINT) AS pc
    FROM orders
)
SELECT
    o_orderkey, o_custkey,
    row_number() OVER w                              AS rn,
    lag(pc) OVER w                                   AS prev_price_cents,
    CAST(sum(pc) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                                                     AS running_total_cents,
    CAST(floor(sum(pc) OVER (PARTITION BY o_custkey) * 100
               / count(*) OVER (PARTITION BY o_custkey)) AS BIGINT)
                                                     AS cust_avg_bp,
    CAST(sum(pc) OVER w30 AS BIGINT)                 AS spend_30d_cents,
    count(*) OVER w30                                AS n_orders_30d
FROM o
WINDOW w   AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w30 AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# ROLLUP + GROUPING SETS in one query (the reference has no grouping
# framework at all).  The two grouping frameworks are exercised as
# tagged branches of one union: `rollup` via the DataFrame API,
# `gsets` via SQL GROUPING SETS, both with grouping_id.  NULL slots
# are coalesced to 'ALL' so the output is hash-stable (fixtures
# contain no real NULLs in these cols).  Money totals are exact
# integer cents (functions.money).
def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").withColumn("pc", cents("o_totalprice"))
    rolled = (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id("o_orderstatus", "o_orderpriority").cast("long").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum("pc").alias("total_price_cents"),
        )
        .select(
            F.lit("rollup").alias("src"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "total_price_cents",
        )
    )
    orders.createOrReplaceTempView("_gs_orders")
    gsets = spark.sql("""
        SELECT
            'gsets' AS src,
            coalesce(o_orderstatus,   'ALL') AS status,
            coalesce(o_orderpriority, 'ALL') AS priority,
            CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
            count(*)     AS n_orders,
            sum(pc)      AS total_price_cents
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
    """)
    return rolled.unionByName(gsets)


ORACLE_ROLLUP = """
WITH o AS (
    SELECT o_orderstatus, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS pc
    FROM orders
)
SELECT 'rollup' AS src,
       coalesce(o_orderstatus, 'ALL')   AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       count(*)                         AS n_orders,
       CAST(sum(pc) AS BIGINT)          AS total_price_cents
FROM o
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'gsets' AS src,
       coalesce(o_orderstatus, 'ALL')   AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       count(*)                         AS n_orders,
       CAST(sum(pc) AS BIGINT)          AS total_price_cents
FROM o
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
"""


# --------------------------------------------------------------------------
# Set operations + semi/anti joins in one membership query.
# Branch 1/2: EXISTS / NOT EXISTS as first-class plan nodes
# (LeftSemi/LeftAnti — broadcast hash set at this scale, shuffled semi
# join at 100 TB).  Branch 3: ((A ∩ B) ∪ C) \ D via DataFrame
# `intersect`/`distinct`/`subtract`, which match SQL
# INTERSECT/UNION/EXCEPT (distinct) semantics.
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    urgent = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    with_urgent = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", F.lit("has_urgent").alias("bucket"))
    )
    without_urgent = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", F.lit("no_urgent").alias("bucket"))
    )
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    c = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    d = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    setops = (
        a.intersect(b).union(c).distinct().subtract(d)
        .select("c_custkey", F.lit("setops_net").alias("bucket"))
    )
    return with_urgent.unionByName(without_urgent).unionByName(setops)


ORACLE_SEMI_ANTI = """
SELECT c_custkey, 'has_urgent' AS bucket
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, 'no_urgent' AS bucket
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, 'setops_net' AS bucket FROM (
    SELECT c_custkey FROM (
        (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F')
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
    )
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
)
"""


# --------------------------------------------------------------------------
# Scalar function library: string/math per-row expressions on `part`.
# Integer-ish outputs are cast to bigint on BOTH sides so the schemas
# hash identically (DuckDB length/floor return BIGINT/DECIMAL).
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_up"),
        F.abs(F.col("p_size") - F.lit(25)).cast("long").alias("size_dev"),
        (F.col("p_size") % 7).cast("long").alias("size_mod"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.floor(F.col("p_retailprice") / 100).cast("long").alias("price_bucket"),
    )


ORACLE_SCALAR = """
SELECT
    p_partkey,
    upper(p_brand)                              AS brand_u,
    substr(p_name, 1, 5)                        AS name5,
    CAST(length(p_name) AS BIGINT)              AS name_len,
    concat_ws('-', p_brand, p_type)             AS brand_type,
    round(p_retailprice * 1.1, 2)               AS price_up,
    CAST(abs(p_size - 25) AS BIGINT)            AS size_dev,
    CAST(p_size % 7 AS BIGINT)                  AS size_mod,
    round(sqrt(p_retailprice), 6)               AS price_sqrt,
    CAST(floor(p_retailprice / 100) AS BIGINT)  AS price_bucket
FROM part
"""


# --------------------------------------------------------------------------
# Date/time functions on orders.
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("oy"),
        F.month("o_orderdate").cast("long").alias("om"),
        F.dayofmonth("o_orderdate").cast("long").alias("od"),
        F.quarter("o_orderdate").cast("long").alias("oq"),
        F.date_trunc("month", "o_orderdate").alias("omonth"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_2002"),
    )


ORACLE_DATETIME = """
SELECT
    o_orderkey,
    CAST(year(o_orderdate) AS BIGINT)     AS oy,
    CAST(month(o_orderdate) AS BIGINT)    AS om,
    CAST(day(o_orderdate) AS BIGINT)      AS od,
    CAST(quarter(o_orderdate) AS BIGINT)  AS oq,
    CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS omonth,
    CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT)
                                          AS days_to_2002
FROM orders
"""


# --------------------------------------------------------------------------
# CUBE: all grouping-set combinations in one pass.
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


ORACLE_CUBE = """
SELECT
    coalesce(l_returnflag, 'ALL') AS returnflag,
    coalesce(l_linestatus, 'ALL') AS linestatus,
    count(*)                      AS n_items,
    round(sum(l_quantity), 2)     AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# Distinct aggregates: exact COUNT(DISTINCT) (expand + two-phase agg in
# Spark) alongside plain aggregates in the same groupBy.
def distinct_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


ORACLE_DISTINCT_AGG = """
SELECT
    l_returnflag,
    count(DISTINCT l_suppkey)        AS n_supp,
    count(DISTINCT l_partkey)        AS n_parts,
    count(*)                         AS n_rows,
    round(sum(l_extendedprice), 2)   AS sum_price
FROM lineitem
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# Top-k per group: the rank-then-filter window pattern.  AQE plans the
# partial window as a shuffle on the group key; for heavily-skewed
# groups the same result comes from groupBy(key).agg(max_by/top-k
# sketch), but rank-filter is the general exact form.
TOPK_PER_PRIORITY = 3


def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK_PER_PRIORITY)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


ORACLE_TOPK_PER_GROUP = f"""
SELECT o_orderpriority, rank, o_orderkey, o_totalprice
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rank
    FROM orders
) WHERE rank <= {TOPK_PER_PRIORITY}
"""


# --------------------------------------------------------------------------
# Exact percentiles (sort-based within each group) next to min/max.
# At 100 TB exact quantiles become approx_percentile (t-digest, one
# pass, mergeable) — swap the function, same query shape.
def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(pct[0], 2).alias("p50"),
        F.round(pct[1], 2).alias("p90"),
        F.round(pct[2], 2).alias("p99"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


ORACLE_PERCENTILES = """
SELECT o_orderpriority,
       round(min(o_totalprice), 2)                 AS min_price,
       round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
       round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
       round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
       round(max(o_totalprice), 2)                 AS max_price
FROM orders
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# PIVOT → UNPIVOT round trip: status × priority counts as a cross-tab,
# then melted back to long form — both reshaping operators in one
# plan.  The pivot values are listed explicitly — with them, Spark
# skips the extra distinct-scan job and the pivot is a single groupBy
# with conditional aggregates; the unpivot is a map-only generate +
# project on the (tiny) wide result.
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pivot_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderstatus",
            *[
                F.coalesce(F.col(p), F.lit(0)).alias(f"p{i + 1}")
                for i, p in enumerate(_PRIORITIES)
            ],
        )
    )
    return wide.unpivot(
        "o_orderstatus",
        [f"p{i + 1}" for i in range(len(_PRIORITIES))],
        "priority_slot",
        "n_orders",
    )


ORACLE_PIVOT = """
WITH wide AS (
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT')        AS p1,
           count(*) FILTER (o_orderpriority = '2-HIGH')          AS p2,
           count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS p3,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
           count(*) FILTER (o_orderpriority = '5-LOW')           AS p5
    FROM orders
    GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'p1' AS priority_slot, p1 AS n_orders FROM wide
UNION ALL SELECT o_orderstatus, 'p2', p2 FROM wide
UNION ALL SELECT o_orderstatus, 'p3', p3 FROM wide
UNION ALL SELECT o_orderstatus, 'p4', p4 FROM wide
UNION ALL SELECT o_orderstatus, 'p5', p5 FROM wide
"""


# --------------------------------------------------------------------------
# Ranking/navigation window-function breadth: the functions
# window_order_stats doesn't touch — lead, rank, dense_rank, ntile,
# percent_rank, cume_dist, first_value, nth_value — over the
# per-customer order history.  The partition key is the
# high-cardinality o_custkey (never a 5-value column like
# orderpriority), so each window sort is a few rows and the plan is
# one shuffle + per-partition sort at any corpus size.
#
# percent_rank/cume_dist are rank-count rationals ((k−1)/(n−1), k/n)
# computed by IEEE division of the same integers in both engines —
# bit-identical, safe to hash unrounded.
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").withColumn(
        "pc", cents("o_totalprice")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("pc").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "pc",
        F.lead("pc").over(w).alias("next_cheaper_cents"),
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
        F.first_value("pc").over(w).alias("max_cents"),
        F.nth_value("pc", 2).over(w).alias("second_cents"),
    )


ORACLE_WINDOW_RANKS = """
WITH o AS (
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS pc
    FROM orders
)
SELECT
    o_orderkey, o_custkey, pc,
    lead(pc) OVER w                      AS next_cheaper_cents,
    CAST(rank() OVER w AS BIGINT)        AS price_rank,
    CAST(dense_rank() OVER w AS BIGINT)  AS price_dense_rank,
    CAST(ntile(4) OVER w AS BIGINT)      AS price_quartile,
    percent_rank() OVER w                AS price_pct_rank,
    cume_dist() OVER w                   AS price_cume_dist,
    first_value(pc) OVER w               AS max_cents,
    nth_value(pc, 2) OVER w              AS second_cents
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY pc DESC, o_orderkey)
"""


# --------------------------------------------------------------------------
# Collection-function breadth: the array/map half of the scalar
# function library (§2.1 explicit negative — the reference has no
# complex types at all).  Per order, the line items are collected
# into arrays/maps and EVERY downstream computation is a higher-order
# Column function (sort_array, slice, element_at, exists, forall,
# array_distinct, map_from_entries, map_keys) — no explode-regroup
# round trip, so the whole post-aggregation stage is map-only on the
# grouped rows.  One shuffle total (the collect_list groupBy).
#
# Hash-compare note: every array column is serialized to a JSON
# *string* on the way out (Spark to_json / DuckDB to_json::VARCHAR,
# byte-identical compact rendering) because a raw list column crashes
# pandas-based canonicalizers (Categorical sort → "unhashable type:
# 'list'", driver ERR in round 3).  Maps additionally render
# engine-specifically, so map results are reduced to arrays/scalars
# (map_keys, one element_at) before the JSON step.
def collection_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag",
        cents("l_extendedprice").alias("pc"),
    )
    g = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("pc")).alias("prices"),
        F.array_sort(F.array_distinct(F.collect_list("l_returnflag"))).alias("flags"),
    )
    # position → price map over the sorted array (l_linenumber is not
    # unique per order in the fixtures, so positions are the keys)
    m = F.map_from_arrays(
        F.sequence(F.lit(1).cast("long"), F.size("prices").cast("long")),
        F.col("prices"),
    )
    return g.select(
        "l_orderkey",
        F.to_json("prices").alias("prices"),
        F.size("prices").cast("long").alias("n_items"),
        F.to_json(F.slice(F.sort_array("prices", asc=False), 1, 2)).alias("top2"),
        (F.element_at("prices", -1) - F.element_at("prices", 1)).alias("price_range"),
        F.exists("prices", lambda x: x > 300000).alias("has_big"),
        F.forall("prices", lambda x: x > 0).alias("all_pos"),
        F.to_json("flags").alias("flags"),
        F.to_json(F.map_keys(m)).alias("positions"),
        F.element_at(m, F.lit(2).cast("long")).alias("pos2_cents"),
    )


ORACLE_COLLECTION = """
WITH l AS (
    SELECT l_orderkey, l_returnflag,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
    FROM lineitem
),
g AS (
    SELECT l_orderkey,
           list_sort(list(pc)) AS prices,
           list_sort(list_distinct(list(l_returnflag))) AS flags
    FROM l GROUP BY l_orderkey
),
gm AS (
    SELECT *, map(range(1, len(prices) + 1), prices) AS m FROM g
)
SELECT l_orderkey,
       CAST(to_json(prices) AS VARCHAR)                   AS prices,
       CAST(len(prices) AS BIGINT)                        AS n_items,
       CAST(to_json((list_sort(prices, 'DESC'))[1:2]) AS VARCHAR) AS top2,
       prices[-1] - prices[1]                             AS price_range,
       len(list_filter(prices, x -> x > 300000)) > 0      AS has_big,
       len(list_filter(prices, x -> x <= 0)) = 0          AS all_pos,
       CAST(to_json(flags) AS VARCHAR)                    AS flags,
       CAST(to_json(map_keys(m)) AS VARCHAR)              AS positions,
       map_extract(m, 2)[1]                               AS pos2_cents
FROM gm
"""


# --------------------------------------------------------------------------
# FULL OUTER join: two-sided reconciliation — which nations have
# machinery customers, well-capitalized suppliers, or both?  The scale
# shape: aggregate EACH side down to its key first (map-side partial +
# one shuffle each), then full-outer the two small aggregates — never
# full-outer the raw fact tables (full outer cannot broadcast, so an
# un-preaggregated formulation shuffles both facts in entirety).
def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    j = cust.join(supp, "nationkey", "full_outer")
    return j.select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
        F.when(F.col("n_cust").isNull(), F.lit("supplier_only"))
        .when(F.col("n_supp").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("both")).alias("presence"),
    )


ORACLE_FULL_OUTER = """
WITH c AS (
    SELECT c_nationkey AS nationkey, count(*) AS n_cust
    FROM customer WHERE c_mktsegment = 'MACHINERY' GROUP BY 1
),
s AS (
    SELECT s_nationkey AS nationkey, count(*) AS n_supp
    FROM supplier WHERE s_acctbal > 5000 GROUP BY 1
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust,
       CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp,
       CASE WHEN c.nationkey IS NULL THEN 'supplier_only'
            WHEN s.nationkey IS NULL THEN 'customer_only'
            ELSE 'both' END AS presence
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


# --------------------------------------------------------------------------
# RFM customer segmentation — the classic lifecycle-marketing scoring
# (recency / frequency / monetary quintiles).  Quintiles are assigned
# WITHIN each nation: an unpartitioned ntile window would pull every
# customer into one partition (Spark executes a partitionBy-less
# window single-threaded — a genuine scale smell), while per-market
# quintiles distribute on c_nationkey and are the analytically usual
# form.  Ordering carries a full (metric, custkey) tie-break so both
# engines tile identically.
def rfm_segmentation(orders: DataFrame, customer: DataFrame) -> DataFrame:
    ref = orders.agg(F.max(F.to_date("o_orderdate")).alias("ref"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(cents("o_totalprice")).alias("monetary_cents"),
        )
    )
    rfm = (
        per_cust.crossJoin(F.broadcast(ref))
        .withColumn(
            "recency_days", F.datediff("ref", "last_order").cast("long")
        )
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
    )
    w_r = Window.partitionBy("c_nationkey").orderBy(
        F.col("recency_days").desc(), "o_custkey"
    )
    w_f = Window.partitionBy("c_nationkey").orderBy(
        F.col("frequency").asc(), "o_custkey"
    )
    w_m = Window.partitionBy("c_nationkey").orderBy(
        F.col("monetary_cents").asc(), "o_custkey"
    )
    return (
        rfm.withColumn("r_score", F.ntile(5).over(w_r).cast("long"))
        .withColumn("f_score", F.ntile(5).over(w_f).cast("long"))
        .withColumn("m_score", F.ntile(5).over(w_m).cast("long"))
        .select(
            "o_custkey",
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "recency_days", "frequency", "monetary_cents",
            "r_score", "f_score", "m_score",
            F.concat_ws(
                "", F.col("r_score"), F.col("f_score"), F.col("m_score")
            ).alias("segment"),
        )
    )


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rfm_segmentation(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "customer")
    )


ORACLE_RFM = """
WITH per_cust AS (
    SELECT o_custkey,
           max(CAST(o_orderdate AS DATE)) AS last_order,
           count(*) AS frequency,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM orders GROUP BY o_custkey
),
ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref FROM orders),
rfm AS (
    SELECT p.o_custkey, c.c_nationkey,
           CAST(date_diff('day', p.last_order, ref.ref) AS BIGINT)
               AS recency_days,
           p.frequency, p.monetary_cents
    FROM per_cust p
    JOIN customer c ON c.c_custkey = p.o_custkey
    CROSS JOIN ref
)
SELECT o_custkey,
       CAST(c_nationkey AS BIGINT) AS nationkey,
       recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (PARTITION BY c_nationkey
                ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
       CAST(ntile(5) OVER (PARTITION BY c_nationkey
                ORDER BY frequency ASC, o_custkey) AS BIGINT) AS f_score,
       CAST(ntile(5) OVER (PARTITION BY c_nationkey
                ORDER BY monetary_cents ASC, o_custkey) AS BIGINT) AS m_score,
       CAST(ntile(5) OVER (PARTITION BY c_nationkey
                ORDER BY recency_days DESC, o_custkey) AS VARCHAR)
       || CAST(ntile(5) OVER (PARTITION BY c_nationkey
                ORDER BY frequency ASC, o_custkey) AS VARCHAR)
       || CAST(ntile(5) OVER (PARTITION BY c_nationkey
                ORDER BY monetary_cents ASC, o_custkey) AS VARCHAR) AS segment
FROM rfm
"""


QUERIES = [
    ("orders_rfm_segments", q_rfm_segmentation, ORACLE_RFM,
     "RFM customer segmentation: per-nation recency/frequency/monetary "
     "quintiles (distributed ntile windows, full tie-breaks)."),
    ("full_outer_reconcile", full_outer_reconcile, ORACLE_FULL_OUTER,
     "FULL OUTER reconciliation of two pre-aggregated sides "
     "(aggregate-then-join; never full-outer raw facts)."),
    ("pivot_order_counts", pivot_order_counts, ORACLE_PIVOT,
     "PIVOT cross-tab (explicit values) melted back long via UNPIVOT."),
    ("q1_pricing_summary", q1_pricing_summary, ORACLE_Q1,
     "TPC-H Q1-style scan+aggregate with partial aggregation."),
    ("q3_top_orders", q3_top_orders, ORACLE_Q3,
     "Broadcast dim join + fact-fact shuffle join + top-k."),
    ("q5_region_revenue", q5_region_revenue, ORACLE_Q5,
     "6-table join, all dims broadcast."),
    ("window_order_stats", window_order_stats, ORACLE_WINDOW,
     "ROWS (row_number/lag/running-sum/avg) + RANGE (trailing-30-day) "
     "window frames, decimal-safe integer outputs."),
    ("window_rank_suite", window_rank_suite, ORACLE_WINDOW_RANKS,
     "Ranking/navigation window breadth: lead, rank, dense_rank, "
     "ntile, percent_rank, cume_dist, first_value, nth_value."),
    ("collection_functions", collection_functions, ORACLE_COLLECTION,
     "Array/map function library: sort_array, slice, element_at, "
     "exists, forall, array_distinct, map_from_entries, map_keys."),
    ("rollup_order_totals", rollup_order_totals, ORACLE_ROLLUP,
     "ROLLUP + GROUPING SETS with grouping_id, tagged union."),
    ("scalar_string_math", scalar_string_math, ORACLE_SCALAR,
     "String + math scalar function library."),
    ("scalar_datetime", scalar_datetime, ORACLE_DATETIME,
     "Date/time scalar functions."),
    ("semi_anti_customers", semi_anti_customers, ORACLE_SEMI_ANTI,
     "LeftSemi/LeftAnti joins (EXISTS/NOT EXISTS) + "
     "INTERSECT/UNION/EXCEPT composition, tagged union."),
    ("cube_lineitem", cube_lineitem, ORACLE_CUBE,
     "CUBE grouping sets."),
    ("distinct_agg_stats", distinct_agg_stats, ORACLE_DISTINCT_AGG,
     "Exact distinct aggregates alongside plain aggregates."),
    ("topk_per_group", topk_orders_per_priority, ORACLE_TOPK_PER_GROUP,
     "Top-3 orders per priority (rank-then-filter window pattern)."),
    ("percentile_order_values", percentile_order_values, ORACLE_PERCENTILES,
     "Exact percentiles (p50/p90/p99) per group."),
]
