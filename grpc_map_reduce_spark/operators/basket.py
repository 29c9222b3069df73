"""Market-basket association rules over lineitem — frequent part
pairs with support, confidence, and lift.

The apriori-style frequent-pair query every retail/recs pipeline runs
(reference scope: the generic map/shuffle/reduce surface of
main.go:82 — pair generation is a flatMap, support counting a keyed
reduce).  Scale shape, in order:

* **Apriori pass 1 prunes before pair generation.**  Items below
  ``MIN_ITEM_SUPPORT`` can never form a frequent pair, so the
  per-item counts gate the basket stream FIRST — pair generation's
  input shrinks by the infrequent-item mass (the classic candidate
  cut that makes pair mining feasible at all).
* **The item-count gate broadcasts.**  Per-item counts are bounded
  by the part CATALOG (dimension-sized — millions at worst), never
  by basket volume, so the probe is a broadcast hash join against
  the fact stream; the corpus never shuffles for the gate.
* **Pairs are enumerated inside each basket's sorted array** by the
  shared pair kernel ``dedup.bucket_pairs``: one groupBy collects
  each order's gated (part, count) structs, and posexplode+slice
  emits the C(k,2) ordered pairs in-task.  A self-join would exchange
  the gated stream twice and sort both sides; this exchanges it once
  and joins nothing.  Pair
  blow-up is bounded by basket size squared — baskets are small by
  domain (TPC-H ~4 distinct parts/order), the same bounded-wedge
  argument as ``clustering.dedup_triangles``.
* **All rule metrics are exact integers.**  confidence and lift in
  basis points via int64 cross-multiplication (``pair_n * 10000 DIV
  n_a``; ``pair_n * n_orders * 10000 DIV (n_a * n_b)``) — no double
  division to hash-diverge across engines.  The order total rides in
  on a broadcast 1-row cross join (the q11 broadcast-scalar
  pattern), never a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.dedup import bucket_pairs
from grpc_map_reduce_spark.sources.tables import table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: Apriori pass-1 gate: parts in fewer baskets can never reach
#: MIN_PAIR_SUPPORT, and the cut keeps the pair kernel's input dense.
MIN_ITEM_SUPPORT = 10

#: Emit only pairs co-ordered at least this often.
MIN_PAIR_SUPPORT = 2


def market_basket(li: DataFrame,
                  min_item: int = MIN_ITEM_SUPPORT,
                  min_pair: int = MIN_PAIR_SUPPORT) -> DataFrame:
    """(part_a, part_b, pair_n, n_a, n_b, conf_a2b_bp, conf_b2a_bp,
    lift_bp) for every frequent unordered part pair."""
    # pinned: the basket set feeds THREE consumers (item counts, the
    # gated stream, the order total) — without the checkpoint its
    # distinct shuffle re-executes per consumer.
    items = pin(li.select("l_orderkey", "l_partkey").distinct())
    item_n = items.groupBy("l_partkey").agg(F.count("*").alias("item_n"))
    freq = item_n.filter(F.col("item_n") >= min_item)
    # Basket-array pair generation: each order is one bucket of the
    # shared pair kernel, its members the gated (part, count) structs
    # (part keys are unique within an order, so the struct ordering is
    # the part ordering and part_a < part_b by construction; n_a/n_b
    # ride in the structs, no join back).  The gated stream is
    # traversed once, so it needs no repartition or pin.
    gated = items.join(F.broadcast(freq), "l_partkey")
    pair_n = (
        bucket_pairs(gated, ["l_orderkey"], F.struct("l_partkey", "item_n"))
        # n_a/n_b are functionally dependent on the part keys — riding
        # them through the grouping keys avoids a join back to item_n.
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
            F.col("a.item_n").alias("n_a"),
            F.col("b.item_n").alias("n_b"),
        )
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair)
    )
    totals = items.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    return (
        pair_n.crossJoin(F.broadcast(totals))
        .select(
            "part_a", "part_b", "pair_n", "n_a", "n_b",
            # confidence stays int64: pair_n ≤ n_a, so pair_n·10⁴ is
            # bounded by 10⁴·item support — safe at any corpus size
            F.expr("(pair_n * 10000) DIV n_a").alias("conf_a2b_bp"),
            F.expr("(pair_n * 10000) DIV n_b").alias("conf_b2a_bp"),
            # lift multiplies THREE large counts — int64 wraps silently
            # (non-ANSI) once pair_n·n_orders·10⁴ passes 9.2e18, which a
            # hot pair hits around 1e7 support × 1e8 orders; DECIMAL(38,0)
            # keeps it exact (HUGEINT in the oracle), `div` returns long
            F.expr(
                "(CAST(pair_n AS DECIMAL(38,0)) * n_orders * 10000) div "
                "(CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ).alias("lift_bp"),
        )
    )


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_basket(table(spark, sf_dir, "lineitem"))


ORACLE_MARKET_BASKET = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
item_n AS (
    SELECT l_partkey, count(*) AS item_n FROM items GROUP BY l_partkey
),
gated AS (
    SELECT i.l_orderkey, i.l_partkey, n.item_n
    FROM items i JOIN item_n n USING (l_partkey)
    WHERE n.item_n >= {MIN_ITEM_SUPPORT}
),
pair_n AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS pair_n,
           a.item_n  AS n_a,      b.item_n  AS n_b
    FROM gated a JOIN gated b USING (l_orderkey)
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2, 4, 5
    HAVING count(*) >= {MIN_PAIR_SUPPORT}
),
totals AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items)
SELECT part_a, part_b,
       CAST(pair_n AS BIGINT) AS pair_n,
       CAST(n_a AS BIGINT)    AS n_a,
       CAST(n_b AS BIGINT)    AS n_b,
       CAST((pair_n * 10000) // n_a AS BIGINT) AS conf_a2b_bp,
       CAST((pair_n * 10000) // n_b AS BIGINT) AS conf_b2a_bp,
       CAST((CAST(pair_n AS HUGEINT) * n_orders * 10000)
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS lift_bp
FROM pair_n, totals
"""


QUERIES = [
    ("orders_market_basket", q_market_basket, ORACLE_MARKET_BASKET,
     "Apriori-pruned frequent part-pair mining with integer-exact "
     "confidence and lift (broadcast item gate, pairs enumerated "
     "in-task per basket with one shuffle and no self-join)."),
]
