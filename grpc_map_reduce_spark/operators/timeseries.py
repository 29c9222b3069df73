"""Time-series resampling and anomaly detection over the ``events``
fixture.

The reference engine has no temporal semantics at all (SURVEY.md
§2.1 explicit negatives); these extend the events family
(:mod:`.events`) with two shapes every production event pipeline
needs:

  * **gap fill / resample** — regularize an irregular event stream
    onto a fixed per-key grid (here: hourly), filling silent periods
    with zeros and carrying the last observed value forward.  The
    classic formulation (per-key ``sequence`` explode + left join +
    ``last IGNORE NULLS`` window) costs one shuffle for the hourly
    pre-aggregate, one co-partitioned join, and one per-key window —
    grid size is bounded by key-count × key-span, never by raw event
    count, so the plan is scale-stable.
  * **z-score anomaly detection** — flag events more than 3
    population standard deviations from their type's mean.  All
    arithmetic stays in exact integers: with per-type count ``n``,
    cent-sum ``S`` and cent-square-sum ``Q``, the predicate
    ``|x − μ| > 3σ`` is equivalently ``(n·x − S)² > 9·(n·Q − S²)``
    — no division, no square root, no float: both engines evaluate
    it bit-identically (functions.money rationale: never hash — or
    branch on — a rounded double).  Spark carries the sums as
    ``decimal(38,0)`` (exact to 10³⁸, enough for cents² sums past
    10¹⁵ rows per type); DuckDB's ``sum(BIGINT)`` is HUGEINT and
    exact by default.

Scale notes (100 TB): the per-type stats table is
``O(|event_type|)`` rows — broadcast back to the fact scan, so the
anomaly pass is one shuffle-free aggregate plus one map-side join.
Gap fill shuffles once on the key; a hot key with a years-long span
produces a large-but-bounded grid (span-hours rows), which is the
inherent output size of resampling, not a plan defect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.money import cents
from grpc_map_reduce_spark.sources.tables import table

#: Deterministic key subset for the registered gap-fill query — keeps
#: the materialized grid ~20k rows at sf0.01 while exercising the full
#: plan (the operator itself takes any DataFrame).
GAP_FILL_USER_MOD = 5


# --------------------------------------------------------------------------
def gap_fill_hourly(events: DataFrame) -> DataFrame:
    """Per-user hourly resample: one row for EVERY hour between the
    user's first and last event, with zero-filled activity and the
    last non-silent hour's value total carried forward."""
    hourly = (
        events.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("hour_value_cents"),
        )
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = grid.join(hourly, ["user_id", "hour"], "left")
    wcarry = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hour",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("hour_value_cents", F.lit(0)).cast("long")
        .alias("hour_value_cents"),
        F.coalesce(
            F.last("hour_value_cents", ignorenulls=True).over(wcarry), F.lit(0)
        ).cast("long").alias("carried_value_cents"),
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(
        F.col("user_id") % GAP_FILL_USER_MOD == 0
    )
    return gap_fill_hourly(ev)


ORACLE_GAP_FILL = f"""
WITH ev AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE user_id % {GAP_FILL_USER_MOD} = 0
),
hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS hour,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS hour_value_cents
    FROM ev GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
),
grid AS (
    SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
    FROM bounds
)
SELECT g.user_id, g.hour,
       CAST(coalesce(h.n_events, 0) AS BIGINT)         AS n_events,
       CAST(coalesce(h.hour_value_cents, 0) AS BIGINT) AS hour_value_cents,
       CAST(coalesce(last_value(h.hour_value_cents IGNORE NULLS) OVER (
            PARTITION BY g.user_id ORDER BY g.hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT)
           AS carried_value_cents
FROM grid g LEFT JOIN hourly h
  ON g.user_id = h.user_id AND g.hour = h.hour
"""


# --------------------------------------------------------------------------
def anomaly_zscore(events: DataFrame) -> DataFrame:
    """Events more than 3 population standard deviations from
    their event_type's mean value — evaluated in exact integer
    arithmetic (module docstring) so the cut is bit-identical across
    engines and scales without a float-equality hazard."""
    c = cents("value").cast("decimal(38,0)")
    stats = events.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("_n"),
        F.sum(c).alias("_s"),
        F.sum(c * c).alias("_q"),
    )
    ev = events.select(
        "event_id", "event_type", cents("value").alias("value_cents")
    )
    x = F.col("value_cents").cast("decimal(38,0)")
    lhs = (F.col("_n") * x - F.col("_s")) * (F.col("_n") * x - F.col("_s"))
    rhs = (
        F.lit(9).cast("decimal(38,0)")  # 3 sigma, squared
        * (F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s"))
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where((F.col("_n") > 1) & (lhs > rhs))
        .select(
            "event_id",
            "event_type",
            "value_cents",
            F.col("_n").cast("long").alias("type_n"),
        )
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anomaly_zscore(table(spark, sf_dir, "events"))


ORACLE_ANOMALY = """
WITH ev AS (
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events
),
stats AS (
    SELECT event_type, count(*) AS n,
           sum(value_cents) AS s,
           sum(value_cents * value_cents) AS q
    FROM ev GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value_cents,
       CAST(s.n AS BIGINT) AS type_n
FROM ev e JOIN stats s USING (event_type)
WHERE s.n > 1
  AND (s.n * e.value_cents - s.s) * (s.n * e.value_cents - s.s)
      > 9 * (s.n * s.q - s.s * s.s)
"""


# --------------------------------------------------------------------------
# Peak concurrency — "how many sessions were active at once, per
# hour": every event opens a CONC_WINDOW_S activity interval; the
# answer is the max of the +1/−1 sweep-line running sum inside each
# hour.  A global running sum is the textbook single-partition trap
# (ORDER BY over the whole stream); this is the TWO-PHASE DISTRIBUTED
# PREFIX SUM instead: (1) within-hour running sums — shuffle keyed on
# the hour, each hour scanned independently; (2) an hour-level
# exclusive prefix of the per-hour NET deltas — a window over the
# hour-domain table, which is bounded by the time span (8.8k rows per
# year at 100 TB — genuinely tiny, the documented value-domain-window
# class); (3) peak(hour) = carry + max(within-hour running).  Within
# an (ts, delta) tie group all deltas are equal, so the per-hour max
# is invariant to row order inside ties — deterministic without a
# global total order.
CONC_WINDOW_S = 300


def peak_concurrency(events: DataFrame) -> DataFrame:
    """(hour, peak_concurrency, n_starts) — max simultaneously-active
    event windows during each hour."""
    start = events.select(F.col("ts").alias("t"), F.lit(1).alias("delta"))
    end = events.select(
        (F.col("ts") + F.expr(f"INTERVAL {CONC_WINDOW_S} SECONDS")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    deltas = start.unionByName(end).withColumn(
        "hour", F.date_trunc("hour", "t")
    )
    # ends sort before starts at the same instant: [t, t+w) intervals
    wh = (
        Window.partitionBy("hour")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = deltas.withColumn("run", F.sum("delta").over(wh))
    per_hour = run.groupBy("hour").agg(
        F.max("run").alias("max_run"),
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long").alias("n_starts"),
    )
    wp = Window.orderBy("hour").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        per_hour.withColumn(
            "carry", F.coalesce(F.sum("net").over(wp), F.lit(0))
        )
        .select(
            "hour",
            (F.col("carry") + F.col("max_run")).cast("long")
            .alias("peak_concurrency"),
            "n_starts",
        )
    )


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from grpc_map_reduce_spark.sources.tables import table

    return peak_concurrency(table(spark, sf_dir, "events"))


ORACLE_PEAK_CONCURRENCY = f"""
WITH deltas AS (
    SELECT ts AS t, 1 AS delta FROM events
    UNION ALL
    SELECT ts + INTERVAL {CONC_WINDOW_S} SECOND AS t, -1 AS delta FROM events
),
hourly AS (
    SELECT date_trunc('hour', t) AS hour, t, delta,
           sum(delta) OVER (PARTITION BY date_trunc('hour', t)
                            ORDER BY t, delta
                            ROWS UNBOUNDED PRECEDING) AS run
    FROM deltas
),
per_hour AS (
    SELECT hour, max(run) AS max_run, sum(delta) AS net,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_starts
    FROM hourly GROUP BY hour
)
SELECT hour,
       CAST(coalesce(sum(net) OVER (ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + max_run AS BIGINT) AS peak_concurrency,
       n_starts
FROM per_hour
"""


QUERIES = [
    ("events_peak_concurrency", q_peak_concurrency, ORACLE_PEAK_CONCURRENCY,
     "Peak concurrent activity windows per hour via a two-phase "
     "distributed prefix sum (within-hour sweep + hour-domain carry) "
     "— the global running sum without a single-partition sort."),
    ("events_gap_fill", q_gap_fill, ORACLE_GAP_FILL,
     "Per-user hourly gap-fill resample: sequence-explode grid, "
     "zero fill, last-observation-carried-forward window."),
    ("events_anomaly_zscore", q_anomaly_zscore, ORACLE_ANOMALY,
     "3-sigma per-type outlier events via exact integer arithmetic "
     "((n*x-S)^2 > 9(nQ-S^2)) — no float compare, broadcast stats."),
]
