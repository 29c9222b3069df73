"""Event-stream operators over the ``events`` fixture.

The reference has no streaming or temporal semantics at all
(SURVEY.md §2.1); these operators supply the batch forms, and
:mod:`grpc_map_reduce_spark.streaming` runs the same windowed
aggregation under Structured Streaming (same results, verified in
tests — the batch query here is the oracle-checkable twin).

Scale notes:
  * Tumbling-window aggregation is an ordinary groupBy on the
    window bucket — partial aggregation applies, shuffle volume is
    O(windows × types), independent of event count.
  * The as-of join uses the union + partitioned-sort trick (tag both
    streams, one window pass per user) instead of a per-key loop or
    range cross-join: one shuffle on ``user_id``, one sort — the
    standard scalable formulation for "latest left row ≤ right ts".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grpc_map_reduce_spark.functions.money import cents
from grpc_map_reduce_spark.sources.tables import spread, table
from grpc_map_reduce_spark.plans.checkpoint import pin

#: Window width and hop of the batch and streaming window aggregates.
WINDOW_WIDTH = "1 hour"
WINDOW_SLIDE = "30 minutes"


# --------------------------------------------------------------------------
def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """Per (hour, event_type): event count, value sum (exact integer
    cents — see functions.money), distinct users, and JSON-extracted
    per-window stats (avg/max of ``props.$.k``) — the windowed
    aggregation and the JSON scalar-function library in one plan.
    ``avg_k_bp`` is the mean of k in basis points as
    ``floor(sum·10⁴ / count)`` — exact int64 sum and count, one IEEE
    division, floor: bit-identical across engines (functions.money
    rationale; never hash a rounded double)."""
    # Project the JSON scalar ONCE: three aggregates reference k, and
    # each agg child would otherwise re-run get_json_object per row
    # (3 parses/row in the partial-agg stage).  spread(): the JSON
    # parse + partial agg run before the window shuffle, i.e. on the
    # scan's split count — one core on the fixture's single-row-group
    # file without it.
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        spread(events).withColumn("k", k)
        .groupBy(F.window("ts", WINDOW_WIDTH).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("total_value_cents"),
            F.countDistinct("user_id").alias("n_users"),
            F.floor(F.sum("k") * 10000 / F.count("k")).cast("long")
            .alias("avg_k_bp"),
            F.max("k").alias("max_k"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value_cents",
            "n_users",
            "avg_k_bp",
            "max_k",
        )
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_agg(table(spark, sf_dir, "events"))


# Spark's window('1 hour') buckets align to the epoch = date_trunc hour.
ORACLE_TUMBLING = """
SELECT
    date_trunc('hour', CAST(ts AS TIMESTAMP))                   AS window_start,
    date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
    event_type,
    count(*)                  AS n_events,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents,
    count(DISTINCT user_id)   AS n_users,
    CAST(floor(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) * 10000
               / count(CAST(json_extract_string(props, '$.k') AS BIGINT))) AS BIGINT)
                              AS avg_k_bp,
    max(CAST(json_extract_string(props, '$.k') AS BIGINT))      AS max_k
FROM events
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Batch sliding (hopping) windows: every event lands in
    width/slide = 2 overlapping windows.  Spark's ``window(ts, width,
    slide)`` explodes each row into its windows before the aggregate —
    shuffle volume is overlap× the tumbling case, which is the
    fundamental cost of sliding windows on any engine (the streaming
    twin in streaming/windows.py carries the same expression)."""
    return (
        spread(events).groupBy(F.window("ts", WINDOW_WIDTH, WINDOW_SLIDE).alias("w"),
                               "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("total_value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value_cents",
        )
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_agg(table(spark, sf_dir, "events"))


# DuckDB twin: explode each event into its two 30-min-aligned window
# starts (k = 0, 1); for a 1 h window every event is in exactly both.
ORACLE_SLIDING = """
WITH e AS (
    SELECT event_type, value,
           CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800)
                                  AS BIGINT) * 1800) AS TIMESTAMP) AS p0
    FROM events
),
x AS (
    SELECT event_type, value,
           p0 - to_minutes(30 * k) AS window_start
    FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
FROM x
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """For each ``left`` row, attach the most recent ``right`` row with
    ``right.ts <= left.ts`` for the same ``user_id`` (an as-of join).

    Implemented by unioning the two tagged streams and taking a
    running ``last(..., ignorenulls)`` over a single per-key ordered
    window — O(n log n) per key with one shuffle, no range cross-join.
    Ties (right row exactly at left.ts) match, like DuckDB ASOF JOIN.
    """
    r = right.select(
        "user_id",
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(F.col("ts").alias("r_ts"), F.col("value").alias("r_value")).alias("_r"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
    )
    l = left.select(
        "user_id",
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("struct<r_ts:timestamp,r_value:double>").alias("_r"),
        "event_id",
        "value",
    )
    # _side orders the right row before the left row at equal ts, so
    # "<=" semantics fall out of the running last().
    w = (
        Window.partitionBy("user_id")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        r.unionByName(l)
        .withColumn("_last_r", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("_ts").alias("ts"),
            "value",
            F.col("_last_r.r_ts").alias("matched_ts"),
            F.col("_last_r.r_value").alias("matched_value"),
        )
    )


def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined to the user's most recent click at or
    before it.  Clicks are first reduced to one row per (user, ts)
    (max event_id wins) so the as-of match is deterministic."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    wdedup = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks1 = (
        clicks.withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return asof_join(purchases, clicks1)


ORACLE_ASOF = """
WITH clicks1 AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
    ) WHERE rn = 1
),
purchases AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.ts AS matched_ts, c.value AS matched_value
FROM purchases p
ASOF LEFT JOIN clicks1 c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --------------------------------------------------------------------------
def sessionize(ev: DataFrame) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap, expressed as the
    classic gaps-and-islands window computation (works identically at
    any scale: one shuffle on user_id + one sort)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    with_new = ev.withColumn(
        "_new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = with_new.withColumn("session_seq", F.sum("_new_session").over(wrun))
    # session_value in exact integer cents (functions.money): round 1's
    # round(sum(double), 2) hash-failed on last-ulp round divergence.
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(cents("value")).alias("session_value_cents"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(table(spark, sf_dir, "events"))


ORACLE_SESSIONIZE = """
WITH flagged AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           CASE WHEN CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                     - lag(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT *, CAST(sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       count(*)             AS n_events,
       min(ts)              AS session_start,
       max(ts)              AS session_end,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_cents
FROM sessions
GROUP BY user_id, session_seq
"""


# --------------------------------------------------------------------------
def range_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Per ``left`` row: count + value-sum of same-``user_id`` ``right``
    rows in the window ``[left.ts - 15 min, left.ts]`` (a bounded range
    join).

    The equi-key makes this a shuffled hash/sort-merge join with
    the range predicate evaluated inside the matched key group — per-key
    fan-out is bounded by the lookback, so no cross-join blow-up.  For
    keys hot enough that a single key's rows overwhelm one task, bucket
    ``ts`` into lookback-sized bins and join on (key, bin) ∪ (key,
    bin−1) — same results, two narrow joins; not needed at fixture
    scale.
    """
    r = right.select(
        F.col("user_id").alias("_rk"),
        F.col("ts").alias("_rts"),
        F.col("value").alias("_rvalue"),
    )
    cond = (
        (F.col("user_id") == F.col("_rk"))
        & (F.col("_rts") >= F.col("ts") - F.expr("INTERVAL 900 SECONDS"))
        & (F.col("_rts") <= F.col("ts"))
    )
    return (
        left.join(r, cond, "left")
        .groupBy("event_id", "user_id", "ts", "value")
        .agg(
            F.count("_rts").alias("n_recent"),
            F.coalesce(F.sum(cents("_rvalue")), F.lit(0).cast("long"))
            .alias("recent_value_cents"),
        )
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase ← count/sum of the user's clicks in the preceding
    15 minutes (inclusive both ends)."""
    ev = table(spark, sf_dir, "events")
    return range_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )


ORACLE_RANGE_JOIN = """
SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, p.value,
       count(c.ts)                          AS n_recent,
       CAST(coalesce(sum(CAST(round(c.value * 100) AS BIGINT)), 0) AS BIGINT)
                                            AS recent_value_cents
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 15 MINUTE
 AND c.ts <= p.ts
GROUP BY p.event_id, p.user_id, p.ts, p.value
"""


# --------------------------------------------------------------------------
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's built-in ``session_window`` (gap =
    30 min) — the declarative twin of :func:`q_sessionize`; identical
    operator under Structured Streaming.  Window end = last event +
    gap, per session_window semantics."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("session_value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value_cents",
        )
    )


# Note ">= 1800": session_window assigns each event [ts, ts+gap) and
# merges on *overlap*, so a gap of exactly 30 min starts a new session
# (unlike q_sessionize's "> gap" islands convention above).  epoch()
# returns fractional seconds — keep the full precision for the diff.
ORACLE_SESSION_WINDOW = """
WITH flagged AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                     - lag(epoch(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800.0
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT *, CAST(sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id,
       min(ts)                             AS session_start,
       max(ts) + INTERVAL 30 MINUTE        AS session_end,
       count(*)                            AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_cents
FROM sessions
GROUP BY user_id, session_seq
"""


# --------------------------------------------------------------------------
# Cascading time rollup (minute → hour → day), the "continuous
# aggregate" / materialized-rollup pattern of time-series stores: the
# raw stream is aggregated ONCE at the finest grain, and every coarser
# grain re-aggregates the PRE-AGGREGATE, never the raw events.  At
# 100 TB that's the difference between one full scan plus two
# aggregations over O(minutes × types) rows and three full scans.
# Only mergeable aggregates cascade (count/sum/max here — a distinct
# count would need HLL sketches, see operators/sketches.py).
#
# The minute table is the natural materialization point (write it out
# partitioned by day, then serve hour/day queries from it); here the
# cascade runs in one plan, with the hour level lazily checkpointed
# because two consumers (the hour output and the day re-aggregate)
# would otherwise each recompute the chain.
def cascading_rollup(events: DataFrame) -> DataFrame:
    """Hour + day grains, both derived from a single minute-grain
    pre-aggregate → (grain, window_start, event_type, n_events,
    total_value_cents, max_value_cents)."""
    vc = cents("value")
    minute = events.groupBy(
        F.date_trunc("minute", "ts").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(vc).alias("total_value_cents"),
        F.max(vc).alias("max_value_cents"),
    )
    remerge = lambda df, grain: df.groupBy(
        F.date_trunc(grain, "w").alias("w"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_value_cents").alias("total_value_cents"),
        F.max("max_value_cents").alias("max_value_cents"),
    )
    hour = pin(remerge(minute, "hour"))
    day = remerge(hour, "day")
    out_cols = lambda df, grain: df.select(
        F.lit(grain).alias("grain"),
        F.col("w").alias("window_start"),
        "event_type",
        "n_events",
        "total_value_cents",
        "max_value_cents",
    )
    return out_cols(hour, "hour").unionByName(out_cols(day, "day"))


def q_cascading_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cascading_rollup(table(spark, sf_dir, "events"))


# DuckDB aggregates each grain straight from raw events — equal to the
# cascade because count/sum/max are associative.  date_trunc('day')
# returns DATE in DuckDB but TIMESTAMP in Spark → cast.
ORACLE_CASCADING_ROLLUP = """
WITH e AS (
    SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
           CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
)
SELECT 'hour' AS grain,
       date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(vc) AS BIGINT) AS total_value_cents,
       max(vc) AS max_value_cents
FROM e GROUP BY 2, 3
UNION ALL
SELECT 'day' AS grain,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(vc) AS BIGINT) AS total_value_cents,
       max(vc) AS max_value_cents
FROM e GROUP BY 2, 3
"""


# --------------------------------------------------------------------------
# Type-2 slowly-changing dimension build from an event log: each
# user's event stream is an append-only observation log of their
# "current activity kind"; the SCD2 build collapses consecutive
# identical observations and turns each run into a validity interval
# [valid_from, valid_to) with an is_current flag and a per-user
# version number — the standard warehouse shape for
# dimension-history tables (the reference engine has no temporal
# semantics at all, SURVEY.md §2.1; pure extension surface).
#
# Scale: one shuffle on user_id feeds every window below (the
# change-detection lag, the post-filter lead, and the version
# row_number all share the same partitioning+ordering, so Catalyst
# plans ONE Exchange and reuses the sort — asserted in
# test_plan_quality).  Shuffle volume is O(events), output is
# O(change points) ≤ O(events).  No global sort, no driver state.
def scd2_intervals(events: DataFrame) -> DataFrame:
    """Per user: validity intervals of ``event_type`` runs →
    (user_id, status, valid_from, valid_to, version, is_current,
    n_obs).  ``valid_to`` is NULL on each user's open interval."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type"))
    )
    runs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_chg", changed.cast("int"))
        .withColumn(
            "_run",
            F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    # event_type is constant within a run, so it can join the grouping
    # key (no nondeterministic first() needed)
    iv = (
        runs.groupBy("user_id", "_run", "event_type")
        .agg(
            F.min("ts").alias("valid_from"),
            F.count("*").alias("n_obs"),
        )
        .withColumnRenamed("event_type", "status")
    )
    wiv = Window.partitionBy("user_id").orderBy("_run")
    return iv.select(
        "user_id",
        "status",
        "valid_from",
        F.lead("valid_from").over(wiv).alias("valid_to"),
        F.col("_run").cast("long").alias("version"),
        F.lead("valid_from").over(wiv).isNull().alias("is_current"),
        "n_obs",
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_intervals(table(spark, sf_dir, "events"))


ORACLE_SCD2 = """
WITH obs AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT *, sum(chg) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
    FROM obs
),
iv AS (
    SELECT user_id, run, event_type AS status,
           min(ts) AS valid_from, count(*) AS n_obs
    FROM runs GROUP BY user_id, run, event_type
)
SELECT user_id, status, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       CAST(run AS BIGINT) AS version,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_obs
FROM iv
WINDOW w2 AS (PARTITION BY user_id ORDER BY run)
"""


# --------------------------------------------------------------------------
# Conversion funnel with STRICT step ordering: a user "converts" at
# step k only via an event strictly after their step-k−1 time — the
# event-analytics workhorse.  Each stage is a filtered min-aggregate
# chained through a join; every agg and join keys on user_id, so after
# the first shuffle the whole cascade is co-partitioned (one exchange
# of the events table per stage filter, tiny per-user tables after).
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(events: DataFrame) -> DataFrame:
    """(user_id, did_<step>...) — strict-order funnel completion flags
    for every user in the event log."""
    users = events.select("user_id").distinct()
    out = users
    prev_t = None
    for i, step in enumerate(FUNNEL_STEPS):
        ev = events.filter(F.col("event_type") == step)
        if prev_t is not None:
            ev = ev.join(prev_t, "user_id").filter(
                F.col("ts") > F.col("_prev")
            )
        cur = ev.groupBy("user_id").agg(F.min("ts").alias("_prev"))
        out = out.join(
            cur.select("user_id", F.lit(True).alias(f"did_{step}")),
            "user_id", "left",
        ).withColumn(f"did_{step}", F.coalesce(f"did_{step}", F.lit(False)))
        prev_t = cur
    return out


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(table(spark, sf_dir, "events"))


ORACLE_FUNNEL = """
WITH t1 AS (
    SELECT user_id, min(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
    SELECT e.user_id, min(e.ts) AS t FROM events e
    JOIN t1 ON e.user_id = t1.user_id
    WHERE e.event_type = 'click' AND e.ts > t1.t
    GROUP BY e.user_id
),
t3 AS (
    SELECT e.user_id, min(e.ts) AS t FROM events e
    JOIN t2 ON e.user_id = t2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > t2.t
    GROUP BY e.user_id
)
SELECT u.user_id,
       t1.user_id IS NOT NULL AS did_view,
       t2.user_id IS NOT NULL AS did_click,
       t3.user_id IS NOT NULL AS did_purchase
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN t1 ON u.user_id = t1.user_id
LEFT JOIN t2 ON u.user_id = t2.user_id
LEFT JOIN t3 ON u.user_id = t3.user_id
"""


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen day; for each (cohort,
# day-offset) cell, how many distinct cohort members were active.  One
# min-agg for cohorts (user-keyed), one join back, one distinct-count
# agg — every step keys on user_id or the small (cohort, offset) pair.
def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort_day, day_offset, n_active) retention matrix."""
    days = events.select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohorts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_retention(table(spark, sf_dir, "events"))


ORACLE_COHORT = """
WITH days AS (
    SELECT user_id, CAST(ts AS DATE) AS day FROM events
),
cohorts AS (
    SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
       count(DISTINCT d.user_id) AS n_active
FROM days d JOIN cohorts c ON d.user_id = c.user_id
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Malformed-record quarantine for JSON ingestion — the batch twin of
# every "bad records path" ingest contract: parse a JSON payload
# column against a strict schema, route unparseable rows to a counted
# quarantine instead of failing the job, and aggregate only the valid
# ones.  The fixture's props are all well-formed, so (same pattern as
# pii_redact) the query FABRICATES deterministic corruption — every
# (event_id % 7 == 0) row loses its closing brace — so the rejection
# path is actually exercised and hash-checked.  Corruption is by
# TRUNCATION, not suffixing: Spark's Jackson parser accepts trailing
# garbage after a complete value ('{"k":69}{' parses!) while DuckDB's
# json_valid does not — truncation is rejected identically by both.
#
# Map-only parse + one groupBy — scales like any ingest scrub.
JSONQ_CORRUPT_MOD = 7


def json_quarantine(events: DataFrame) -> DataFrame:
    raw = events.withColumn(
        "_raw",
        F.when(
            F.col("event_id") % JSONQ_CORRUPT_MOD == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    parsed = raw.withColumn("_k", F.from_json("_raw", "k bigint").getField("k"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("_k").isNotNull().cast("long")).alias("n_valid"),
        F.sum(F.col("_k").isNull().cast("long")).alias("n_quarantined"),
        F.sum(F.coalesce("_k", F.lit(0))).alias("sum_k_valid"),
    )


def q_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return json_quarantine(table(spark, sf_dir, "events"))


ORACLE_JSON_QUARANTINE = f"""
WITH raw AS (
    SELECT event_type,
           CASE WHEN event_id % {JSONQ_CORRUPT_MOD} = 0
                THEN substring(props, 1, length(props) - 1)
                ELSE props END AS r
    FROM events
),
parsed AS (
    SELECT event_type,
           CASE WHEN json_valid(r)
                THEN CAST(json_extract_string(r, '$.k') AS BIGINT)
                ELSE NULL END AS k
    FROM raw
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quarantined,
       CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k_valid
FROM parsed
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Event-type transition matrix: first-order Markov counts over each
# user's event sequence — the session-flow fingerprint (view→click
# vs view→error rates) behind funnel diagnosis and bot detection.
# One lag window co-partitioned on user_id (the same shuffle every
# per-user op here pays), then a 25-row aggregate; share in basis
# points of all transitions (integer division, hash-stable).
def transition_matrix(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    total = trans.agg(F.sum("n_transitions").alias("total"))
    return (
        trans.crossJoin(F.broadcast(total))
        .select(
            "from_type", "to_type", "n_transitions",
            F.expr("(n_transitions * 10000) DIV total").alias("share_bp"),
        )
    )


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transition_matrix(table(spark, sf_dir, "events"))


# The order-3 extension: top-k 3-step behavioral paths (sequence
# mining's frequent-path query).  Same single user_id window shuffle —
# two lags instead of one — then a tiny path aggregate and a global
# top-k, which is TakeOrdered (per-partition partial top-k), never a
# full sort.
PATH_TOP_K = 20


def top_event_paths(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        events.withColumn("p1", F.lag("event_type", 2).over(w))
        .withColumn("p2", F.lag("event_type", 1).over(w))
        .filter(F.col("p1").isNotNull())
        .select(
            F.concat_ws(">", "p1", "p2", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    return (
        paths.orderBy(F.col("n").desc(), "path")
        .limit(PATH_TOP_K)
        .select(
            "path", "n",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), "path")
            ).cast("long").alias("rank"),
        )
    )


def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_event_paths(table(spark, sf_dir, "events"))


ORACLE_TOP_PATHS = f"""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type, 2) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS p1,
           lag(event_type, 1) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS p2
    FROM events
),
paths AS (
    SELECT p1 || '>' || p2 || '>' || event_type AS path, count(*) AS n
    FROM seq WHERE p1 IS NOT NULL
    GROUP BY 1
)
SELECT path, n,
       CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
FROM paths
QUALIFY rank <= {PATH_TOP_K}
"""


# --------------------------------------------------------------------------
# Engagement: DAU / trailing-7-day WAU / stickiness — the activity
# dashboard every product runs.  The rolling DISTINCT count is the
# interesting shape: a window can sum but not count-distinct, so the
# WAU comes from the (day, user) DISTINCT pair table joined onto the
# day grid with a 0..6-day lag — volume is bounded by days × 7 ×
# active-users/day (the reduced pair table, never raw events), and
# the join key is the day, so nothing resembles a global sort.
def engagement_dau_wau(events: DataFrame) -> DataFrame:
    """(day, dau, wau, stickiness_bp): daily actives, trailing-7-day
    actives, and DAU/WAU in basis points.

    The WAU side EXPLODES each (day, user) pair into the 7 window-end
    days it contributes to and distinct-counts on an equi-shuffle — a
    day-grid range join would plan as a nested loop replicating the
    pair table once per grid day; the explode is a flat 7× of the
    reduced pair table instead."""
    day_user = pin(  # feeds DAU and the WAU explode
        events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    )
    dau = day_user.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    wau = (
        day_user.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
            "day", "user_id",
        )
        .select(F.date_add("day", F.col("off")).alias("day"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day", "dau", "wau",
            F.expr("(dau * 10000) DIV wau").alias("stickiness_bp"),
        )
    )


def q_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return engagement_dau_wau(table(spark, sf_dir, "events"))


ORACLE_ENGAGEMENT = """
WITH day_user AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day, count(DISTINCT user_id) AS dau FROM day_user GROUP BY day
),
wau AS (
    SELECT d.day, count(DISTINCT p.user_id) AS wau
    FROM (SELECT DISTINCT day FROM day_user) d
    JOIN day_user p ON p.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
)
SELECT day,
       CAST(dau AS BIGINT) AS dau,
       CAST(wau AS BIGINT) AS wau,
       CAST((dau * 10000) // wau AS BIGINT) AS stickiness_bp
FROM dau JOIN wau USING (day)
"""


# --------------------------------------------------------------------------
# Marketing attribution — per conversion ('purchase'), which earlier
# touchpoint ('click'/'view') gets the credit: the FIRST touch in the
# user's history and the LAST touch before the conversion.  The result
# is the (first_touch, last_touch) attribution matrix with conversion
# counts and exact-cents revenue — the query every growth dashboard
# runs.  Plan: ONE shuffle on user_id; both touches come from the same
# ignoreNulls first/last window over the interleaved event stream
# (no purchases×touches join, which is the naive quadratic shape);
# 'none' rows count conversions with no preceding touchpoint.
TOUCH_TYPES = ("click", "view")
CONVERSION_TYPE = "purchase"


def attribution_matrix(events: DataFrame) -> DataFrame:
    touch = F.when(
        F.col("event_type").isin(*TOUCH_TYPES), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = (
        events.withColumn("first_touch", F.first(touch, ignorenulls=True).over(w))
        .withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == CONVERSION_TYPE)
    )
    return (
        tagged.groupBy(
            F.coalesce("first_touch", F.lit("none")).alias("first_touch"),
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum(cents("value")).alias("revenue_cents"),
        )
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution_matrix(table(spark, sf_dir, "events"))


ORACLE_ATTRIBUTION = """
WITH tagged AS (
    SELECT event_type, value,
           first_value(CASE WHEN event_type IN ('click', 'view')
                            THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch,
           last_value(CASE WHEN event_type IN ('click', 'view')
                           THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
    FROM events
)
SELECT coalesce(first_touch, 'none') AS first_touch,
       coalesce(last_touch, 'none')  AS last_touch,
       count(*) AS n_conversions,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM tagged
WHERE event_type = 'purchase'
GROUP BY 1, 2
"""


ORACLE_TRANSITIONS = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS from_type
    FROM events
),
trans AS (
    SELECT from_type, event_type AS to_type, count(*) AS n_transitions
    FROM seq WHERE from_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       CAST((n_transitions * 10000)
            // (SELECT sum(n_transitions) FROM trans) AS BIGINT) AS share_bp
FROM trans
"""


QUERIES = [
    ("events_engagement", q_engagement, ORACLE_ENGAGEMENT,
     "DAU / trailing-7-day WAU / stickiness dashboard — the rolling "
     "distinct count via a bounded day-grid lag join over the reduced "
     "(day, user) pair table."),
    ("events_attribution", q_attribution, ORACLE_ATTRIBUTION,
     "First/last-touch conversion attribution matrix with exact-cents "
     "revenue — one user_id window over the interleaved stream, no "
     "purchases-by-touches join."),
    ("events_transition_matrix", q_transition_matrix, ORACLE_TRANSITIONS,
     "First-order Markov event-type transition counts per user "
     "sequence (one lag window + 25-row aggregate)."),
    ("events_top_paths", q_top_event_paths, ORACLE_TOP_PATHS,
     "Top-k 3-step behavioral paths (double-lag window, partial "
     "top-k — no global sort)."),
    ("events_json_quarantine", q_json_quarantine, ORACLE_JSON_QUARANTINE,
     "Malformed-JSON ingest quarantine: strict-schema parse, counted "
     "rejects, aggregate over valid rows only (map-only + one agg)."),
    ("events_cohort_retention", q_cohort_retention, ORACLE_COHORT,
     "Cohort retention matrix: first-seen day x day offset x distinct "
     "active users."),
    ("events_funnel", q_funnel, ORACLE_FUNNEL,
     "Strict-order conversion funnel (view -> click -> purchase), "
     "chained filtered min-aggregates co-partitioned on user_id."),
    ("events_tumbling_window", q_tumbling_window, ORACLE_TUMBLING,
     "Tumbling 1h window aggregation + JSON props extraction "
     "(batch twin of the streaming op)."),
    ("events_sliding_window", q_sliding_window, ORACLE_SLIDING,
     "Sliding 1h/30min window aggregation (each event in 2 windows)."),
    ("events_range_join", q_range_join, ORACLE_RANGE_JOIN,
     "Bounded range join: purchases ← clicks within a 15-min lookback."),
    ("events_session_window", q_session_window, ORACLE_SESSION_WINDOW,
     "Built-in session_window sessionization (30-min gap)."),
    ("events_asof_join", q_asof_purchase_click, ORACLE_ASOF,
     "As-of join: each purchase ← most recent click ≤ ts, per user."),
    ("events_sessionize", q_sessionize, ORACLE_SESSIONIZE,
     "30-min-gap sessionization (gaps-and-islands windows)."),
    ("events_cascading_rollup", q_cascading_rollup, ORACLE_CASCADING_ROLLUP,
     "Minute->hour->day cascading rollup: coarse grains re-aggregate "
     "the fine-grain pre-aggregate, one raw scan total."),
    ("events_scd2", q_scd2_intervals, ORACLE_SCD2,
     "Type-2 SCD build: collapse each user's consecutive equal "
     "observations into validity intervals with version + is_current."),
]
