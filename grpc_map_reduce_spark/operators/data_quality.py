"""Data-quality expectations + join-key skew profiling — the two
reports every large-scale pipeline runs before trusting a new data
drop (extension E5 posture: know your keys before you shuffle on
them).

``dq_expectations`` is the dbt/Great-Expectations shape reduced to
one DataFrame: each rule contributes (rule, n_checked, n_violations,
passed), and rules compose as a union of small aggregates —
referential integrity via anti-join counts (at 100 TB these are the
same keyed shuffles the real joins will run, so violations surface
*before* the expensive query does), uniqueness via count vs distinct,
null-rate and range checks as map-side conditional sums.

``skew_profile`` measures the key distributions that decide whether
those shuffles are safe: per join key, the distinct-key count, the
hottest key's row count, and the hot-key skew factor
(max/mean, ×1000) — the number that says "salt this join" (the
operators/skew.py remedies) before AQE discovers it at runtime.

The reference engine has neither (its input is a fixed text folder);
both are pure extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.sketches import _md5_long
from grpc_map_reduce_spark.sources.tables import spread, table
from grpc_map_reduce_spark.plans.checkpoint import pin


def _rule(df: DataFrame, rule: str, violation_col) -> DataFrame:
    """(rule, n_checked, n_violations, passed) from one aggregate."""
    return df.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(violation_col, 1).otherwise(0)).cast("long")
        .alias("n_violations"),
    ).withColumn("passed", F.col("n_violations") == 0)


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop-gate report: one row per expectation."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    events = table(spark, sf_dir, "events")

    # FK checks: count rows whose key has no match — left join +
    # null-probe so the count of CHECKED rows stays the child table's
    # row count (an anti-join would lose it).  The dimension side
    # ships as a broadcast/bloom the same way the real join would.
    fk_orders = _rule(
        orders.join(
            customer.select(F.col("c_custkey").alias("_ck"), F.lit(1).alias("_hit")),
            orders["o_custkey"] == F.col("_ck"),
            "left",
        ),
        "orders.o_custkey -> customer",
        F.col("_hit").isNull(),
    )
    fk_lineitem = _rule(
        lineitem.select("l_orderkey").join(
            orders.select(F.col("o_orderkey").alias("_ok"), F.lit(1).alias("_hit")),
            lineitem["l_orderkey"] == F.col("_ok"),
            "left",
        ),
        "lineitem.l_orderkey -> orders",
        F.col("_hit").isNull(),
    )
    # uniqueness: every extra copy of a key is one violation
    uniq = customer.agg(
        F.lit("customer.c_custkey unique").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).cast("long")
        .alias("n_violations"),
    ).withColumn("passed", F.col("n_violations") == 0)
    nulls = _rule(events, "events.user_id not null", F.col("user_id").isNull())
    rng = _rule(
        lineitem,
        "lineitem.l_quantity in [1, 50]",
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    dates = _rule(
        orders,
        "orders.o_orderdate not null",
        F.col("o_orderdate").isNull(),
    )
    out = fk_orders
    for part in (fk_lineitem, uniq, nulls, rng, dates):
        out = out.unionByName(part)
    return out


ORACLE_DQ = """
SELECT 'orders.o_custkey -> customer' AS rule,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN c._ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN c._ck IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders o LEFT JOIN (SELECT c_custkey AS _ck FROM customer) c
     ON o.o_custkey = c._ck
UNION ALL
SELECT 'lineitem.l_orderkey -> orders',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN oo._ok IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN oo._ok IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem l LEFT JOIN (SELECT o_orderkey AS _ok FROM orders) oo
     ON l.l_orderkey = oo._ok
UNION ALL
SELECT 'customer.c_custkey unique',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
       count(*) = count(DISTINCT c_custkey)
FROM customer
UNION ALL
SELECT 'events.user_id not null',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'lineitem.l_quantity in [1, 50]',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'orders.o_orderdate not null',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
"""


# --------------------------------------------------------------------------
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per join key: rows, distinct keys, hottest-key count, and the
    skew factor (hottest/mean, ×1000) that decides salting."""

    def one(df: DataFrame, tbl: str, key: str) -> DataFrame:
        per_key = df.groupBy(F.col(key).alias("k")).agg(
            F.count("*").alias("cnt")
        )
        return per_key.agg(
            F.lit(tbl).alias("table_name"),
            F.lit(key).alias("key_name"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_key_rows"),
        ).withColumn(
            "skew_x1000",
            F.expr("(max_key_rows * n_keys * 1000) DIV n_rows"),
        )

    parts = [
        one(table(spark, sf_dir, "orders"), "orders", "o_custkey"),
        one(table(spark, sf_dir, "lineitem"), "lineitem", "l_orderkey"),
        one(table(spark, sf_dir, "lineitem"), "lineitem", "l_partkey"),
        one(table(spark, sf_dir, "events"), "events", "user_id"),
        one(table(spark, sf_dir, "events"), "events", "event_type"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _skew_oracle() -> str:
    selects = []
    for tbl, key in [("orders", "o_custkey"), ("lineitem", "l_orderkey"),
                     ("lineitem", "l_partkey"), ("events", "user_id"),
                     ("events", "event_type")]:
        selects.append(f"""
SELECT '{tbl}' AS table_name, '{key}' AS key_name,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(cnt) AS BIGINT) AS max_key_rows,
       CAST((max(cnt) * count(*) * 1000) // sum(cnt) AS BIGINT) AS skew_x1000
FROM (SELECT {key} AS k, count(*) AS cnt FROM {tbl} GROUP BY {key})""")
    return "\nUNION ALL\n".join(selects)


ORACLE_SKEW_PROFILE = _skew_oracle()


# --------------------------------------------------------------------------
# Blocked fuzzy entity matching — the record-linkage primitive: find
# same-entity candidates whose keys differ by typos.  The quadratic
# is bounded by BLOCKING (pairs form only within a blocking key; here
# c_nationkey), the standard entity-resolution shape — at 100 TB the
# block key grows more selective (nation × name prefix, or a
# sorted-neighborhood window) but the plan is the same bounded
# self-join.  Levenshtein is exact and identically defined in both
# engines, so the output is hash-checkable.
FUZZY_MAX_DIST = 2


def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    # The broadcast block join evaluates levenshtein on every
    # within-block pair ON THE STREAM SIDE's partitions — and a
    # dimension-sized parquet arrives as ONE scan partition, which
    # serializes the O(block²) probe work onto a single core
    # (measured: 6.4 s single-core vs ~0.4 s spread at sf0.1).
    # ``spread`` round-robins the tiny probe side (one 15k-row
    # shuffle) and is a no-op once the scan itself carries enough
    # splits — the probe side's partition count, not the build
    # side's, is the parallelism of a broadcast join.
    a = spread(cust).select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
    )
    b = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
    )
    # Thresholded levenshtein (banded DP, early exit — returns -1 past
    # the bound): O(d·n) per pair instead of O(n²), the difference
    # between a usable and an unusable block size at scale.
    return (
        a.join(b, ["nk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "dist",
            F.levenshtein("name_a", "name_b", FUZZY_MAX_DIST).cast("long"),
        )
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


ORACLE_FUZZY = f"""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {FUZZY_MAX_DIST}
"""


# --------------------------------------------------------------------------
# CDC snapshot diff — the change-data-capture primitive: given two
# snapshots of a keyed table, emit exactly the insert/update/delete
# set (unchanged rows excluded).  This is the reconciliation every
# incremental pipeline runs between a warehouse table and a fresh
# extract, and the input half of MERGE (sources/layout.py applies
# changes; this op DERIVES them).
#
# The fixture has one orders table, so the two snapshots are carved
# deterministically from it by md5 bucket of the key (the hash_split
# convention): bucket 0-4 exists only in v1 (⇒ deletes), 95-99 only
# in v2 (⇒ inserts), 40-59 changes price by +5% in v2 (⇒ updates),
# everything else is identical and must NOT appear in the output.
#
# Scale: one pruned scan feeding two filter branches, one full-outer
# join keyed on the PK — the exact plan a real snapshot-vs-snapshot
# diff runs (two scans, one co-partitioned join).  Absent-side prices
# are encoded 0 (nullable ints decay to float64 in the driver's
# pandas canonicalization).
SNAP_DELETE_PCT = 5    # buckets [0, 5)   → v1 only
SNAP_INSERT_PCT = 95   # buckets [95,100) → v2 only
SNAP_UPDATE_LO, SNAP_UPDATE_HI = 40, 60


def _key_bucket(col) -> F.Column:
    return _md5_long(col.cast("string")) % 100


def snapshot_diff(orders: DataFrame) -> DataFrame:
    """(o_orderkey, change_type, old_price_cents, new_price_cents)."""
    from grpc_map_reduce_spark.functions.money import cents

    base = orders.select(
        "o_orderkey",
        cents("o_totalprice").alias("pc"),
        _key_bucket(F.col("o_orderkey")).alias("bk"),
    )
    v1 = base.filter(F.col("bk") < SNAP_INSERT_PCT).select(
        "o_orderkey", F.col("pc").alias("old_price_cents")
    )
    v2 = base.filter(F.col("bk") >= SNAP_DELETE_PCT).select(
        "o_orderkey",
        F.when(
            (F.col("bk") >= SNAP_UPDATE_LO) & (F.col("bk") < SNAP_UPDATE_HI),
            F.expr("pc * 105 DIV 100"),
        ).otherwise(F.col("pc")).alias("new_price_cents"),
    )
    j = v1.join(v2, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("old_price_cents").isNull(), F.lit("insert"))
        .when(F.col("new_price_cents").isNull(), F.lit("delete"))
        .when(
            F.col("old_price_cents") != F.col("new_price_cents"),
            F.lit("update"),
        )
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            "o_orderkey",
            "change_type",
            F.coalesce("old_price_cents", F.lit(0)).alias("old_price_cents"),
            F.coalesce("new_price_cents", F.lit(0)).alias("new_price_cents"),
        )
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return snapshot_diff(table(spark, sf_dir, "orders"))


ORACLE_SNAPSHOT_DIFF = f"""
WITH base AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
           (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               % 100) AS bk
    FROM orders
),
v1 AS (
    SELECT o_orderkey, pc AS old_price_cents FROM base
    WHERE bk < {SNAP_INSERT_PCT}
),
v2 AS (
    SELECT o_orderkey,
           CASE WHEN bk >= {SNAP_UPDATE_LO} AND bk < {SNAP_UPDATE_HI}
                THEN pc * 105 // 100 ELSE pc END AS new_price_cents
    FROM base WHERE bk >= {SNAP_DELETE_PCT}
),
j AS (
    SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           v1.old_price_cents, v2.new_price_cents
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN old_price_cents IS NULL THEN 'insert'
            WHEN new_price_cents IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       CAST(coalesce(old_price_cents, 0) AS BIGINT) AS old_price_cents,
       CAST(coalesce(new_price_cents, 0) AS BIGINT) AS new_price_cents
FROM j
WHERE old_price_cents IS NULL OR new_price_cents IS NULL
   OR old_price_cents <> new_price_cents
"""


# --------------------------------------------------------------------------
# Exact ROC-AUC of the quality score against the lang=='en' label —
# the eval metric behind every learned quality filter (fastText /
# DCLM-style classifiers): does the cheap heuristic score actually
# rank English docs above the rest, per source?
#
# Exact AUC needs rank statistics, and ranks usually mean a global
# sort.  This formulation never sorts the corpus: quality_bp lives in
# a BOUNDED domain (0..10000 basis points), so the Mann-Whitney U
# statistic folds over the per-(source, score) HISTOGRAM — one
# map-only scoring pass, one keyed aggregate corpus-side, then a
# window over ≤10k histogram rows per source (each positive beats
# every lower-scored negative + half its score-ties; doubled units
# keep the halves integral).  Overflow discipline: the doubled U sums
# in int64 (u2 ≤ 2·NP·NN, safe to NP·NN ≤ 4.6e18 ≈ 2e9 docs per
# class); the final ×10⁴ scale-up would wrap int64 already at
# NP·NN ≈ 4.6e14 (~2e7 per class), so it runs in DECIMAL(38,0) on
# Spark and HUGEINT in the oracle — both exact, neither wraps.
def quality_auc(docs: DataFrame) -> DataFrame:
    """(source, n_pos, n_neg, auc_bp): exact per-source Mann-Whitney
    AUC of quality_bp for the lang=='en' label, in basis points.
    Sources with a single class are dropped (AUC undefined)."""
    from pyspark.sql import Window

    from grpc_map_reduce_spark.operators.text_analysis import quality_scores

    scored = (
        quality_scores(docs, keep=("source",))
        # zero-word docs score null — unrankable, and Spark (NULLS
        # FIRST) and DuckDB (NULLS LAST) would order them differently
        # in the cumulative window, so exclude them in BOTH engines
        .filter(F.col("quality_bp").isNotNull())
        .select(
            "source", "quality_bp",
            (F.col("lang") == "en").cast("long").alias("pos"),
        )
    )
    hist = scored.groupBy("source", "quality_bp").agg(
        F.count("*").alias("n"), F.sum("pos").alias("n_pos")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("quality_bp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    neg_b = F.col("n") - F.col("n_pos")
    cum_neg = F.coalesce(F.sum(neg_b).over(w), F.lit(0))
    # doubled U contribution: each positive in the bucket beats all
    # negatives strictly below + half the tied negatives
    u2 = (F.col("n_pos") * (2 * cum_neg + neg_b)).alias("u2")
    per_src = hist.select("source", "n", "n_pos", u2).groupBy("source").agg(
        F.sum("n_pos").alias("n_pos"),
        (F.sum("n") - F.sum("n_pos")).alias("n_neg"),
        F.sum("u2").alias("u2"),
    )
    return (
        per_src.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "source", "n_pos", "n_neg",
            # DECIMAL(38,0) for the ×10⁴ scale-up: int64 would wrap
            # once NP·NN exceeds ~4.6e14 (see module comment); `div`
            # on decimals is exact integral division returning long
            F.expr(
                "(CAST(u2 AS DECIMAL(38,0)) * 10000) div "
                "(2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            ).alias("auc_bp"),
        )
    )


def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_auc(table(spark, sf_dir, "documents"))


# The AUC's companion: the calibration (reliability) table.  AUC says
# the score RANKS well; calibration says whether the score's magnitude
# means anything — per equal-width score bin, predicted-ish mass vs
# the observed positive rate.  Map-only bin assignment + one
# ``CALIBRATION_BINS``-row aggregate; every rate in integer basis points.
CALIBRATION_BINS = 10


def quality_calibration(docs: DataFrame) -> DataFrame:
    """(bin, n, n_pos, pos_rate_bp, mean_score_bp) over equal-width
    stop_bp bins — stopword share is exactly the en-ness signal the
    `looks_en` heuristic thresholds, so this table is its reliability
    diagram against the true lang=='en' label."""
    from grpc_map_reduce_spark.operators.text_analysis import quality_scores

    width = 10000 // CALIBRATION_BINS
    # Zero-word docs have NULL stop_bp; least(NULL, bins-1) skips the
    # null in both engines, which would silently file them under the
    # TOP bin — exclude them instead (they carry no score signal).
    scored = (
        quality_scores(docs)
        .filter(F.col("stop_bp").isNotNull())
        .select(
            F.least(F.expr(f"stop_bp DIV {width}"), F.lit(CALIBRATION_BINS - 1))
            .alias("bin"),
            (F.col("lang") == "en").cast("long").alias("pos"),
            "stop_bp",
        )
    )
    return scored.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("n_pos"),
        F.expr("(sum(pos) * 10000) DIV count(*)").alias("pos_rate_bp"),
        F.expr("sum(stop_bp) DIV count(*)").alias("mean_score_bp"),
    )


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_calibration(table(spark, sf_dir, "documents"))


def _calibration_oracle() -> str:
    from grpc_map_reduce_spark.operators.text_analysis import ORACLE_QUALITY

    width = 10000 // CALIBRATION_BINS
    return f"""
WITH q AS ({ORACLE_QUALITY}),
binned AS (
    SELECT least(stop_bp // {width}, {CALIBRATION_BINS - 1}) AS bin,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
           stop_bp
    FROM q
    WHERE stop_bp IS NOT NULL
)
SELECT bin,
       count(*) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST((sum(pos) * 10000) // count(*) AS BIGINT) AS pos_rate_bp,
       CAST(sum(stop_bp) // count(*) AS BIGINT)       AS mean_score_bp
FROM binned GROUP BY bin
"""


ORACLE_QUALITY_CALIBRATION = _calibration_oracle()


def _auc_oracle() -> str:
    from grpc_map_reduce_spark.operators.text_analysis import ORACLE_QUALITY

    # reuse the exact quality_bp fragment so both AUCs rank the same
    # scores bit-for-bit
    return f"""
WITH q AS ({ORACLE_QUALITY}),
scored AS (
    SELECT d.source, q.quality_bp,
           CASE WHEN q.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM q JOIN documents d USING (doc_id)
    WHERE q.quality_bp IS NOT NULL
),
hist AS (
    SELECT source, quality_bp, count(*) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos
    FROM scored GROUP BY source, quality_bp
),
cum AS (
    SELECT source, n, n_pos,
           CAST(coalesce(sum(n - n_pos) OVER (
               PARTITION BY source ORDER BY quality_bp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cum_neg
    FROM hist
),
per_src AS (
    SELECT source,
           CAST(sum(n_pos) AS BIGINT)          AS n_pos,
           CAST(sum(n) - sum(n_pos) AS BIGINT) AS n_neg,
           -- HUGEINT (DuckDB sum's native width) so the *10000 below
           -- never wraps — mirrors the Spark DECIMAL(38,0) scale-up
           sum(n_pos * (2 * cum_neg + (n - n_pos))) AS u2
    FROM cum GROUP BY source
)
SELECT source, n_pos, n_neg,
       CAST((u2 * 10000) // (2 * n_pos * n_neg) AS BIGINT) AS auc_bp
FROM per_src
WHERE n_pos > 0 AND n_neg > 0
"""


ORACLE_QUALITY_AUC = _auc_oracle()


# --------------------------------------------------------------------------
# Population Stability Index — the standard drift monitor: how far
# each source's quality-score distribution sits from the corpus-wide
# reference, PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over fixed-width score
# buckets (rule of thumb: <0.10 stable, 0.10–0.25 shifting, >0.25
# drifted).  The corpus-ops use: a crawl source whose profile drifts
# between snapshots gets re-weighted or quarantined before training.
#
# Scale: one map-only binned pass → (source, bin) counts (the only
# corpus-sized aggregate) → the 10-row reference and the per-source
# PSI fold are bucket-domain-sized; missing cells materialize via a
# sources×bins cross join (tiny) so smoothing sees every bucket.
# Numerics: counts exact ints; the only floats are the final 10-term
# smoothed fold per source, mirrored shape-for-shape (the tfidf log
# precedent), emitted as round(·×10⁶).
PSI_BINS = 10
PSI_SMOOTH = 0.5  # add-half per bucket: keeps empty cells finite


def quality_bin_counts(docs: DataFrame) -> DataFrame:
    """(source, bin, c): the binned quality-score histogram — the
    mergeable sufficient statistic of the PSI (plain counts, so
    per-shard/per-micro-batch histograms sum into the corpus one;
    streaming/drift.py maintains exactly this table incrementally)."""
    from grpc_map_reduce_spark.operators.text_analysis import quality_scores

    width = 10000 // PSI_BINS
    return (
        quality_scores(docs, keep=("source",))
        .filter(F.col("stop_bp").isNotNull())
        .select(
            "source",
            F.least(F.expr(f"stop_bp DIV {width}"), F.lit(PSI_BINS - 1))
            .alias("bin"),
        )
        .groupBy("source", "bin")
        .agg(F.count("*").alias("c"))
    )


def source_quality_psi(docs: DataFrame) -> DataFrame:
    """(source, n_docs, psi_e6) — per-source PSI of the stop_bp score
    distribution against the whole-corpus reference."""
    # pin the reduced (source, bin) counts: THREE consumers (source
    # totals, reference, grid) would otherwise each re-run the corpus
    # scoring scan
    return psi_from_counts(pin(quality_bin_counts(docs)))


def psi_from_counts(cnt: DataFrame) -> DataFrame:
    """The PSI fold over a ``(source, bin, c)`` histogram — shared by
    the batch operator and the streaming maintainer's serving view."""
    srcs = cnt.groupBy("source").agg(F.sum("c").alias("n_src"))
    ref = cnt.groupBy("bin").agg(F.sum("c").alias("cb"))
    total = ref.agg(F.sum("cb").alias("n_all"))
    grid = (
        srcs.crossJoin(F.broadcast(ref))
        .join(cnt, ["source", "bin"], "left")
        .crossJoin(F.broadcast(total))
        .select(
            "source", "n_src",
            (F.coalesce("c", F.lit(0)) + PSI_SMOOTH).alias("pc"),
            (F.col("cb") + PSI_SMOOTH).alias("qc"),
            (F.col("n_src") + PSI_SMOOTH * PSI_BINS).alias("pd"),
            (F.col("n_all") + PSI_SMOOTH * PSI_BINS).alias("qd"),
        )
    )
    p = F.col("pc") / F.col("pd")
    q = F.col("qc") / F.col("qd")
    term = (p - q) * F.log(p / q)
    return grid.groupBy("source").agg(
        F.max("n_src").cast("long").alias("n_docs"),
        F.round(F.sum(term) * 1000000).cast("long").alias("psi_e6"),
    )


def q_source_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_quality_psi(table(spark, sf_dir, "documents"))


def _psi_oracle() -> str:
    from grpc_map_reduce_spark.operators.text_analysis import ORACLE_QUALITY

    width = 10000 // PSI_BINS
    s = PSI_SMOOTH
    return f"""
WITH q AS ({ORACLE_QUALITY}),
binned AS (
    SELECT d.source,
           least(q.stop_bp // {width}, {PSI_BINS - 1}) AS bin
    FROM q JOIN documents d USING (doc_id)
    WHERE q.stop_bp IS NOT NULL
),
cnt AS (SELECT source, bin, count(*) AS c FROM binned GROUP BY 1, 2),
srcs AS (SELECT source, sum(c) AS n_src FROM cnt GROUP BY source),
ref AS (SELECT bin, sum(c) AS cb FROM cnt GROUP BY bin),
total AS (SELECT sum(cb) AS n_all FROM ref),
grid AS (
    SELECT s.source, s.n_src,
           coalesce(c.c, 0) + {s} AS pc,
           r.cb + {s}             AS qc,
           s.n_src + {s * PSI_BINS} AS pd,
           t.n_all + {s * PSI_BINS} AS qd
    FROM srcs s CROSS JOIN ref r
    LEFT JOIN cnt c ON c.source = s.source AND c.bin = r.bin
    CROSS JOIN total t
)
SELECT source,
       CAST(max(n_src) AS BIGINT) AS n_docs,
       CAST(round(sum((pc / pd - qc / qd) * ln((pc / pd) / (qc / qd)))
                  * 1000000) AS BIGINT) AS psi_e6
FROM grid GROUP BY source
"""


ORACLE_SOURCE_PSI = _psi_oracle()


QUERIES = [
    ("source_quality_psi", q_source_quality_psi, ORACLE_SOURCE_PSI,
     "Per-source Population Stability Index of the quality-score "
     "distribution vs the corpus reference — the drift monitor that "
     "decides re-weighting/quarantine (one binned pass; the PSI fold "
     "is bucket-domain-sized)."),
    ("quality_calibration", q_quality_calibration,
     ORACLE_QUALITY_CALIBRATION,
     "Reliability diagram of the en-ness score: observed lang=='en' "
     "rate per equal-width score bin (map-only binning, one tiny "
     "aggregate, integer basis points)."),
    ("quality_auc", q_quality_auc, ORACLE_QUALITY_AUC,
     "Exact per-source Mann-Whitney ROC-AUC of the quality score vs "
     "the lang=='en' label — histogram rank statistics over the "
     "bounded basis-point score domain, no global sort."),
    ("customers_fuzzy_match", fuzzy_name_match, ORACLE_FUZZY,
     "Blocked fuzzy entity matching: levenshtein <= 2 within "
     "nation blocks (bounded self-join, record-linkage shape)."),
    ("dq_expectations", dq_expectations, ORACLE_DQ,
     "Drop-gate data-quality report: FK/unique/null/range expectations "
     "as a union of keyed-join and conditional-sum aggregates."),
    ("skew_profile", skew_profile, ORACLE_SKEW_PROFILE,
     "Join-key skew profiler: distinct keys, hottest key, and the "
     "max/mean skew factor that decides salting before the shuffle."),
    ("orders_snapshot_diff", q_snapshot_diff, ORACLE_SNAPSHOT_DIFF,
     "CDC snapshot diff: insert/update/delete set between two keyed "
     "snapshots via one full-outer PK join (MERGE's input half)."),
]
