"""Physical-plan quality gates — the 100 TB posture, asserted.

Correctness says the operator works; these tests say the *plan* is the
one we'd accept on a 1000-executor cluster: filters reach the parquet
scan, scans prune to the referenced columns, dimension joins
broadcast, aggregates have a map-side partial phase, top-k never
materializes a global sort, and nothing in a hot path drops to
row-at-a-time Python.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from grpc_map_reduce_spark import registry
from grpc_map_reduce_spark.plans.audit import (
    explain_str,
    final_plan,
    final_plan_audit,
    plan_audit,
)
from grpc_map_reduce_spark.sources.tables import table


#: Join nodes in a formatted plan: counting the numbered detail headers
#: counts each node once.
JOIN_RE = r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)"


def _plan(spark, sf_dir, name):
    return explain_str(registry.all_queries()[name].spark_fn(spark, sf_dir))


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # filter reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: lineitem has 16 columns; the scan must read only
    # the 7 referenced ones (ReadSchema shows the pruned struct)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    # partial aggregation before the shuffle
    assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    audit = plan_audit(registry.all_queries()["q5_region_revenue"].spark_fn(spark, sf_dir))
    assert audit["bcast_joins"], "small dims must broadcast"
    assert not audit["arrow_py"] + audit["row_py"], "relational path must stay JVM-side"


def test_plan_audit_counts_pandas_map_nodes(spark):
    """mapInPandas and applyInPandas plan as MapInPandas and
    FlatMapGroupsInPandas nodes: the audit must count both as Python,
    or a no-Python gate cannot see them."""
    df = spark.range(4)
    for frame in (df.mapInPandas(lambda it: it, "id long"),
                  df.groupBy("id").applyInPandas(lambda pdf: pdf, "id long")):
        audit = plan_audit(frame)
        assert audit["arrow_py"] + audit["row_py"] >= 1, explain_str(frame)


def test_q3_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_orders")
    assert "TakeOrderedAndProject" in plan, (
        "orderBy+limit must plan as top-k, not a full sort"
    )


def test_wordcount_stays_jvm_side_with_partial_agg(spark, sf_dir):
    audit = plan_audit(registry.all_queries()["wordcount"].spark_fn(spark, sf_dir))
    assert audit["partial_aggs"]
    assert not audit["arrow_py"] + audit["row_py"], (
        "the reference-parity tokenize path must not use Python UDFs"
    )
    # codegen subtree count is only visible pre-execution with AQE off
    # (AdaptiveSparkPlan hides the compiled stages until runtime)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        audit = plan_audit(registry.all_queries()["wordcount"].spark_fn(spark, sf_dir))
        assert audit["codegen"] >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_text_analysis_map_only_no_shuffle(spark, sf_dir):
    # doc_stats is pure per-row Column math: no Exchange at all
    plan = _plan(spark, sf_dir, "doc_stats")
    assert "Exchange" not in plan, "map-only operator must not shuffle"


def test_no_row_python_udf_in_any_registered_plan(spark, sf_dir):
    """Sweep EVERY registered query: any Python in a plan must be
    Arrow-batched (ArrowEvalPython / MapInPandas / FlatMapGroupsIn
    Pandas), never row-at-a-time BatchEvalPython.  The two iterative
    graph queries are excluded because building their DataFrame runs
    the fixed-point loop (their edge-gen plan is gated in
    test_lsh_recall.py instead)."""
    skip = {"dedup_clusters", "pagerank_neardup"}
    for name, q in registry.all_queries().items():
        if name in skip:
            continue
        plan = explain_str(q.spark_fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in the plan"
        )


def test_semi_anti_plan_uses_semi_join_nodes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semi_anti_customers")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    # a 2-column projection over the 16-column lineitem must read 2 cols
    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    m = re.search(r"ReadSchema: struct<([^>]*)>", explain_str(df))
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_orderkey", "l_quantity",
    }


def test_q6_full_predicate_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    # every conjunct of the WHERE clause reaches the parquet reader
    for pushed in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                   "GreaterThanOrEqual(l_discount,0.05)",
                   "LessThanOrEqual(l_discount,0.07)",
                   "LessThan(l_quantity,24.0)"):
        assert pushed in plan, f"missing pushed filter {pushed}"
    # and the scan reads only the 4 referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_q15_q17_single_fact_scan(spark, sf_dir):
    # the window reformulations must not re-scan lineitem for the
    # scalar-subquery side (Spark has no common-subplan reuse)
    for name in ("q15_top_supplier", "q17_small_quantity_revenue"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("lineitem.parquet]") == 1, (
            f"{name}: lineitem scanned more than once\n{plan}"
        )


def test_q10_topk_avoids_global_sort(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "q10_returned_customers")


def test_q9_dims_broadcast(spark, sf_dir):
    audit = plan_audit(
        registry.all_queries()["q9_nation_year_profit"].spark_fn(spark, sf_dir)
    )
    assert audit["bcast_joins"]
    assert not audit["arrow_py"] + audit["row_py"]


def test_q22_anti_join_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q22_idle_customers")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_q4_semi_join_with_pushed_filters(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_priority_check")
    assert "LeftSemi" in plan
    # both the quarter filter and the returnflag filter reach the scans
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q19_single_fact_scan_with_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    # the OR-of-ANDs must NOT explode into a union of three joins:
    # one lineitem scan, one broadcast part join
    assert plan.count("lineitem.parquet]") == 1
    assert "BroadcastExchange" in plan


def test_q21_semi_and_anti_with_pushed_flags(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q21_problem_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "EqualTo(l_returnflag,A)" in plan


def test_pipeline_corpus_prep_fuses_to_one_shuffle(spark, sf_dir):
    """dedup → quality filter → sample must fuse into a single plan
    with exactly one Exchange (the dedup window's partition-by-text);
    quality scoring and sampling are map-only on top."""
    plan = _plan(spark, sf_dir, "pipeline_corpus_prep")
    # formatted mode lists each operator once as "(n) Exchange"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, found {n_exchanges}\n{plan}"
    assert plan.count("documents.parquet]") == 1, "documents scanned twice"


def test_q7_pair_filter_stays_on_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q7_volume_shipping")
    # the nation-pair restriction is pushed into both nation scans, so
    # non-pair rows die at the broadcast dim join, not post-aggregation
    assert "In(n_name, [NATION_10,NATION_9])" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastExchange" in plan


def test_q8_single_fact_scan_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q8_market_share")
    # numerator and denominator share ONE reduced row set: the fact is
    # scanned once and the region restriction is a semi join
    assert plan.count("lineitem.parquet]") == 1
    assert "LeftSemi" in plan
    assert "EqualTo(p_type,PROMO)" in plan


def test_q13_outer_join_preserved_with_pushed_priority(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q13_customer_distribution")
    # the priority filter must reach the orders scan WITHOUT turning
    # the outer join inner (the zero-order bucket is the point)
    assert "LeftOuter" in plan
    assert "Not(StringStartsWith(o_orderpriority,4))" in plan


def test_q2_single_fact_scan_argmin_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    # the argmin is a window over the aggregate, never a correlated
    # re-scan of the fact
    assert plan.count("lineitem.parquet]") == 1
    assert "BroadcastExchange" in plan


def test_q16_not_in_is_broadcast_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q16_supplier_counts")
    assert "LeftAnti" in plan
    assert "EqualTo(l_returnflag,A)" in plan


def test_q20_share_window_reuses_agg_exchange(spark, sf_dir):
    # the per-part total window partitions on the same key as the
    # (part, supplier) aggregate — no second fact scan
    plan = _plan(spark, sf_dir, "q20_dominant_suppliers")
    assert plan.count("lineitem.parquet]") == 1
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_pack_sequences_single_window_exchange(spark, sf_dir):
    # the packing cumsum is ONE hash-partitioned window (by source) —
    # no Python, no join, no extra shuffle
    plan = _plan(spark, sf_dir, "pack_sequences")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, found {n_exchanges}\n{plan}"
    assert "BatchEvalPython" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """When a fact table sort-merge joins a selectively-filtered side
    too big to broadcast, the optimizer must inject a runtime bloom
    filter from the filtered side's keys into the fact scan (dynamic
    filtering).  The application-side size gate is lowered so
    fixture-scale data exercises the same rewrite a 100 TB scan
    relies on."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = table(spark, sf_dir, "lineitem")
        plan = explain_str(li.join(orders, li.l_orderkey == orders.o_orderkey))
        assert "bloom" in plan.lower(), f"no runtime bloom filter:\n{plan}"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_epoch_shuffle_no_global_sort(spark, sf_dir):
    """The epoch permutation must never range-partition (global sort):
    one hash exchange on the shard key, per-shard window sorts only."""
    plan = _plan(spark, sf_dir, "docs_epoch_shuffle")
    assert "rangepartitioning" not in plan.lower()
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, found {n_exchanges}"


def test_semdedup_cluster_bounded_no_pair_join(spark, sf_dir):
    """SemDeDup's plan must never pair-join the corpus: centroids
    arrive by broadcast, the within-cluster quadratic runs inside the
    per-cluster pandas kernel, and the only corpus shuffle is the
    groupBy(cluster) co-location."""
    plan = _plan(spark, sf_dir, "semdedup")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the bounded kernel
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_bench_no_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "decontaminate_ngram")
    # the benchmark shingle set probes as a broadcast semi join; the
    # train shingles must never self-join
    assert "LeftSemi" in plan and "BroadcastExchange" in plan


def test_partition_filter_prunes(spark, sf_dir):
    # predicate on the scan column shows up as a pushed filter
    df = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 42)
    plan = explain_str(df)
    assert "PushedFilters" in plan and "EqualTo(o_orderkey,42)" in plan


def test_repetition_stats_map_only(spark, sf_dir):
    """The Gopher-filter cascade is sort + run-length encoding inside
    each row — one pruned 2-column scan and NO shuffle at all."""
    plan = _plan(spark, sf_dir, "repetition_stats")
    assert plan.count("documents.parquet]") == 1
    # The only exchange allowed is sources.tables.spread's round-robin
    # input split — a fixture artifact (single-row-group parquet files
    # collapse every scan to one core-starved partition); spread is a
    # no-op on a properly split production scan.  Any KEYED exchange
    # would mean the operator stopped being map-only.
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    n_roundrobin = plan.count("RoundRobinPartitioning")
    assert n_exchange == n_roundrobin <= 1, (
        f"repetition stats must be map-only bar the input spread\n{plan}"
    )
    assert "Join" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "doc_id", "text",
    }


def test_pii_redact_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pii_redact")
    assert "Exchange" not in plan, "regex scrub must be map-only"
    assert "EvalPython" not in plan, "regex scrub must stay JVM-side"


def test_tfidf_broadcasts_stats_one_fact_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tfidf_keywords")
    # df table and corpus scalar broadcast into the scoring join; the
    # top-k window is partition-local (no global range sort)
    assert "BroadcastExchange" in plan
    assert "rangepartitioning" not in plan


def test_mixture_resample_corpus_side_never_shuffles(spark, sf_dir):
    """The only shuffles are the tiny per-source count aggregate; the
    corpus side is crossJoin-broadcast + map-only explode."""
    plan = _plan(spark, sf_dir, "docs_mixture_resample")
    assert "BroadcastExchange" in plan
    assert "rangepartitioning" not in plan
    # corpus rows are never hash-partitioned by a data column: every
    # Exchange in the plan belongs to the counts->totals aggregation
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan


def test_scd2_one_shuffle(spark, sf_dir):
    """Change-detection lag, run-numbering cumsum, interval lead, and
    the run groupBy all share one user_id partitioning — exactly one
    Exchange, no global sort."""
    plan = _plan(spark, sf_dir, "events_scd2")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "rangepartitioning" not in plan


def test_vocab_oov_partial_topk_and_broadcast_probe(spark, sf_dir):
    """Vocabulary selection must be TakeOrderedAndProject (partial
    top-K, never a full sort) and the membership probe must broadcast
    the K-row vocab — the token stream is never shuffled for the join."""
    plan = _plan(spark, sf_dir, "vocab_oov")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastExchange" in plan


def test_url_dedup_map_only_plus_one_window_shuffle(spark, sf_dir):
    """URL canonicalization is regexp surgery in the map phase; the
    only Exchange is the keeper-election window over canon_url — no
    joins, no global sort."""
    plan = _plan(spark, sf_dir, "url_canonical_dedup")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_boilerplate_broadcast_probe_never_joins_streams(spark, sf_dir):
    """The frequent-segment set must come back as a BROADCAST hash
    probe on the segment stream (never a shuffled join of two
    segment-sized sides), and document reassembly is the only
    doc_id shuffle."""
    plan = _plan(spark, sf_dir, "docs_boilerplate_strip")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # distinct-docs-per-segment (2 exchanges: segment×doc partial then
    # segment) + final doc_id regroup = 3; anything more means a
    # partitioning got lost
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 3, plan


def test_window_rank_suite_one_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_rank_suite")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, "all window functions must share one shuffle"
    assert "rangepartitioning" not in plan


def test_kmeans_corpus_never_shuffled(spark, sf_dir):
    """Lloyd assignment receives the centroid MODEL via sc.broadcast
    (round 6: the earlier BroadcastNestedLoopJoin idiom duplicated the
    k×d matrix onto every corpus row inside the Arrow batches), so the
    plan has NO join of any kind; the only corpus-sized Exchange is
    the final cluster_size window."""
    plan = _plan(spark, sf_dir, "embedding_kmeans")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "Join" not in plan, plan
    assert "SortMergeJoin" not in plan


def test_sketch_rescore_has_zero_array_transport(spark, sf_dir):
    """The point of the sketch path (round 11): candidates are scored
    from the signature agreement the candidate aggregate already
    carries — no shingle-set array may ever join back to a pair.  The
    exact path's rescore transport (measured 46 GB at 625×, and a
    disk-exhaustion death at that tier) must be structurally absent,
    not just small."""
    plan = _plan(spark, sf_dir, "dedup_lsh_neardup_sketch")
    # no exact-rescore machinery anywhere in the plan
    assert "array_intersect" not in plan, plan
    # ZERO join nodes (round 12): candidate pairs are enumerated
    # inside each bucket's sorted member array — the old band-bucket
    # self-join (the one join this plan used to carry) exchanged the
    # band rows twice; the bucket-array form exchanges them once and
    # joins nothing.  The exact path keeps exactly its two set
    # re-joins (the rescore), nothing else.
    assert len(re.findall(JOIN_RE, plan)) == 0, plan
    exact = _plan(spark, sf_dir, "dedup_lsh_neardup")
    assert "array_intersect" in exact  # the twin still pays it
    assert len(re.findall(JOIN_RE, exact)) == 2, exact
    plan = _plan(spark, sf_dir, "docs_lang_id")
    # round 11: the registered plan is ONE map-only Arrow pass — the
    # ≤ langs×K profile rides in the UDF closure, so there is no join
    # of any kind and no shuffle after the spread repartition
    assert "MapInPandas" in plan
    assert "Join" not in plan, plan
    # no global sort anywhere (profile ranking happened in the
    # bounded plan-build job; argmax is in-batch)
    assert "rangepartitioning" not in plan
    # exactly one exchange: the spread() repartition that fans the
    # handful of parquet files across cores
    import re as _re
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_filtered_ann_pushes_label_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ann_filtered_topk")
    # the metadata predicate must reach the parquet corpus scan —
    # pre-filtering, not post-filtering of fetched neighbors
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(label,3\)", plan)
    # query set broadcasts; corpus blocks are never shuffled wide
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_aqe_final_plan_converts_smj(spark, sf_dir):
    """Round 9 (VERDICT r8 item 6): the static audits above reason
    about pre-execution plans; this gate EXECUTES two heavy queries
    and checks the AQE-final plan — every static SortMergeJoin must
    convert to broadcast once real (fixture-small) statistics arrive,
    and at least one AQEShuffleRead must appear (proof the adaptive
    re-planner actually engaged, not just that the flag is set).
    tools/plan_report.py carries the full ten-query audit; its
    PLANS.md appendix documents the one legitimate survivor
    (hybrid_rrf's bounded full-outer top-k merge)."""
    qs = registry.all_queries()
    for name in ("dedup_canonical", "docs_leakage_safe_split"):
        rec = final_plan_audit(qs[name].spark_fn(spark, sf_dir))
        assert rec["is_final"], (name, rec)
        assert rec["smj_static"] >= 1, (name, rec)   # the shape under test
        assert rec["smj_final"] == 0, (name, rec)    # converted at runtime
        assert rec["bhj_final"] >= 1, (name, rec)
        assert rec["aqe_reads"] >= 1, (name, rec)


def test_cc_star_round_plans_without_joins(spark):
    """Round 12 (guide §2.4): one large-star+small-star round used to
    plan 6 Exchanges and two self-joins; the window rewrite computes
    each star's neighborhood min on the SAME exchange that the join
    needed anyway.  Gate: a composed star round has ZERO join nodes
    and at most 4 Exchanges (window + distinct per star)."""
    from grpc_map_reduce_spark.operators.clustering import (
        _large_star,
        _small_star,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    plan = explain_str(_small_star(_large_star(df)))
    assert not re.findall(JOIN_RE, plan), plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_candidate_pairs_plan_without_pair_joins(spark, sf_dir):
    """Every banded / shingle candidate path enumerates its pairs inside
    bucket arrays (dedup.bucket_pairs / cross_bucket_pairs): no band or
    shingle self-join, no hot-bucket anti-join.  The joins left are the
    exact-cosine rescore (2: one lookup per pair side) and, for the
    incremental report, the total-output left join of the incoming
    ids."""
    for name, n_joins in [
        ("multimodal_phash_pairs", 0),
        ("embedding_lsh_selective", 2),
        ("embedding_lsh_recall_stress", 2),
        ("embedding_incremental_neardup", 3),
        ("dedup_ngram_jaccard_guarded", 0),
    ]:
        plan = _plan(spark, sf_dir, name)
        assert len(re.findall(JOIN_RE, plan)) == n_joins, (name, plan)
        assert "LeftAnti" not in plan, (name, plan)


def test_embedding_corpus_index_guard_plans_without_join(spark, sf_dir):
    """The streaming embedding index drops oversized corpus buckets by a
    size filter on each bucket's member array (the corpus-side guard
    of dedup.cross_bucket_pairs), not by a count + anti-join."""
    from grpc_map_reduce_spark.streaming.dedup import embedding_corpus_index

    buckets, _ = embedding_corpus_index(table(spark, sf_dir, "embeddings"))
    plan = explain_str(buckets)
    assert "LeftAnti" not in plan, plan
    assert not re.findall(JOIN_RE, plan), plan


def test_lsh_auto_shares_one_band_rows_subtree(spark, sf_dir):
    """Round 12 (VERDICT r11 item 2): the auto planner's census and
    its chosen branch must share ONE band-rows pass.  The returned
    (exact-branch) plan therefore reads the band rows from the
    census's checkpoint and the shingle sets, on both rescore sides,
    from their own checkpoint: three ExistingRDD scans — so the branch
    must not re-derive band rows or sets: no shingle+signature kernel
    (MapInArrow), and none of the older signature forms (``array_min``
    projection, ArrowEvalPython tokenizer), anywhere in the executed
    tree.  The sets are
    a local checkpoint, not a CacheManager entry (no
    InMemoryTableScan), so they do not outlive the call."""
    plan = _plan(spark, sf_dir, "dedup_lsh_neardup_auto")
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 3, plan
    assert "InMemoryTableScan" not in plan, plan
    assert "MapInArrow" not in plan, plan
    assert "array_min" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_lsh_near_dup_intersects_each_pair_once(spark, sf_dir):
    """The exact rescore evaluates ONE ``array_intersect`` per
    candidate: a ``jaccard >= t`` filter pushed into the set join's
    condition would inline ``n_common`` once per reference and
    intersect every pair three times.  The band path is the MinHash
    kernel plus integer band keys: no interpreted ``transform`` lambda
    and no ``concat_ws`` string key anywhere in the executed plan."""
    df = registry.all_queries()["dedup_lsh_neardup"].spark_fn(spark, sf_dir)
    df.collect()
    plan = final_plan(df)
    assert plan.count("array_intersect(") == 1, plan
    assert "transform(" not in plan, plan
    assert "concat_ws" not in plan, plan


def test_kmv_profile_single_scan_per_column(spark, sf_dir):
    """Round 12 (VERDICT r11 item 7): the exact-error baseline rides
    the SAME scan as the sketch — one pinned distinct-values relation
    per column feeds both count(*) (== countDistinct, exactness
    undiluted) and the k-min hash sketch.  Gate: the executed plan
    reads ONLY the checkpointed distinct-values relations (2 consumers
    per column branch); the one parquet scan per column happens inside
    the checkpoint materialization, so ZERO parquet scans remain in
    the final plan (before: two full scans per column)."""
    plan = _plan(spark, sf_dir, "kmv_distinct_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 8, plan
    plan = _plan(spark, sf_dir, "kmv_merge_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 8, plan


def test_multimodal_plans_one_arrow_kernel(spark, sf_dir):
    """Every multimodal query runs its codecs through one Arrow pass
    per step (the media row kernel, or the WebDataset shard closure):
    no pandas map anywhere in the family.  The quarantine query
    encodes each document once, in the format its id picks, so it
    plans no join."""
    from grpc_map_reduce_spark.operators import multimodal

    for name, *_ in multimodal.QUERIES:
        plan = _plan(spark, sf_dir, name)
        assert "MapInPandas" not in plan, (name, plan)
        assert "MapInArrow" in plan, (name, plan)
    plan = _plan(spark, sf_dir, "multimodal_quarantine")
    assert not re.findall(JOIN_RE, plan), plan
