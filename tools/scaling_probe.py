#!/usr/bin/env python3
"""Empirical scale-up probe: run headline operators at 1x / 5x / 25x
the sf0.1 fixture volume and report wall-clock scaling factors.

The fixtures top out at sf0.1, which cannot distinguish "scales
linearly" from "happens to fit"; this probe synthesizes larger
corpora by REPLICATING the sf0.1 tables with shifted primary keys
(doc_id += k*10^9, orderkey += k*10^9) — content distribution is
preserved, volume multiplies, and near-dup structure replicates
per-shard so LSH candidate counts grow linearly, not quadratically.

Probed claims (each maps to a SURVEY §8 scale assertion):
  * wordcount            — map + one agg: must scale ~linearly
  * heavy_hitters        — MG sketch + recount: ~linear, candidate
                           set bounded by partitions/phi
  * dedup_lsh_neardup    — sub-quadratic LSH: ~linear in docs
                           (the all-pairs formulation would be 25x^2)
  * q1_pricing_summary   — full lineitem agg: ~linear
  * pagerank_neardup     — fixed-K power iteration over LSH edges:
                           ~linear in edges (loop-invariant edge table
                           partitioned once, only ranks move)
  * dedup_triangles      — canonical wedge join + closure probe:
                           wedge count is bounded by Σ deg², which
                           replication grows linearly (cliques don't
                           span replicas)
  * orders_market_basket — apriori-gated in-basket pair enumeration:
                           bounded by Σ basket², baskets replicate
                           unchanged
  * phrase_search        — pruned posting-list adjacency join:
                           ~linear in postings of the probe phrase

Usage: python tools/scaling_probe.py [--mults 1,5,25]
         [--probes name,name,...] [--driver-memory 16g]
Writes scratch parquet under .scratch/scaleprobe/ (gitignored) and
prints one JSON line per (query, mult) plus a scaling summary.

Round 6 extends the probe in two directions the 25x run couldn't
see (VERDICT r5 item 1):

* ``--mults 1,5,25,125`` — one more 5x step separates "fixed
  overhead still amortizing" from genuinely super-linear growth.
* ``--driver-memory 8g`` — a DELIBERATELY capped heap so memory
  cliffs surface as failures/garbage-collection walls instead of
  being absorbed by the default 16 GiB probe session; each probe
  row carries ``peak_heap_mb`` (sum of per-pool JMX peak usage,
  reset before the run) so the record says not just "how long" but
  "how much heap did this shape actually need at this volume".
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grpc_map_reduce_spark import get_spark, registry
from grpc_map_reduce_spark.plans.checkpoint import pins

BASE_SF = "/root/testdata/sf0.1"
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch", "scaleprobe",
)
PROBES = ["wordcount", "heavy_hitters", "dedup_lsh_neardup",
          "q1_pricing_summary", "dedup_canonical", "docs_lang_id",
          # iterative/graph family (VERDICT r4 item 4): the shapes
          # whose super-linear risk was argued in comments but never
          # measured
          "pagerank_neardup", "dedup_triangles", "orders_market_basket",
          "phrase_search",
          # round-5 additions with non-obvious scaling: the LPA loop
          # (label joins per round), the KMV pair probe (sketch-sized
          # by construction — should be FLAT), and the composed
          # three-rule attribution (windows + the full LSH chain)
          "dedup_communities_lpa", "source_overlap_kmv",
          "dedup_rule_attribution",
          # round-6 split-integrity queries: CC-backed cluster split
          # and the LSH-backed contamination report
          "docs_leakage_safe_split", "docs_split_contamination",
          # embedding family (round 6): brute top-k (fixed anchors —
          # linear), the IVF scale path, hyperplane-LSH near-dup (the
          # sub-quadratic candidate path; embedding_near_dup is the
          # EXACT all-pairs baseline, quadratic BY CONTRACT, so probing
          # it only re-measures its documented O(n²)), and SemDeDup
          # with the auto-scaled K — replicated embeddings get
          # per-replica rolled vectors (see synthesize) so these
          # measure volume, not clone cliques
          "ann_cosine_topk", "ann_ivf_topk", "embedding_lsh_recall_stress",
          "semdedup_auto_k",
          # round-7: the registered SELECTIVE operating point (s>=0.9,
          # 16-bit bands, guard ON, planted twins) — the sub-linear
          # claim that retires the adversarial regime's quadratic
          "embedding_lsh_selective",
          # log2(n)-scaled band width: the fix for the 16-bit key
          # space saturating at 125x (random collisions ~ n^2/2^r)
          "embedding_lsh_selective_scaled",
          # round-7: one-sided incoming-vs-corpus embedding dedup
          # (the streaming-ingest ANN shape; corpus x corpus never
          # exists, so growth must track corpus + shard, not pairs)
          "embedding_incremental_neardup",
          "embedding_incremental_scaled",
          # temporal-join family (round 6): events replicate as new
          # users in the same time range (see synthesize), so
          # per-bucket density grows with the multiplier — the stress
          # case for range/as-of joins and session assembly
          "events_range_join", "events_asof_join",
          "events_session_window", "events_top_paths",
          # composed end-to-end pipelines (the production shape) and
          # the retrieval representative.  Caveat for retrieval/vocab
          # shapes: replica text is alphabet-rotated, so each replica
          # contributes a DISJOINT token space — document-frequency
          # skew does NOT grow with the multiplier (hot terms stay
          # fixture-hot); these probes measure volume, not term skew
          "pipeline_training_prep", "pipeline_corpus_prep",
          "bm25_retrieval",
          # hot-term targets (round 7): probed with --zipf-hot so the
          # postings-list / top-k paths see a document-frequency head
          # that GROWS with the multiplier
          "vocab_oov", "pmi_collocations",
          # heavy TPC-H representatives over replicated lineitem and
          # orders: the deepest join tree (q9) and the group-having
          # semi-join (q18)
          "q9_nation_year_profit", "q18_large_volume_customers",
          # round-8 (VERDICT r7 item 2): the multimodal codec family —
          # the one registered family whose kernel is per-image Python
          # inside Arrow batches (functions/jpeg.py, png.py), never
          # before priced at probe volume.  Media rows grow with docs;
          # per-image cost is constant, so the family must scale
          # ~linearly with a measurable images/s throughput.
          "multimodal_jpeg_decode", "multimodal_png_decode",
          "multimodal_quarantine",
          "multimodal_phash_pairs", "multimodal_augment",
          # round-8 (VERDICT r7 item 4): the guard-ON pair path for
          # hot-CLUSTER skew runs (--hot-cluster P) — the registered
          # dedup_lsh_neardup is the UNGUARDED oracle twin by contract
          # and would measure the mega-cluster's quadratic pair count,
          # not the engine; dedup_canonical / dedup_communities_lpa
          # are already guard-ON at their registered parameters and
          # are probed directly.
          "dedup_lsh_guarded"]
#: key column to shift per replica so replicated rows stay distinct
KEYED = {
    "documents": "doc_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "embeddings": "vec_id",
    "events": "event_id",
}
EMB_DIM = 64  # fixture embedding width (len(embedding) is constant)
SHIFT = 10**9


#: per-replica character rotation applied to documents.text so a
#: replicated doc is NOT a shingle-level near-dup of its source —
#: without this, replication builds m-clone cliques whose LSH
#: candidate pairs grow O(m²) and the probe measures clique blowup,
#: not corpus growth.  The rotation must be DISTINCT for every
#: replica: an earlier 5-vowel rotation collided at mult=25 (5 exact
#: clones per rotation class → 5× cluster inflation → the wedge join
#: measured 93× at 25× data, a probe artifact the full-alphabet
#: rotation eliminates).  A bijective char map preserves each
#: replica's INTERNAL near-dup structure exactly while making
#: cross-replica shingle collisions vanish.
ALPHABET = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"
#: Replica-k letter map (round 8): the plain rotation REPEATS with
#: period 26, so replica k and k+26 carried IDENTICAL text — exact
#: clone cliques that only exist past mult 26.  The 125x probe
#: measured scored near-dup pairs growing 127x per 5x data, all at
#: replica gaps {26, 52, 78, 104}, dragging every pair-consuming
#: probe super-linear for a probe-scheme reason (the same bug class
#: as the embeddings' period-63 roll, fixed in scratch v4).  Compose
#: the shift with an affine multiplier keyed on k//26 — x ->
#: a*(x+k) mod 26 with a drawn from the units {1,3,5,7,9} — still a
#: bijection (per-replica internal near-dup structure preserved),
#: distinct for every k < 130.  Digits rotate with period 10 so
#: digit-bearing shingles decorrelate too.
AFFINE_MULTS = (1, 3, 5, 7, 9)


def _rot(k: int) -> str:
    # k < 130: the affine family (period 130) — unchanged so existing
    # scratch dirs (mult <= 125) stay byte-identical.  k >= 130
    # (round 10, the 625x tier): the affine family tops out at 312
    # distinct maps (12 units x 26 shifts), so replicas past it draw
    # a SEEDED full permutation of the alphabet instead — still a
    # bijection (internal near-dup structure preserved exactly), and
    # _verify_replica_maps asserts pairwise distinctness across the
    # whole run instead of relying on a period argument.
    if k >= 130:
        import random

        return "".join(random.Random(0xA1FA + k).sample(ALPHABET, 26))
    a = AFFINE_MULTS[(k // 26) % len(AFFINE_MULTS)]
    return "".join(
        chr(ord("a") + (a * (i + k)) % 26) for i in range(26)
    )


def _drot(k: int) -> str:
    if k >= 130:
        import random

        return "".join(random.Random(0xD161 + k).sample(DIGITS, 10))
    return DIGITS[k % 10:] + DIGITS[:k % 10]


def _verify_replica_maps(mult: int) -> None:
    """Fail loudly if any two replicas k < mult share a combined
    letter+digit map — the exact-clone-clique artifact class the r8
    corpus fix removed (replicas k and k+period byte-identical) must
    never be reintroduced by a transform-family extension."""
    maps = {_rot(k) + _drot(k) for k in range(mult)}
    if len(maps) != mult:
        raise AssertionError(
            f"replica letter/digit maps collide: {mult} replicas, "
            f"{len(maps)} distinct maps — extend the transform family"
        )


#: --hot-cluster template: a fixed boilerplate document planted
#: verbatim (NOT rotated) into P% of every replica's docs, so one
#: shingle set — hence one LSH bucket per band and one CC component —
#: grows linearly with the corpus.  This is the skew mode a real
#: crawl has (cookie banners, license stubs, nav chrome).
HOT_TEMPLATE = (
    "this website uses cookies to improve your experience by continuing "
    "to browse the site you agree to our use of cookies accept decline "
    "privacy policy terms of service all rights reserved copyright"
)


#: Every fixture table but ``documents``: a documents-only variant
#: symlinks these from its source dir.
SIDE_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "embeddings")


def _link_side_tables(src: str, out: str) -> None:
    for tbl in SIDE_TABLES:
        os.symlink(os.path.join(src, f"{tbl}.parquet"),
                   os.path.join(out, f"{tbl}.parquet"))


def _docs_variant(spark, mult: int, suffix: str, when) -> str:
    """The ``x{mult}-{suffix}`` variant of the replicated dir: the side
    tables symlinked, ``documents.text`` replaced where ``when`` (an
    unfinished ``F.when``) matches."""
    from pyspark.sql import functions as F

    base = synthesize(spark, mult)
    out = os.path.join(SCRATCH, f"x{mult}-{suffix}")
    done = os.path.join(out, "_COMPLETE_v3")  # v3: v6 base (affine letters)
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _link_side_tables(base, out)
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))
    docs.withColumn("text", when.otherwise(F.col("text"))).write.mode(
        "overwrite").parquet(os.path.join(out, "documents.parquet"))
    open(done, "w").close()
    return out


def synthesize(spark, mult: int, zipf_hot: int = 0,
               hot_cluster: int = 0) -> str:
    """Build (or reuse) the replicated scratch dir for ``mult``.

    ``zipf_hot`` > 0 derives a VARIANT dir where that percent of every
    replica's documents get a hot bigram appended (" zipfhot
    zipfhead", selected by doc_id hash) — the rotated-replica scheme
    keeps each replica's token space disjoint, so without this the
    Zipf HEAD never grows with the multiplier and postings-list /
    top-k paths only ever see volume growth (recorded r6 caveat).
    With it, the hot term's document frequency is ~zipf_hot% of the
    WHOLE corpus at any multiplier.  Only documents are rewritten;
    every other table is symlinked from the base dir.

    ``hot_cluster`` > 0 derives a VARIANT dir where that percent of
    every replica's documents are REPLACED by :data:`HOT_TEMPLATE`
    (doc_id-hash selected, disjoint from rotation) — a near-dup
    MEGA-CLUSTER whose size grows linearly with the multiplier, the
    boilerplate-clone skew the hot-bucket guard exists for."""
    from pyspark.sql import functions as F

    if hot_cluster:
        return _docs_variant(spark, mult, f"hotclu{hot_cluster}", F.when(
            F.pmod(F.xxhash64("doc_id", F.lit("hotclu")), F.lit(100)) < hot_cluster,
            F.lit(HOT_TEMPLATE)))
    if zipf_hot:
        return _docs_variant(spark, mult, f"zipf{zipf_hot}", F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(100)) < zipf_hot,
            F.concat(F.col("text"), F.lit(" zipfhot zipfhead"))))
    # Past 126x (round 10, the 625x tier): the TEXT maps now extend
    # indefinitely (seeded permutations, distinctness verified), but
    # the embedding roll+sign-flip family still has period 126 — so
    # multipliers past 126 build a DOCUMENTS-ONLY corpus: documents
    # replicated with the extended maps, every other table symlinked
    # UNREPLICATED from sf0.1.  main() refuses non-document probes at
    # these multipliers (they would silently measure 1x volume).
    if mult > 126:
        _verify_replica_maps(mult)
        out = os.path.join(SCRATCH, f"x{mult}-docsonly")
        done = os.path.join(out, "_COMPLETE_v1")
        if os.path.exists(done):
            return out
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        _link_side_tables(BASE_SF, out)
        src = spark.read.parquet(os.path.join(BASE_SF, "documents.parquet"))
        # Data-driven replication: one broadcast cross-join against a
        # (k, translate-target) table instead of a mult-way union.
        # The union formulation built `mult` DataFrame branches with
        # two withColumns each — O(mult^2) analyzer work that kept
        # the 3125x build in driver-side planning for 10+ minutes
        # without launching a single task.  StringTranslate accepts a
        # non-foldable replace argument (it re-caches its char map
        # when the argument value changes), so the per-replica
        # alphabet map can be a joined COLUMN.  k=0 keeps the
        # identity map (ALPHABET+DIGITS translated to itself), same
        # as the union path's untranslated first replica.
        rep_map = spark.createDataFrame(
            [(k, (_rot(k) + _drot(k)) if k else (ALPHABET + DIGITS))
             for k in range(mult)],
            "k long, tr string",
        )
        df = (
            src.crossJoin(F.broadcast(rep_map))
            .select(
                (F.col("doc_id") + F.col("k") * SHIFT).alias("doc_id"),
                F.expr(
                    f"translate(text, '{ALPHABET + DIGITS}', tr)"
                ).alias("text"),
                "lang", "source", "n_chars",
            )
        )
        # spread the write: the source is a handful of row groups and
        # would otherwise land in very few output tasks
        df.repartition(64).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet"))
        open(done, "w").close()
        return out
    out = os.path.join(SCRATCH, f"x{mult}")
    # Scratch versioning: v2 added replicated embeddings (rolled per
    # replica), v3 added replicated events (user-shifted), v4 fixed
    # the embedding roll's period-63 clone pairs (sign-flip compose),
    # v5 rotated digits, v6 replaced the period-26 rotation with the affine letter map (see AFFINE_MULTS above).  A dir
    # at an older version has every table NOT listed for the newer
    # versions already correct, so only the delta is rewritten.
    done = os.path.join(out, "_COMPLETE_v6")
    v5 = os.path.join(out, "_COMPLETE_v5")
    v4 = os.path.join(out, "_COMPLETE_v4")
    v3 = os.path.join(out, "_COMPLETE_v3")
    v2 = os.path.join(out, "_COMPLETE_v2")
    v1 = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    if not any(os.path.exists(p) for p in (v1, v2, v3, v4, v5)):
        shutil.rmtree(out, ignore_errors=True)  # partial prior attempt
    os.makedirs(out, exist_ok=True)
    for tbl in (*SIDE_TABLES, "documents"):
        if (os.path.exists(v4) or os.path.exists(v5)) \
                and tbl != "documents":
            continue
        if os.path.exists(v3) and tbl not in ("documents", "embeddings"):
            continue
        if os.path.exists(v2) and tbl not in ("documents", "events",
                                              "embeddings"):
            continue
        if os.path.exists(v1) and tbl not in ("documents", "events",
                                              "embeddings"):
            continue
        src = spark.read.parquet(os.path.join(BASE_SF, f"{tbl}.parquet"))
        if tbl in KEYED and mult > 1:
            key = KEYED[tbl]
            reps = []
            for k in range(mult):
                r = src.withColumn(key, F.col(key) + F.lit(k * SHIFT))
                if tbl == "documents" and k:
                    r = r.withColumn(
                        "text",
                        F.translate("text", ALPHABET + DIGITS,
                                    _rot(k) + _drot(k)),
                    )
                if tbl == "events" and k:
                    # Replicas are NEW users in the SAME time range —
                    # the realistic growth axis (denser traffic, not a
                    # longer history).  Per-user session/path shapes
                    # are preserved; per-time-bucket density grows
                    # with the multiplier, which is exactly the stress
                    # the temporal joins must survive.
                    r = r.withColumn(
                        "user_id", F.col("user_id") + F.lit(k * SHIFT)
                    )
                if tbl == "embeddings" and k:
                    # Roll each replica's vector by a per-replica
                    # offset — the vector analog of the text rotation:
                    # bijective and norm-preserving (each replica's
                    # INTERNAL neighbor structure is exactly the
                    # source's), while cross-replica cosine decorrelates
                    # so replication measures corpus growth, not
                    # m-clone cliques.  The roll offset alone repeats
                    # with period 63, so replicas k and k+63 would be
                    # exact clones at mult=125; compose a second
                    # transform keyed on k//63 — negate odd-position
                    # coordinates when that group index is odd (also
                    # bijective + norm-preserving, and it drives the
                    # clone-pair cosine to ~0).  Combined period is
                    # 126, so no two replicas collide through mult=126.
                    off = (k % (EMB_DIM - 1)) + 1
                    rolled = F.concat(
                        F.slice("embedding", off + 1, EMB_DIM - off),
                        F.slice("embedding", 1, off),
                    )
                    if (k // (EMB_DIM - 1)) % 2 == 1:
                        rolled = F.transform(
                            rolled,
                            lambda x, j: F.when(j % 2 == 1, -x).otherwise(x),
                        )
                    r = r.withColumn("embedding", rolled)
                reps.append(r)
            df = reps[0]
            for r in reps[1:]:
                df = df.unionByName(r)
        else:
            df = src
        df.write.mode("overwrite").parquet(os.path.join(out, f"{tbl}.parquet"))
    open(done, "w").close()
    return out


def _heap_pools(jvm):
    mf = jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"]


def _reset_heap_peaks(jvm) -> None:
    for p in _heap_pools(jvm):
        p.resetPeakUsage()


def _peak_heap_mb(jvm) -> int:
    # Sum of per-pool peaks — a (slight) upper bound on true
    # simultaneous usage, which is the conservative direction for a
    # "how much heap does this shape need" record.
    return round(sum(p.getPeakUsage().getUsed() for p in _heap_pools(jvm))
                 / (1024 * 1024))


def _session_alive(spark) -> bool:
    """Can the session still run a trivial job?  After a heap OOM or
    spill-disk exhaustion the local JVM often keeps answering py4j
    calls while every task it schedules fails — the only honest
    health check is running one."""
    try:
        spark.range(1).count()
        return True
    except Exception:
        return False


def _rebuild_session(spark, driver_memory: str, warm_probe):
    """Replace a broken probe session with a FRESH JVM, warmed up.

    ``spark.stop()`` alone reuses the live py4j gateway, so the next
    ``getOrCreate`` lands in the same (possibly OOM-poisoned) JVM and
    the ``spark.driver.memory`` extra_conf is a silent no-op (static
    conf, read at JVM launch).  Shutting the gateway down forces a
    brand-new JVM.  The warmup noop re-runs so the first post-restart
    probe isn't charged for session/codegen/Arrow-worker spin-up
    (ADVICE r10).  Raises if the rebuild itself fails; the caller turns
    that into a fatal JSON line instead of aborting the sweep summary.
    """
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark.stop()
    except Exception:
        pass
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    fresh = get_spark(
        "scaling-probe",
        extra_conf={"spark.driver.memory": driver_memory},
    )
    fresh.sparkContext.setLogLevel("ERROR")
    warm_probe.spark_fn(fresh, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    return fresh


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,5,25")
    ap.add_argument("--probes", default=None,
                    help="comma-separated subset of the probe list")
    ap.add_argument("--driver-memory", default="16g",
                    help="JVM heap for the probe session; cap it "
                         "(e.g. 8g) to surface memory cliffs")
    ap.add_argument("--zipf-hot", type=int, default=0, metavar="PCT",
                    help="inject a hot bigram into PCT%% of every "
                         "replica's documents so the Zipf head grows "
                         "with the multiplier (documents-table probes "
                         "only; other tables are symlinked)")
    ap.add_argument("--hot-cluster", type=int, default=0, metavar="PCT",
                    help="replace PCT%% of every replica's documents "
                         "with one fixed boilerplate template, so one "
                         "LSH bucket / CC component grows linearly "
                         "with the multiplier; also prints the "
                         "hot-bucket guard's drop accounting")
    ap.add_argument("--all", action="store_true",
                    help="sweep EVERY registered query (VERDICT r7 "
                         "item 6) instead of the hand-picked probe "
                         "list; any query stepping super-linearly or "
                         "blowing --budget-s is flagged in the final "
                         "sweep_flags line — the round's closing gate "
                         "fails on unexplained flags")
    ap.add_argument("--budget-s", type=float, default=120.0,
                    help="per-query per-mult wall budget; the job "
                         "group is cancelled past it and the query is "
                         "flagged (only enforced with --all)")
    ap.add_argument("--clean", action="store_true",
                    help="remove scratch data and exit")
    args = ap.parse_args()
    if args.clean:
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    mults = [int(m) for m in args.mults.split(",")]
    if max(mults) > 126:
        # documents-only tier (see synthesize): every other table is
        # symlinked UNREPLICATED, so a probe reading it would silently
        # measure 1x volume — refuse anything but the documents family
        allowed = lambda p: (p.startswith(("dedup", "docs_", "wordcount"))  # noqa: E731
                             or p in {"pagerank_neardup", "phrase_search"})
        bad = [p for p in (args.probes.split(",") if args.probes else PROBES)
               if not allowed(p)]
        if bad or args.all or args.zipf_hot or args.hot_cluster:
            ap.error(
                f"mults past 126 build a documents-only corpus; "
                f"non-document probes not supported there: "
                f"{bad or ['--all/--zipf-hot/--hot-cluster']}")
    if args.all:
        probes = sorted(registry.all_queries())
    else:
        probes = (args.probes.split(",") if args.probes else PROBES)
        # any registered query is probe-able; PROBES is the curated
        # default list plus the probe-only entries patched in below
        unknown = (set(probes) - set(PROBES)
                   - set(registry.all_queries()))
        if unknown:
            ap.error(f"unknown probes: {sorted(unknown)}")

    # local-mode JVM defaults to a 1 GiB heap — fine for sf0.1, OOM
    # for the 25x union write.  The probe is exactly the situation
    # where heap should scale with data volume (or, with a capped
    # --driver-memory, where a shape's memory cliff should SHOW).
    spark = get_spark(
        "scaling-probe",
        extra_conf={"spark.driver.memory": args.driver_memory},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    heap_max_mb = round(
        jvm.java.lang.Runtime.getRuntime().maxMemory() / (1024 * 1024))
    print(json.dumps({"heap_max_mb": heap_max_mb,
                      "driver_memory": args.driver_memory}), flush=True)
    qs = dict(registry.all_queries())
    # Probe-only entries that deliberately differ from the registry:
    # the REGISTERED semdedup pins k=KMEANS_K so its unrolled-Lloyd
    # oracle is an exact twin on arbitrary data (ADVICE r6); the
    # SCALE path is the k=None auto-K default, so that is what the
    # probe must measure (fixed K was the 129 s-at-25x quadratic).
    from types import SimpleNamespace

    from grpc_map_reduce_spark.operators.similarity import semdedup
    from grpc_map_reduce_spark.sources.tables import table as _table

    qs["semdedup_auto_k"] = SimpleNamespace(
        spark_fn=lambda spark, sf: semdedup(_table(spark, sf, "embeddings"))
    )
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_lsh_selective_scaled,
        planted_near_dup_corpus,
    )

    qs["embedding_lsh_selective_scaled"] = SimpleNamespace(
        spark_fn=lambda spark, sf: embedding_lsh_selective_scaled(
            planted_near_dup_corpus(_table(spark, sf, "embeddings"))
        )
    )
    from grpc_map_reduce_spark.operators.similarity import (
        embedding_incremental_neardup_scaled,
        planted_twins,
    )

    qs["embedding_incremental_scaled"] = SimpleNamespace(
        spark_fn=lambda spark, sf: embedding_incremental_neardup_scaled(
            _table(spark, sf, "embeddings"),
            planted_twins(_table(spark, sf, "embeddings")),
        )
    )
    # the guard-ON text-LSH pair path for --hot-cluster runs (the
    # registered dedup_lsh_neardup is the unguarded oracle twin)
    from grpc_map_reduce_spark.operators.dedup import lsh_near_dup

    qs["dedup_lsh_guarded"] = SimpleNamespace(
        spark_fn=lambda spark, sf: lsh_near_dup(
            _table(spark, sf, "documents")
        )
    )
    # absorb session/scan warmup outside the x1 timings
    qs[probes[0]].spark_fn(spark, BASE_SF).write.format("noop").mode(
        "overwrite"
    ).save()
    import threading

    sc = spark.sparkContext
    budget = args.budget_s if getattr(args, "all") else None
    results: dict[str, dict[int, float]] = {q: {} for q in probes}
    peaks: dict[str, dict[int, int]] = {q: {} for q in probes}
    timeouts: list[dict] = []
    for mult in mults:
        sf_dir = synthesize(spark, mult, args.zipf_hot, args.hot_cluster)
        for name in probes:
            # settle the heap, then zero the peak counters so the
            # recorded peak belongs to THIS probe alone
            jvm.System.gc()
            _reset_heap_peaks(jvm)
            t0 = time.perf_counter()
            timer = None
            if budget:
                sc.setJobGroup(name, f"sweep:{name}@x{mult}",
                               interruptOnCancel=True)
                timer = threading.Timer(
                    budget, lambda n=name: sc.cancelJobGroup(n))
                timer.start()
            try:
                # the scope releases the probe's pins when it exits,
                # untimed, so later probes aren't timed under earlier
                # probes' storage
                with pins():
                    qs[name].spark_fn(spark, sf_dir).write.format(
                        "noop").mode("overwrite").save()
                    dt = round(time.perf_counter() - t0, 3)
            except Exception as exc:
                dt = None
                timeouts.append({"query": name, "mult": mult,
                                 "budget_s": budget,
                                 "err": type(exc).__name__})
                print(json.dumps(timeouts[-1]), flush=True)
                # A JVM-level failure (heap OOM, dead executor, full
                # disk) poisons the shared local JVM: round 10's 625x
                # run recorded dedup_simhash/dedup_ngram_jaccard_
                # guarded as failed purely because docs_leakage_safe_
                # split had OOM'd the session two probes earlier (both
                # pass standalone, 52/57 s).  A budget cancel is fine
                # — only rebuild after a genuinely broken session.
                if not _session_alive(spark):
                    print(json.dumps({"session_restart_after": name,
                                      "mult": mult}), flush=True)
                    # The rebuild itself can raise — the restart
                    # fires exactly when the JVM/py4j gateway may be
                    # dead (ADVICE r10).  Shut the gateway down so
                    # getOrCreate launches a FRESH JVM (driver.memory
                    # is a static conf — a no-op on a surviving JVM),
                    # and never let a failed rebuild abort the sweep
                    # before the summary.
                    try:
                        spark = _rebuild_session(
                            spark, args.driver_memory, qs[probes[0]],
                        )
                    except Exception as rexc:
                        print(json.dumps({
                            "fatal_session_rebuild": type(rexc).__name__,
                            "after": name, "mult": mult}), flush=True)
                        spark = None
                    if spark is None:
                        break
                    sc = spark.sparkContext
                    jvm = sc._jvm
            finally:
                if timer is not None:
                    timer.cancel()
                    try:
                        sc.setJobGroup("", "")
                    except Exception:
                        pass  # gateway may be gone; summary still prints
            pk = _peak_heap_mb(jvm)
            if dt is not None:
                results[name][mult] = dt
                peaks[name][mult] = pk
                print(json.dumps({"query": name, "mult": mult, "sec": dt,
                                  "peak_heap_mb": pk}), flush=True)
        if spark is None:  # fatal rebuild — fall through to the summary
            break

    base = mults[0]
    summary = {
        name: {
            f"x{m}": round(times[m] / times[base], 2)
            for m in mults if m in times
        }
        for name, times in results.items() if base in times
    }
    print(json.dumps({"scaling_vs_x1": summary}))
    print(json.dumps({"peak_heap_mb": {
        name: {f"x{m}": mb for m, mb in by_mult.items()}
        for name, by_mult in peaks.items()}}))
    # Sweep gate (VERDICT r7 item 6): flag any consecutive-mult step
    # whose time ratio exceeds the data-growth ratio by >20% once the
    # larger time is non-noise (>3 s), plus every budget kill.  The
    # closing-gate contract: sweep_flags must be empty or each flag
    # explained in SURVEY §8.
    flags = list(timeouts)
    for name, times in results.items():
        ms = [m for m in mults if m in times]
        for lo, hi in zip(ms, ms[1:]):
            growth = hi / lo
            if times[hi] > 3.0 and times[hi] / max(times[lo], 1e-9) \
                    > growth * 1.2:
                flags.append({
                    "query": name, "step": f"x{lo}->x{hi}",
                    "sec": [times[lo], times[hi]],
                    "ratio": round(times[hi] / times[lo], 2),
                    "growth": growth,
                })
    print(json.dumps({"sweep_flags": flags}))
    # --hot-cluster drop accounting: what the guard dropped, and that
    # it actually fired on the mega-cluster (assert, not just report).
    if args.hot_cluster and spark is not None:
        from grpc_map_reduce_spark.operators.dedup import (
            LSH_MAX_BUCKET_DEFAULT,
            lsh_hot_buckets,
        )
        from pyspark.sql import functions as F

        top = max(mults)
        sf_dir = synthesize(spark, top, hot_cluster=args.hot_cluster)
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n_template = docs.filter(F.col("text") == HOT_TEMPLATE).count()
        hot = lsh_hot_buckets(docs, rows_per_band=1).agg(
            F.count("*").alias("n_buckets"), F.max("sz").alias("max_sz")
        ).first()
        acct = {
            "hot_cluster_pct": args.hot_cluster, "mult": top,
            "template_docs": n_template,
            "guard_dropped_buckets": hot["n_buckets"],
            "guard_max_bucket_sz": hot["max_sz"],
            "max_bucket": LSH_MAX_BUCKET_DEFAULT,
        }
        print(json.dumps({"hot_cluster_accounting": acct}), flush=True)
        assert n_template > LSH_MAX_BUCKET_DEFAULT, (
            "hot-cluster probe vacuous: template cluster smaller than "
            "the guard threshold")
        assert hot["n_buckets"] and hot["max_sz"] >= n_template, (
            "guard did not see the mega-cluster's bucket")
    if spark is not None:
        spark.stop()


if __name__ == "__main__":
    main()
