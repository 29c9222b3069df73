"""Round loop and checkpoint strategy for iterative operators.

:func:`iterate` is the one round loop every iterative operator runs
(connected components, pagerank, LPA, Lloyd refinement): the operator
supplies one round's step and the driver owns the per-round lineage
cut, the optional convergence test and its round cap, and the
loop-invariant edge cache.  Lineage is cut every round — without it
the plan doubles per iteration and the optimizer chokes.
``localCheckpoint`` is the right default: it pins blocks on the
executors with zero external storage.  But local checkpoint blocks
DIE WITH THEIR EXECUTOR, and a localCheckpoint-ed frame has no
lineage to recompute from — on a real cluster, losing one executor
mid-iteration kills the whole job.  That is acceptable in local mode
(one JVM — if it dies, everything dies) and NOT acceptable on 1000
executors, where the probability of at least one loss during a long
job approaches 1.

``iter_checkpoint`` is the swap point: set the session conf

    spark.graft.reliableCheckpointDir = hdfs://.../checkpoints

(or call :func:`set_reliable_checkpoint_dir`) and every iterative
operator switches to reliable ``Dataset.checkpoint()`` — each round's
state is written to fault-tolerant storage, so an executor loss costs
one re-read instead of the job.  Default (conf unset) stays
``localCheckpoint``: no behavior change locally, identical results
either way (checkpointing is a materialization strategy, not a
semantics change — fixture hashes are invariant, tested in
test_round6_ops.py; recovery under injected task failure is tested in
test_checkpoint_recovery.py).

Retention: sessions built by :func:`grpc_map_reduce_spark.get_spark`
set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
superseded rounds' checkpoint files are deleted as their frames are
GC'd; on a foreign session without that (static) conf, per-round
checkpoint data accumulates until the app exits — budget storage
accordingly or enable the conf at session build.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Session conf key: when set to a storage path, iterative operators
#: use reliable checkpoint()-to-storage instead of localCheckpoint.
RELIABLE_DIR_CONF = "spark.graft.reliableCheckpointDir"


#: Storage level of every pin: ``iter_checkpoint``'s local path, the
#: operators' own ``localCheckpoint`` pins and :func:`iterate`'s
#: loop-invariant cache.  SERIALIZED memory+disk (PySpark's
#: MEMORY_AND_DISK; the JVM default is the deserialized variant): the
#: pins are the engine's only O(corpus) materializations, and the
#: deserialized unroll reserves memory in whole-block units — under a
#: capped heap with 32 tasks unrolling at once that is exactly where
#: the 125x probe OOM'd (MemoryStore putIteratorAsValues →
#: SizeEstimator).  The serialized path reserves incrementally and
#: spills the tail of a block to disk instead of failing the job.
#: Pins stay local even in reliable-checkpoint mode: a pin lives
#: within one query, so recompute-on-executor-loss is the plan's
#: normal (re)execution, not a correctness risk.
PIN_LEVEL = StorageLevel.MEMORY_AND_DISK


def _norm_ckpt_uri(uri: str) -> tuple:
    """(scheme, host, port, path) with local/relative paths resolved
    absolute — the comparable form of a checkpoint dir URI."""
    from urllib.parse import urlparse

    p = urlparse(uri)
    if p.scheme in ("", "file"):
        # local path — possibly relative, possibly 'file:/x' with no
        # netloc: resolve absolute
        return ("file", "", None,
                os.path.abspath(p.path or uri).rstrip("/") or "/")
    return (p.scheme, (p.hostname or "").lower(), p.port,
            (p.path or "/").rstrip("/") or "/")


def _stored_dir_matches(stored: str, conf_path: str) -> bool:
    """Does the context's stored checkpoint dir (``conf_path/<uuid>``
    as rewritten by setCheckpointDir, possibly with the FS client's
    scheme/authority normalization applied) live under ``conf_path``?

    Compares the UUID segment's PARENT against the configured dir on
    fully-normalized components — substring containment would accept
    a foreign dir sharing a prefix ('/a/ckpt' inside
    '/a/ckpt-old/<uuid>', ADVICE r7), and a raw string compare
    false-warns on authority normalization ('hdfs://nn/ckpt' stored
    back as 'hdfs://nn:8020/ckpt/<uuid>') or a relative local conf
    path, re-setting the dir on every call (ADVICE r8)."""
    s_scheme, s_host, s_port, s_path = _norm_ckpt_uri(stored)
    parent = s_path.rsplit("/", 1)[0] or "/"
    w_scheme, w_host, w_port, w_path = _norm_ckpt_uri(conf_path)
    if (s_scheme, s_host) != (w_scheme, w_host):
        return False
    # a side with NO explicit port had the scheme default filled in
    # by the FS client — treat missing as wildcard
    if s_port is not None and w_port is not None and s_port != w_port:
        return False
    return parent == w_path


def set_reliable_checkpoint_dir(spark: SparkSession, path: str | None) -> None:
    """Enable (path) or disable (None) reliable iterative checkpoints
    for this session.

    A relative LOCAL path is resolved absolute HERE, once, before it
    is stored in the conf (ADVICE r9): ``_norm_ckpt_uri`` otherwise
    re-abspaths the conf value against the driver's CWD at each
    ``iter_checkpoint`` call, so a CWD change between calls would make
    the stored dir stop normalizing equal and false-fire the
    foreign-dir warning.  (Callers setting ``RELIABLE_DIR_CONF``
    directly via ``spark.conf.set`` should pass an absolute or
    scheme-qualified path for the same reason.)"""
    if path is None:
        spark.conf.unset(RELIABLE_DIR_CONF)
    else:
        from urllib.parse import urlparse

        if urlparse(path).scheme in ("", "file"):
            path = "file:" + os.path.abspath(
                urlparse(path).path or path
            ) if path.startswith("file:") else os.path.abspath(path)
        spark.conf.set(RELIABLE_DIR_CONF, path)
        spark.sparkContext.setCheckpointDir(path)


def iter_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage-truncating checkpoint for loop-carried state.

    localCheckpoint (fast, executor-local) unless the session's
    ``spark.graft.reliableCheckpointDir`` is set, in which case a
    reliable ``checkpoint()`` to that directory (survives executor
    loss).  ``eager=False`` preserves the one-job-per-round pattern
    in both modes.
    """
    spark = df.sparkSession
    path = spark.conf.get(RELIABLE_DIR_CONF, None)
    if path:
        sc = spark.sparkContext
        # setCheckpointDir(p) stores p/<uuid> (often with a file:
        # scheme prefix; see _stored_dir_matches), so the stored dir
        # never string-equals the conf value.  Set it when nothing is
        # set yet, and OVERRIDE (with a warning) when a dir set for
        # some other purpose doesn't contain the conf path — silently
        # checkpointing into a foreign dir would make the reliable
        # knob a no-op for operators that rely on it (ADVICE r6).
        cur = sc._jsc.sc().getCheckpointDir()
        if cur.isEmpty():
            sc.setCheckpointDir(path)
        elif not _stored_dir_matches(cur.get(), path):
            import warnings

            warnings.warn(
                f"checkpoint dir {cur.get()!r} differs from "
                f"{RELIABLE_DIR_CONF}={path!r}; overriding to the conf path",
                stacklevel=2,
            )
            sc.setCheckpointDir(path)
        # Cache-then-checkpoint, always eager: RDD checkpoint files
        # are written by a SECOND job after the first action, which
        # recomputes the full plan unless its blocks are cached — the
        # classic double-compute trap (ADVICE r6).  Persisting first
        # makes the write job read blocks; the pin is released as
        # soon as the checkpointed frame exists.  The caller's
        # eager=False (one-job-per-round in local mode) is
        # deliberately ignored here: a LAZY reliable checkpoint would
        # defer the write into whichever later action fires first and
        # pay the recompute then, which is strictly worse.
        df = df.persist(PIN_LEVEL)
        out = df.checkpoint(eager=True)
        df.unpersist()
        return out
    # PIN_LEVEL: one serialize per round on state read exactly once
    # next round — noise at fixture scale, and the difference between
    # "needs 2x heap headroom" and "runs in the heap it's given" at 125x.
    return df.localCheckpoint(eager=eager, storageLevel=PIN_LEVEL)


def iterate(state: DataFrame, step, rounds: int, *, converge: bool = False,
            cache: DataFrame | None = None) -> DataFrame:
    """The round loop of every iterative operator: ``state`` after up
    to ``rounds`` applications of ``step`` (DataFrame -> DataFrame).

    Every round's output is cut by :func:`iter_checkpoint`, lazily, so
    in local mode a round costs only the one job that next reads it;
    reliable mode writes every round to storage.

    ``converge=True`` stops at the first round whose ``(count,
    bit_xor(xxhash64(row)))`` signature — order-insensitive, and unlike
    a sum it cannot overflow under ANSI mode — repeats the previous
    round's; that aggregate is the round's one job.  Using all
    ``rounds`` without a repeat raises ``RuntimeError``: a state short
    of its fixpoint is a wrong answer, not an approximate one.

    ``cache`` is a loop-invariant frame the step reads every round (an
    edge table), ``persist``-ed at :data:`PIN_LEVEL` (deserialized, it
    was a third of the 125x probe's 13 GB pool-sum peak).  A cache,
    not a checkpoint: a checkpoint scan reports unknown partitioning,
    so every round would re-shuffle it, while the cache keeps its hash
    partitioning visible to the round's join and only the small state
    moves.  The last round is then eager, and the cache is released in
    a ``finally`` — after the result is materialized, or when a round
    raises.
    """
    if cache is not None:
        cache.persist(PIN_LEVEL)
    try:
        prev = None
        for i in range(rounds):
            eager = cache is not None and not converge and i == rounds - 1
            state = iter_checkpoint(step(state), eager=eager)
            if converge:
                sig = tuple(state.agg(
                    F.count("*"),
                    F.coalesce(F.bit_xor(F.xxhash64(*state.columns)), F.lit(0)),
                ).first())
                if sig == prev:
                    return state
                prev = sig
        if converge:
            raise RuntimeError(
                f"no fixpoint within the round cap of {rounds} rounds")
        return state
    finally:
        if cache is not None:
            cache.unpersist(blocking=False)
