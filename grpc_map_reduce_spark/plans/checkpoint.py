"""Pins, their lifetime, and the round loop of iterative operators.

:func:`pin` is the one way the package pins a frame: a local
checkpoint that cuts the lineage and keeps the blocks on the
executors.  Every pin is stored at one level, ``DISK_ONLY``, and no
caller picks another.  This is the reference's policy — it writes
every intermediate to local disk at the stage boundary (PAPER.md
§1.3) — and it is the level the O(corpus) pins need: in round 11 even
the serialized memory+disk level ran the 8 GiB heap out of memory at
the 3125× tier (storage-pool unroll competing with 32 concurrent scan
tasks), while disk-only blocks never compete with execution memory
and at fixture scale the page cache makes the re-read free.

:func:`pins` scopes pin lifetime: every pin made inside a ``with
pins():`` block is unpersisted (blocking) when the block exits, also
by an exception, so a long-lived session running one query per block
accumulates no pinned blocks.  A pin made outside any scope lives
until the JVM ContextCleaner frees it with its frame.

A local checkpoint dies with its executor and has no lineage to
recompute from: fine in local mode (one JVM), not on a cluster, where
losing one of 1000 executors during a long job is near certain.
:func:`iterate`, the one round loop of every iterative operator
(connected components, pagerank, LPA, Lloyd refinement), therefore
cuts each round's lineage (without the cut the plan doubles per
round) through the swap point ``iter_checkpoint``: set the session conf

    spark.graft.reliableCheckpointDir = hdfs://.../checkpoints

(or call :func:`set_reliable_checkpoint_dir`) and each round's state
is a reliable ``Dataset.checkpoint()`` to that storage, so an executor
loss costs one re-read instead of the job.  Unset, a round is a
:func:`pin`.  Results are identical either way (test_round6_ops.py;
recovery under injected task failure: test_checkpoint_recovery.py).
Operator-level pins stay local in both modes: a pin lives within one
query, so recompute on executor loss is the plan's normal execution.

Retention: sessions built by :func:`grpc_map_reduce_spark.get_spark`
set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
superseded rounds' checkpoint files are deleted as their frames are
GC'd; on a foreign session without that (static) conf, per-round
checkpoint data accumulates until the app exits — budget storage
accordingly or enable the conf at session build.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Session conf key: when set to a storage path, iterative operators
#: use reliable checkpoint()-to-storage instead of localCheckpoint.
RELIABLE_DIR_CONF = "spark.graft.reliableCheckpointDir"


#: The one storage level of every pin, loop cache and pre-checkpoint
#: persist (see the module docstring).
_LEVEL = StorageLevel.DISK_ONLY

#: The JVM RDDs pinned inside the innermost active :func:`pins` scope,
#: or None outside any scope.
_scope: ContextVar[list | None] = ContextVar("pins", default=None)


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` local-checkpointed at the one pin level; lazy unless
    ``eager``.  Inside a :func:`pins` scope the pin is released when
    the scope exits."""
    out = df.localCheckpoint(eager=eager, storageLevel=_LEVEL)
    recorded = _scope.get()
    if recorded is not None:
        recorded.append(out._jdf.queryExecution().logical().rdd())
    return out


@contextmanager
def pins():
    """Scope for pin lifetime: every :func:`pin` made inside the block
    is unpersisted, blocking, when it exits (also by an exception).
    Run the actions that read those pins inside the block."""
    recorded: list = []
    token = _scope.set(recorded)
    try:
        yield
    finally:
        _scope.reset(token)
        for rdd in recorded:
            rdd.unpersist(True)


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

    :func:`pin` (fast, executor-local) unless the session's
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
        df = df.persist(_LEVEL)
        out = df.checkpoint(eager=True)
        df.unpersist()
        return out
    return pin(df, eager)


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
    edge table), ``persist``-ed at the pin level (deserialized, it
    was a third of the 125x probe's 13 GB pool-sum peak).  A cache,
    not a checkpoint: a checkpoint scan reports unknown partitioning,
    so every round would re-shuffle it, while the cache keeps its hash
    partitioning visible to the round's join and only the small state
    moves.  The last round is then eager, and the cache is released in
    a ``finally`` — after the result is materialized, or when a round
    raises.
    """
    if cache is not None:
        cache.persist(_LEVEL)
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
