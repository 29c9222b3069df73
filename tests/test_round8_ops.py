"""Round-8 gates: the three ADVICE r7 robustness fixes.

1. decode_with_quarantine must survive ARBITRARY corruption — not just
   the registered query's 4-byte SOI clobber (which always raises
   ValueError) but truncation mid-marker (IndexError), short segment
   bodies (struct.error), scans referencing undeclared components
   (KeyError), and corrupt PNG IDAT streams (zlib.error).
2. iter_checkpoint's foreign-dir detection must compare path
   components, not substrings ('/a/ckpt' must not match inside
   '/a/ckpt-old/<uuid>').
3. triangle_counts' wedge-batch auto-sizing must WARN when the
   32-batch cap binds (the bounded-memory guarantee degrades there).
"""

from __future__ import annotations

import glob
import struct
import warnings
import zlib

import pytest
from pyspark.sql import functions as F


QUARANTINE_EXCEPTIONS = (
    ValueError, KeyError, IndexError, struct.error, zlib.error,
    NotImplementedError,
)


def _real_jpeg() -> bytes:
    paths = sorted(glob.glob(
        "/opt/spark-*/data/mllib/images/origin/kittens/*.jpg"
    ))
    if paths:
        return open(paths[0], "rb").read()
    from grpc_map_reduce_spark.functions.jpeg import encode_jpeg

    return encode_jpeg(16, 16, 3, bytes(range(256)) * 3, subsample=True)


def _mangles(payload: bytes) -> list[bytes]:
    """Deterministic corruption corpus: truncations at awkward byte
    positions (mid-marker, mid-segment-length, mid-entropy-stream) and
    single-byte clobbers sweeping the header region."""
    out = []
    n = len(payload)
    for cut in (0, 1, 2, 3, 5, 9, 17, 40, 120, n // 4, n // 2, n - 1):
        out.append(payload[: min(cut, n)])
    for pos in range(2, min(n, 350), 7):
        out.append(payload[:pos] + bytes([payload[pos] ^ 0xFF])
                   + payload[pos + 1:])
    return out


def test_decode_raises_only_quarantinable_exceptions():
    """Every way we can mangle a REAL libjpeg photo and a real PNG,
    the codec must either decode or raise an exception class the
    quarantine catches — anything else would kill a 100 TB ingest job
    on one bad blob (ADVICE r7)."""
    from grpc_map_reduce_spark.functions.png import encode_png
    from grpc_map_reduce_spark.operators.multimodal import _decode

    jpeg = _real_jpeg()
    png = encode_png(8, 8, 1, bytes(range(64)), filter_type=4)
    tested = 0
    for fmt, base in (("jpeg", jpeg), ("png", png)):
        for blob in _mangles(base):
            try:
                _decode(blob, fmt)
            except QUARANTINE_EXCEPTIONS:
                pass
            tested += 1
    assert tested > 80


def test_quarantine_catches_every_corruption_class(spark):
    """The Spark-side contract: a corpus of arbitrarily mangled
    payloads flows through decode_with_quarantine into countable
    status rows — zero task failures."""
    from grpc_map_reduce_spark.functions.png import encode_png
    from grpc_map_reduce_spark.operators.multimodal import (
        decode_with_quarantine,
    )

    jpeg = _real_jpeg()
    png = encode_png(8, 8, 1, bytes(range(64)), filter_type=4)
    rows = []
    i = 0
    for fmt, base in (("jpeg", jpeg), ("png", png)):
        for blob in _mangles(base)[:40]:
            rows.append((i, bytearray(blob), fmt))
            i += 1
    # one intact payload per codec so 'ok' appears too
    rows.append((i, bytearray(jpeg), "jpeg"))
    rows.append((i + 1, bytearray(png), "png"))
    media = spark.createDataFrame(
        [(d, bytes(b), (f, 8, 8, 1)) for d, b, f in rows],
        "doc_id long, media binary, "
        "media_meta struct<format:string,width:int,height:int,n_frames:int>",
    )
    got = {r.doc_id: r.status for r in decode_with_quarantine(media).collect()}
    assert len(got) == len(rows)
    assert set(got.values()) <= {"ok", "corrupt"}
    assert got[len(rows) - 2] == "ok" and got[len(rows) - 1] == "ok"
    assert sum(1 for s in got.values() if s == "corrupt") > 20


def test_reliable_checkpoint_prefix_collision_overridden(spark, tmp_path):
    """ADVICE r7: a pre-existing checkpoint dir that merely shares a
    string prefix with the conf path ('ckpt-old' vs 'ckpt') must be
    treated as FOREIGN and overridden, so reliable checkpoints land
    under the configured dir."""
    import os

    from grpc_map_reduce_spark.plans.checkpoint import (
        iter_checkpoint,
        set_reliable_checkpoint_dir,
    )

    sc = spark.sparkContext
    foreign = str(tmp_path / "ckpt-old")
    conf_dir = str(tmp_path / "ckpt")
    sc.setCheckpointDir(foreign)  # stored as <foreign>/<uuid>
    spark.conf.set("spark.graft.reliableCheckpointDir", conf_dir)
    try:
        with pytest.warns(UserWarning, match="differs from"):
            df = iter_checkpoint(spark.range(20).toDF("n"))
        assert df.count() == 20
        stored = sc._jsc.sc().getCheckpointDir().get()
        assert "ckpt-old" not in stored
        wrote = any(files for _, _, files in os.walk(conf_dir))
        assert wrote, "checkpoint data must land under the conf dir"
    finally:
        set_reliable_checkpoint_dir(spark, None)


def test_reliable_checkpoint_own_subdir_not_overridden(spark, tmp_path):
    """The complement: the UUID subdir setCheckpointDir itself created
    under the conf path must be recognized as OURS — no warning, no
    pointless re-set."""
    from grpc_map_reduce_spark.plans.checkpoint import (
        iter_checkpoint,
        set_reliable_checkpoint_dir,
    )

    conf_dir = str(tmp_path / "ckpt2")
    set_reliable_checkpoint_dir(spark, conf_dir)  # sets dir to conf path
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            df = iter_checkpoint(spark.range(7).toDF("n"))
            assert df.count() == 7
    finally:
        set_reliable_checkpoint_dir(spark, None)


def test_wedge_batch_cap_binding_warns(spark, monkeypatch):
    """ADVICE r7: when ceil(n_wedges / WEDGE_ROWS_PER_BATCH) exceeds
    the 32-pass cap, the 'peak = max(batch)' bound quietly stops
    holding — that boundary must be a visible warning, and the capped
    run must still produce exact counts."""
    from grpc_map_reduce_spark.operators import clustering

    # K5: 10 wedges per apex choice... a clique gives plenty of wedges.
    nodes = list(range(9))
    edges = spark.createDataFrame(
        [(a, b) for a in nodes for b in nodes if a < b], "src long, dst long"
    )
    want = {(r.node, r.n_triangles)
            for r in clustering.triangle_counts(edges).collect()}
    monkeypatch.setattr(clustering, "WEDGE_ROWS_PER_BATCH", 1)
    # the latch is keyed on the active session id (ADVICE r9) —
    # clearing it means "no session has warned yet"
    monkeypatch.setattr(clustering, "_WEDGE_CAP_WARNED_SESSION", None)
    with pytest.warns(RuntimeWarning, match="cap holds it at 32"):
        got = {(r.node, r.n_triangles)
               for r in clustering.triangle_counts(edges).collect()}
    assert got == want
    # once per session: a repeat call (the iterative-caller shape,
    # ADVICE r8) must stay silent even with the warnings filter set
    # to error
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # a PySpark collect socket finalized inside this block emits a
        # ResourceWarning; as an error it would be raised in a
        # finalizer, where pytest can only report it as unraisable
        warnings.simplefilter("ignore", ResourceWarning)
        again = {(r.node, r.n_triangles)
                 for r in clustering.triangle_counts(edges).collect()}
    assert again == want
