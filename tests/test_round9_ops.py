"""Round-9 gates: the ADVICE r8 robustness fixes.

1. decode_with_quarantine records the exception CLASS per quarantined
   row (error_class column) — guard activity vs a codec programming
   bug must be distinguishable downstream.
2. The reliable-checkpoint foreign-dir compare normalizes authority
   (default-port fill-in) and relative local paths — no false
   'foreign dir' warning / pointless re-set per call.
3. q_embedding_lsh_selective_scaled self-diagnoses fixture growth:
   a corpus big enough to flip selective_band_params off the pinned
   r must raise a pointed AssertionError, not hash-mismatch opaquely.
"""

from __future__ import annotations

import pytest


def test_quarantine_records_error_class(spark):
    """Corrupt rows carry the exception type name; ok rows carry ''."""
    from grpc_map_reduce_spark.functions.png import encode_png
    from grpc_map_reduce_spark.operators.multimodal import (
        decode_with_quarantine,
    )

    png = encode_png(8, 8, 1, bytes(range(64)), filter_type=4)
    rows = [
        (0, png, ("png", 8, 8, 1)),            # ok
        (1, b"XXXX" + png[4:], ("png", 8, 8, 1)),  # clobbered signature
        (2, png[:7], ("png", 8, 8, 1)),        # truncated mid-signature
        (3, png, ("mp4", 8, 8, 1)),            # unsupported format
        (4, None, ("png", 8, 8, 1)),           # NULL payload
        (5, png, None),                        # NULL metadata
        (6, png, (None, 8, 8, 1)),             # NULL format
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media binary, "
        "media_meta struct<format:string,width:int,height:int,n_frames:int>",
    )
    got = {r.doc_id: (r.status, r.error_class)
           for r in decode_with_quarantine(media).collect()}
    assert got[0] == ("ok", "")
    assert got[3] == ("unsupported_format", "")
    # a NULL payload or metadata struct is a corrupt row, never a
    # TypeError that kills the job
    assert got[4] == ("corrupt", "ValueError")
    assert got[5] == ("corrupt", "ValueError")
    assert got[6] == ("corrupt", "ValueError")
    for doc_id in (1, 2):
        status, cls = got[doc_id]
        assert status == "corrupt"
        # the class name itself, so a KeyError from a genuine codec
        # bug is visible as such instead of anonymized (ADVICE r8)
        assert cls in {"ValueError", "KeyError", "IndexError",
                       "error"}  # struct.error / zlib.error → 'error'
        assert cls != ""


def test_stored_dir_matches_normalizes_authority_and_relative_paths():
    """ADVICE r8: the compare must survive the FS client filling in a
    default port and a relative configured path — both previously
    false-warned 'foreign dir' and re-set the dir every call."""
    import os

    from grpc_map_reduce_spark.plans.checkpoint import _stored_dir_matches

    # authority normalization: configured without a port, stored back
    # with the client's default filled in
    assert _stored_dir_matches("hdfs://nn:8020/ckpt/uuid-1", "hdfs://nn/ckpt")
    assert _stored_dir_matches("hdfs://nn/ckpt/uuid-1", "hdfs://nn:8020/ckpt")
    # explicit CONFLICTING ports are a real mismatch
    assert not _stored_dir_matches("hdfs://nn:9000/ckpt/u", "hdfs://nn:8020/ckpt")
    # different host is foreign
    assert not _stored_dir_matches("hdfs://other/ckpt/u", "hdfs://nn/ckpt")
    # prefix-sharing dir stays foreign (the ADVICE r7 case)
    assert not _stored_dir_matches("file:/a/ckpt-old/u", "/a/ckpt")
    # relative configured path resolves against cwd
    rel_stored = f"file:{os.path.abspath('ckpt9')}/uuid-2"
    assert _stored_dir_matches(rel_stored, "ckpt9")
    # plain local round trip (what local mode actually stores)
    assert _stored_dir_matches("file:/tmp/x/ckpt/uuid-3", "/tmp/x/ckpt")
    assert _stored_dir_matches("/tmp/x/ckpt/uuid-3", "file:///tmp/x/ckpt")


def test_scaled_selective_registration_self_diagnoses_fixture_growth(
    spark, monkeypatch,
):
    """If the fixture corpus ever grows past the r=16 regime, the
    registered wrapper must fail with a message naming
    selective_band_params, not an opaque oracle hash mismatch."""
    from grpc_map_reduce_spark.operators import similarity

    # force the next r up without building a >4096-vector corpus
    monkeypatch.setattr(
        similarity, "selective_band_params",
        lambda n, n_bands=6, floor=16: (n_bands * 17, 17),
    )
    with pytest.raises(AssertionError, match="selective_band_params"):
        similarity.q_embedding_lsh_selective_scaled(
            spark, "/root/testdata/sf0.001"
        )
