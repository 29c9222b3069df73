"""Multimodal plumbing tests: schema, batch contract, determinism,
stub behavior for unsupported codecs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grpc_map_reduce_spark.operators.multimodal import (
    FEAT_DIM,
    _decode,
    attach_fake_media,
    extract_features,
    resize_media,
    sample_frames,
)
from grpc_map_reduce_spark.sources.tables import table


def test_media_schema(spark, sf_dir):
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,media:binary,"
        "media_meta:struct<format:string,width:int,height:int,n_frames:int>>"
    )
    row = media.orderBy("doc_id").first()
    assert isinstance(row.media, (bytes, bytearray)) and len(row.media) > 0


def test_encoder_maps_null_text_to_null_media(spark):
    """A NULL text encodes to a NULL payload, as attach_fake_media's
    ``F.encode`` does, and that payload quarantines as corrupt."""
    from grpc_map_reduce_spark.operators.multimodal import (
        attach_png_media,
        decode_with_quarantine,
    )

    docs = spark.createDataFrame([(1, "a" * 47), (2, None)],
                                 "doc_id long, text string")
    media = attach_png_media(docs)
    got = {r.doc_id: r.media for r in media.collect()}
    assert got[1] is not None and got[2] is None
    status = {r.doc_id: (r.status, r.error_class)
              for r in decode_with_quarantine(media).collect()}
    assert status == {1: ("ok", ""), 2: ("corrupt", "ValueError")}


@pytest.mark.parametrize("consumer", ["dhash_images", "augment_media",
                                      "sample_gif_frames"])
def test_direct_codec_consumers_reject_null_media(spark, consumer):
    """The consumers that call a codec directly name a NULL payload
    with ``_media_format``'s ValueError, not a TypeError inside the
    codec."""
    from pyspark.errors import PythonException

    from grpc_map_reduce_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, None, None)],
        f"doc_id long, media binary, media_meta {multimodal.MEDIA_META_DDL}")
    with pytest.raises(PythonException, match="ValueError: media is NULL"):
        getattr(multimodal, consumer)(media).collect()


def test_extract_features_shape_and_determinism(spark, sf_dir):
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    rows = {r.doc_id: r for r in feats.collect()}
    docs = {r.doc_id: r for r in table(spark, sf_dir, "documents").collect()}
    assert set(rows) == set(docs)
    any_row = next(iter(rows.values()))
    assert len(any_row.feat) == FEAT_DIM
    assert all(0.0 <= x <= 1.0 for x in any_row.feat)
    # payload length == utf-8 byte length of the source text
    sample = list(rows)[:20]
    for d in sample:
        assert rows[d].n_bytes == len(docs[d].text.encode("utf-8"))
    again = {r.doc_id: r.feat for r in extract_features(media).collect()}
    assert all(again[d] == rows[d].feat for d in sample)


def test_resize_pads_or_truncates(spark, sf_dir):
    media = attach_fake_media(table(spark, sf_dir, "documents")).limit(50)
    resized = resize_media(media, 16, 16)
    for r in resized.collect():
        assert len(r.media) == 256
        assert r.media_meta.width == 16 and r.media_meta.height == 16


def test_frame_sampling(spark, sf_dir):
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=4)
    meta = {r.doc_id: r.media_meta.n_frames for r in media.collect()}
    counts: dict[int, int] = {}
    for r in frames.collect():
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
        assert r.frame_idx % 4 == 0
    for d, n in counts.items():
        expected = (meta[d] + 3) // 4  # ceil(n_frames / 4)
        assert n == expected


def test_decode_png_is_real_and_video_still_raises():
    from grpc_map_reduce_spark.functions.png import encode_png

    pix = bytes(range(64))
    assert _decode(encode_png(8, 8, 1, pix, filter_type=4), "png") == pix
    with pytest.raises(NotImplementedError):
        _decode(b"\x00\x00\x00\x1cftypmp42", "mp4")


def test_decode_jpeg_is_real_including_420():
    """Round 7: jpeg payloads flow through the same _decode boundary
    as every other codec — grayscale exactly (integer pipeline),
    4:2:0 color approximately, corrupt ones as the quarantine's
    ValueError class."""
    from grpc_map_reduce_spark.functions.jpeg import encode_jpeg

    pix = bytes(range(64))
    out = _decode(encode_jpeg(8, 8, 1, pix), "jpeg")
    assert len(out) == 64
    rgb = bytes((200, 60, 120) * 64)
    out = _decode(encode_jpeg(8, 8, 3, rgb, subsample=True), "jpeg")
    assert len(out) == 192
    assert max(abs(a - b) for a, b in zip(rgb, out)) <= 3
    with pytest.raises(ValueError):
        _decode(b"XXXX" + encode_jpeg(8, 8, 1, pix)[4:], "jpeg")


def test_png_resize_real_pixels():
    import numpy as np

    from grpc_map_reduce_spark.functions.png import decode_png, encode_png
    from grpc_map_reduce_spark.operators.multimodal import _resize_pixels

    w, h, ch = 6, 4, 3
    pix = bytes((7 * i + 3) % 251 for i in range(w * h * ch))
    small = _resize_pixels(pix, w, h, ch, 3, 2)
    a = np.frombuffer(pix, np.uint8).reshape(h, w, ch)
    want = np.stack([
        [a[0, 0], a[0, 2], a[0, 4]],
        [a[2, 0], a[2, 2], a[2, 4]],
    ]).tobytes()
    assert small == want
    # full encode->decode->resize->encode->decode chain preserves bytes
    png = encode_png(w, h, ch, pix, filter_type=3)
    _, _, _, dec = decode_png(png)
    png2 = encode_png(3, 2, ch, _resize_pixels(dec, w, h, ch, 3, 2), 4)
    assert decode_png(png2)[3] == want


def test_wav_codec_round_trip_and_rejection():
    import struct

    import pytest as _pytest

    from grpc_map_reduce_spark.functions.wav import decode_wav, encode_wav

    for rate, ch, bits, n in [(8000, 1, 8, 255), (44100, 2, 16, 128)]:
        width = ch * bits // 8
        samples = bytes((13 * i) % 256 for i in range(n * width))
        wav = encode_wav(rate, ch, bits, samples)
        assert decode_wav(wav) == (rate, ch, bits, samples)
        # odd-sized data chunk must be word-aligned in the container
        assert len(wav) % 2 == 0

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"JUNKJUNKJUNKJUNK")
    wav = bytearray(encode_wav(8000, 1, 8, b"abcd"))
    # audio format field lives at offset 20 (RIFF 12 + 'fmt ' header 8)
    wav[20:22] = struct.pack("<H", 3)  # IEEE float PCM
    with _pytest.raises(ValueError, match="audio format"):
        decode_wav(bytes(wav))


def test_wav_features_match_hand_computation(spark):
    from grpc_map_reduce_spark.operators.multimodal import (
        attach_wav_media,
        audio_features,
    )

    docs = spark.createDataFrame(
        [(1, "aZaZ" * 80)], "doc_id long, text string"
    )
    r = audio_features(attach_wav_media(docs)).collect()[0]
    # 'a'=97 -> -31, 'Z'=90 -> -38; padding ' '=32 -> -96
    pad = 256 - 320  # text longer than WAV_N: no padding, 256 samples
    assert r["n_samples"] == 256
    assert r["energy"] == 128 * (31 + 38)
    assert r["peak"] == 38
    assert r["zero_crossings"] == 0  # all samples below midline


def test_webdataset_write_read_round_trip(spark, sf_dir, tmp_path):
    from grpc_map_reduce_spark.sources.tables import table
    from grpc_map_reduce_spark.sources.webdataset import (
        read_tar_members,
        write_tar_shards,
    )

    docs = table(spark, sf_dir, "documents").select(
        F.format_string("%08d.txt", "doc_id").alias("member"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = str(tmp_path / "shards")
    meta = write_tar_shards(docs, out, n_shards=4).collect()
    assert {r["shard_id"] for r in meta} <= set(range(4))
    assert sum(r["n_members"] for r in meta) == docs.count()

    back = read_tar_members(spark, out + "/*.tar")
    got = {
        (r["member"], bytes(r["payload"]))
        for r in back.collect()
    }
    want = {
        (r["member"], bytes(r["payload"])) for r in docs.collect()
    }
    assert got == want
    # determinism: the same write produces byte-identical shards
    out2 = str(tmp_path / "shards2")
    write_tar_shards(docs, out2, n_shards=4).collect()
    import pathlib

    for p in pathlib.Path(out).glob("*.tar"):
        assert p.read_bytes() == (pathlib.Path(out2) / p.name).read_bytes()


def test_spectrogram_matches_direct_dft(spark, sf_dir):
    """Cross-check the fixed-point DFT operator against an independent
    O(N^2) direct-definition recompute built entirely outside Spark
    (same Q7 quantization rule, re-derived here, EXACT equality)."""
    import math

    from grpc_map_reduce_spark.operators.multimodal import (
        SPEC_FRAME,
        WAV_N,
        attach_wav_media,
        audio_spectrogram,
    )
    from grpc_map_reduce_spark.sources.tables import table

    docs = table(spark, sf_dir, "documents").limit(40)
    got = {
        (r.doc_id, r.frame_idx): (r.frame_energy, r.dominant_bin,
                                  r.dominant_pow)
        for r in audio_spectrogram(attach_wav_media(docs)).collect()
    }

    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    n_checked = 0
    for doc_id, text in texts.items():
        pcm = text.encode()[:WAV_N].ljust(WAV_N, b" ")
        s = [b - 128 for b in pcm]
        for fi in range(WAV_N // SPEC_FRAME):
            seg = s[fi * SPEC_FRAME:(fi + 1) * SPEC_FRAME]
            pows = []
            for k in range(1, SPEC_FRAME // 2 + 1):
                re = sum(x * round(math.cos(2 * math.pi * k * i / SPEC_FRAME)
                                   * 127) for i, x in enumerate(seg))
                im = sum(x * round(-math.sin(2 * math.pi * k * i / SPEC_FRAME)
                                   * 127) for i, x in enumerate(seg))
                pows.append(re * re + im * im)
            best = max(pows)
            k_dom = 1 + pows.index(best)  # ties → lowest bin
            energy = sum(abs(x) for x in seg)
            assert got[(doc_id, fi)] == (energy, k_dom, best)
            n_checked += 1
    assert n_checked >= 40 * (WAV_N // SPEC_FRAME)


def test_spectrogram_finds_planted_sinusoid(spark):
    """A pure bin-5 sinusoid (quantized to bytes) must dominate bin 5 —
    the fixed-point spectrogram is a real spectrogram, not just a
    deterministic number generator."""
    import math

    from grpc_map_reduce_spark.operators.multimodal import (
        SPEC_FRAME,
        WAV_N,
        attach_wav_media,
        audio_spectrogram,
    )

    # ASCII-range codepoints (single-byte UTF-8) centered at 64: the
    # PCM view (byte-128) carries a DC offset plus a pure bin-5 tone,
    # and DC is excluded from the dominant-bin scan.
    wave = "".join(
        chr(64 + round(60 * math.sin(2 * math.pi * 5 * n / SPEC_FRAME)))
        for n in range(WAV_N)
    )
    df = spark.createDataFrame([(1, wave)], "doc_id long, text string")
    out = audio_spectrogram(attach_wav_media(df)).collect()
    assert len(out) == WAV_N // SPEC_FRAME
    for r in out:
        assert r.dominant_bin == 5 and r.dominant_pow > 0


def test_native_decoder_adapter_contract(spark):
    """Round 9: the one-function native-codec swap point.  A future
    libjpeg/ffmpeg drop-in must satisfy exactly this: installed via
    register_native_decoder it (a) takes over its format ahead of the
    stdlib codec, (b) its quarantine-class failures become countable
    'corrupt' rows with the adapter's error class — never task
    deaths, (c) other formats keep the stdlib path, and (d)
    uninstalling restores stdlib behavior byte-identically."""
    from grpc_map_reduce_spark.functions.png import encode_png
    from grpc_map_reduce_spark.operators import multimodal as M

    png = encode_png(4, 4, 1, bytes(range(16)), filter_type=0)
    rows = [(0, png, ("png", 4, 4, 1)), (1, png, ("fakefmt", 4, 4, 1))]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media binary, "
        "media_meta struct<format:string,width:int,height:int,n_frames:int>",
    )

    def fake_native(payload: bytes) -> bytes:
        if len(payload) < 8:
            raise ValueError("native: truncated")
        return b"N" * 7  # distinguishable from any stdlib decode

    before = {(r.doc_id, r.status, r.n_bytes)
              for r in M.decode_with_quarantine(media).collect()}
    assert (0, "ok", 16) in before                   # stdlib png
    assert (1, "unsupported_format", 0) in before    # no codec

    M.register_native_decoder("fakefmt", fake_native)
    try:
        got = {(r.doc_id, r.status, r.n_bytes)
               for r in M.decode_with_quarantine(media).collect()}
        assert (0, "ok", 16) in got        # stdlib path untouched
        assert (1, "ok", 7) in got         # adapter took the format
        # adapter failures quarantine like any codec failure
        short = spark.createDataFrame(
            [(2, b"xx", ("fakefmt", 1, 1, 1))],
            "doc_id long, media binary, "
            "media_meta struct<format:string,width:int,height:int,n_frames:int>",
        )
        rec = M.decode_with_quarantine(short).collect()[0]
        assert (rec.status, rec.error_class) == ("corrupt", "ValueError")
        # (e) EVERY distributed consumer honors the snapshot, not just
        # the quarantine path (round-9 review finding): features over
        # the adapter's 7-byte decode
        feats = M.extract_features(media.filter("doc_id = 1")).collect()
        assert [r.n_bytes for r in feats] == [7]
    finally:
        M.register_native_decoder("fakefmt", None)
    after = {(r.doc_id, r.status, r.n_bytes)
             for r in M.decode_with_quarantine(media).collect()}
    assert after == before
